"""Spans and per-layer counters for the traced benchmark run.

A span is recorded around every call the benchmark makes into one of the
engine's layers. Spans live in memory and are written once, when the
run ends. Spark work inside a span is attributed through a per-span job
group: after each op the benchmark reads the jobs of every group from
``statusTracker`` and their stage metrics from the status store.

The untraced run uses ``NullTracer``: the same code path, with spans that
cost one method call.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

# Layers named after the engine's modules (see README.md). "bench" is the
# benchmark's own time inside an op: result checks and bookkeeping.
LAYERS = (
    "engine", "sources", "plans", "catalyst", "exec", "functions",
    "transfer", "versioned", "streaming", "bench",
)

# Metric keys the engine's Python exec nodes carry (FlatMapGroupsInPandas,
# ArrowEvalPython, MapInArrow, the UDTF nodes, ...).
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"
_PY_RUN_MS = "time to run Python workers"


@dataclass
class Span:
    op_id: int
    span_id: int
    parent_id: int | None
    layer: str
    name: str
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def duration(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans are free, no job groups, no counters."""

    enabled = False

    def op(self, name: str):
        return contextlib.nullcontext()

    def span(self, layer: str, name: str = ""):
        return contextlib.nullcontext()

    def add_child(self, parent, layer: str, name: str, seconds: float) -> None:
        pass

    def count(self, key: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    """Tracing on: records spans and sums per-layer counters."""

    enabled = True

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._op_ids = itertools.count(1)
        self._stack: list[Span] = []
        self.listener = StreamingCollector()
        spark.streams.addListener(self.listener)

    # -- spans -------------------------------------------------------------
    @contextlib.contextmanager
    def op(self, name: str):
        """Root span of one op; every span below it shares its op id."""
        op_id = next(self._op_ids)
        self.listener.mark()
        with self._span(op_id, "bench", name) as root:
            yield root
        self._collect_op(op_id)

    def span(self, layer: str, name: str = ""):
        parent = self._stack[-1]
        return self._span(parent.op_id, layer, name or layer)

    @contextlib.contextmanager
    def _span(self, op_id: int, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(op_id, next(self._ids), parent.span_id if parent else None,
                 layer, name, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"perfbench-{s.span_id}", f"{layer}:{name}")
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent.span_id}",
                                    f"{parent.layer}:{parent.name}")
            else:
                self.sc._jsc.clearJobGroup()

    def add_child(self, parent: Span, layer: str, name: str,
                  seconds: float) -> None:
        """Carve an interval the engine measured itself out of ``parent``.

        Used for time spent inside one call the benchmark cannot split
        further: Catalyst's analysis phase and streaming micro-batches,
        both inside plan build. The child is capped at the parent's
        uncovered time, so self times still add up to the op's wall.
        """
        covered = sum(c.duration for c in self.spans
                      if c.parent_id == parent.span_id)
        seconds = max(0.0, min(seconds, parent.duration - covered))
        self.spans.append(Span(parent.op_id, next(self._ids), parent.span_id,
                               layer, name, parent.end - seconds, parent.end))

    def count(self, key: str, value: float) -> None:
        self.counters[key] += value

    # -- per-op collection (outside the op's spans) -------------------------
    def _collect_op(self, op_id: int) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if s.op_id != op_id:
                continue
            s.jobs = list(tracker.getJobIdsForGroup(f"perfbench-{s.span_id}"))
            if s.layer == "plans":
                self.count("plans.eager_jobs", len(s.jobs))
            if s.layer == "transfer":
                # collect() re-runs the plan the noop write already ran;
                # counting its jobs again would double the exec figures.
                continue
            self.count("exec.jobs", len(s.jobs))
            for job in s.jobs:
                info = tracker.getJobInfo(job)
                for sid in info.stageIds if info else ():
                    self._count_stage(store, sid, s.layer)
        streamed = self.listener.take()
        for kind, value in streamed.items():
            self.count(kind, value)
        builds = [s for s in self.spans if s.op_id == op_id and s.layer == "plans"]
        if builds and streamed.get("streaming.batch_s"):
            # availableNow runs happen inside the query callable's build
            self.add_child(max(builds, key=lambda s: s.duration), "streaming",
                           "micro-batches", streamed["streaming.batch_s"])

    def _count_stage(self, store, stage_id: int, layer: str) -> None:
        try:
            st = store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - py4j: stage never attempted
            return
        if str(st.status()) != "COMPLETE":
            return
        run_s = st.executorRunTime() / 1000.0
        self.count("exec.stages", 1)
        self.count("exec.tasks", st.numCompleteTasks())
        self.count("exec.task_run_s", run_s)
        self.count("exec.task_cpu_s", st.executorCpuTime() / 1e9)
        self.count("exec.gc_s", st.jvmGcTime() / 1000.0)
        self.count("exec.shuffle_write_bytes", st.shuffleWriteBytes())
        self.count("exec.shuffle_read_bytes", st.shuffleReadBytes())
        self.count("exec.spill_bytes", st.diskBytesSpilled())
        self.count("sources.input_bytes", st.inputBytes())
        self.count("sources.input_rows", st.inputRecords())
        if layer == "exec":
            self.count("exec.busy_task_s", run_s)

    def python_nodes(self, nodes) -> None:
        """Count the SQL metrics of the plan's Python exec nodes, as
        returned by ``observability.execute_with_metrics``."""
        for nm in nodes:
            if _PY_SENT not in nm.metrics:
                continue
            self.count("functions.python_rows",
                       nm.metrics.get("number of output rows", 0))
            self.count("functions.bytes_to_python", nm.metrics[_PY_SENT])
            self.count("functions.bytes_from_python",
                       nm.metrics.get(_PY_RETURNED, 0))
            self.count("functions.worker_s",
                       nm.metrics.get(_PY_RUN_MS, 0) / 1000.0)

    # -- summaries -----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per-layer self time: span duration minus its children's."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent_id is not None:
                child[s.parent_id] += s.duration
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            out[s.layer] += s.duration - child[s.span_id]
        return out

    def layer_time(self, layer: str, name: str | None = None) -> float:
        return sum(s.duration for s in self.spans
                   if s.layer == layer and (name is None or s.name == name))

    def op_wall(self) -> float:
        return sum(s.duration for s in self.spans if s.parent_id is None)

    def dump(self) -> list[dict]:
        return [
            {"op": s.op_id, "id": s.span_id, "parent": s.parent_id,
             "layer": s.layer, "name": s.name, "start": s.start,
             "end": s.end, "jobs": s.jobs}
            for s in self.spans
        ]


class StreamingCollector(StreamingQueryListener):
    """Sums micro-batch progress of every streaming query the engine runs.

    Events arrive asynchronously, on py4j callback threads, so ``take``
    waits (briefly) until every query started since ``mark`` has reported
    its termination.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._started = 0
        self._terminated = 0
        self._progress: list = []

    def mark(self) -> None:
        with self._lock:
            self._started = self._terminated = 0
            self._progress = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._started += 1

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self._progress.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated += 1

    def _pending(self) -> bool:
        with self._lock:
            return self._terminated < self._started

    def take(self, timeout: float = 5.0) -> dict[str, float]:
        deadline = time.monotonic() + timeout
        while self._pending() and time.monotonic() < deadline:
            time.sleep(0.01)
        with self._lock:
            progress = self._progress
        last_rows: dict[str, int] = {}
        out = defaultdict(float)
        for p in progress:
            out["streaming.batches"] += 1
            out["streaming.batch_s"] += p.durationMs.get("triggerExecution", 0) / 1000.0
            out["streaming.input_rows"] += p.numInputRows
            for i, so in enumerate(p.stateOperators):
                out["streaming.state_commit_s"] += so.commitTimeMs / 1000.0
                last_rows[f"{p.id}/{i}"] = so.numRowsTotal
        out["streaming.state_rows"] = float(sum(last_rows.values()))
        self.mark()
        return dict(out)
