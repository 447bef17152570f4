"""End-to-end benchmark of the engine, one workload per invocation.

    python3 perfbench/run.py --workload corpus_python --seed 1 --seconds 7 --trace 0

One process, one closed-loop client, ``local[<nproc>]``. A run
starts the engine's session, stages its inputs and makes two untimed
passes over the workload's op list, a cold one and one in which the JIT
still settles (all of that is set-up, ``setup_s``), then runs a fixed
number of measured passes: ``--seconds`` divided by the nominal pass
time (``PASS_S``), so the work measured depends on ``--seconds`` only,
never on how fast the code is. Every op result is checked against an
oracle computed outside the timed loop.

The gated metrics are CPU seconds of this process and its descendants
(the JVM, the Python workers), which a shared host's steal leaves
nearly unchanged; wall latencies go to the run record (README.md).

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics (see
README.md). The last stdout line is the result JSON; the line before it
is the run record, also written under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import random
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "openaq_data_pipeline_engineering_spark"
DATA = os.path.join(HERE, "data", "sf0.001")
DRIVER_MEM = "1g"
# Start no new pass past this many seconds of the run, so that a run on a
# host several times slower than usual still ends within three minutes.
# Never reached on a 4-core host at normal speed.
GUARD_S = 130.0


@dataclass
class Ctx:
    """What every workload needs: the session, where to work, the seed."""

    work: str
    data_dir: str
    seed: int
    tracer: object
    spark: object = None


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def _cpu_jiffies() -> list[int]:
    """The machine's CPU time counters (user, nice, system, idle, iowait,
    irq, softirq, steal, ...) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(start: list[int]) -> float:
    """Share of CPU time since ``start`` that a hypervisor gave to other
    guests: a shared host's noise, which slows every timing here."""
    d = [b - a for a, b in zip(start, _cpu_jiffies())]
    return round(d[7] / sum(d), 3) if sum(d) else 0.0


def _isolate(work: str) -> None:
    """Keep every file the run writes under ``work``; set the benchmark
    session's own confs before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # The engine's heap knob, sized to the workload as engine.get_spark
    # asks: its 16g default is more than a 15 GB host has (README.md).
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # Both JVMs (spark-submit's launcher and Spark's): temp files under
    # work, and no hsperfdata file in the system /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "pyspark-shell",
    ])


def _peak_rss_mb(spark) -> float:
    """Peak RSS of this Python process plus the JVM, from /proc."""
    def hwm(pid) -> float:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    return hwm("self") + hwm(spark._jvm.ProcessHandle.current().pid())


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _tail(values: list[float]) -> float:
    """The 75th percentile (see README.md for why not higher)."""
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=4)[2]


def _by_op(log) -> dict[str, list[float]]:
    """Median latency and CPU seconds per op name."""
    by: dict[str, list[tuple[float, float]]] = {}
    for name, latency, cpu in log:
        by.setdefault(name, []).append((latency, cpu))
    return {
        k: [round(statistics.median(x[i] for x in v), 4) for i in (0, 1)]
        for k, v in by.items()
    }


def _layer_metrics(tracer, extra, n_passes, session_s, nproc, overhead):
    c, per = tracer.counters, (lambda x: x / n_passes)
    action_s = tracer.layer_time("exec")
    out = {
        "engine.session_s": session_s,
        "sources.read_s": per(tracer.layer_time("sources")),
        "plans.build_s": per(tracer.layer_time("plans")),
        "exec.action_s": per(action_s),
        "exec.core_busy_ratio": (
            c["exec.busy_task_s"] / (action_s * nproc) if action_s else 0.0
        ),
        "transfer.collect_s": per(tracer.layer_time("transfer")),
        "versioned.merge_s": per(tracer.layer_time("versioned", "merge")),
        "versioned.maintenance_s": per(
            tracer.layer_time("versioned", "optimize")
            + tracer.layer_time("versioned", "vacuum")
        ),
        "versioned.carry_ratio": (
            c["versioned.files_carried"]
            / (c["versioned.files_carried"] + c["versioned.files_written"])
            if c["versioned.files_written"] else 0.0
        ),
        "versioned.bytes_written_per_user_byte": (
            c["versioned.bytes_written"] / c["versioned.user_bytes"]
            if c["versioned.user_bytes"] else 0.0
        ),
        "streaming.rows_per_s": (
            c["streaming.input_rows"] / c["streaming.batch_s"]
            if c["streaming.batch_s"] else 0.0
        ),
        "trace.op_wall_s": per(tracer.op_wall()),
        "trace.overhead_s": overhead,
    }
    for key in (
        "sources.input_bytes", "sources.input_rows", "plans.eager_jobs",
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
        "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_write_bytes",
        "exec.shuffle_read_bytes", "exec.spill_bytes",
        "functions.python_rows", "functions.bytes_to_python",
        "functions.bytes_from_python", "functions.worker_s",
        "transfer.result_rows", "versioned.files_written",
        "versioned.read_files", "streaming.batches", "streaming.batch_s",
        "streaming.state_commit_s", "streaming.state_rows",
    ):
        out[key] = per(c[key])
    for layer, seconds in tracer.self_times().items():
        # no spans: session start is engine.session_s, and Python kernels
        # run inside executor tasks (functions.worker_s)
        if layer not in ("engine", "functions"):
            out[f"{layer}.self_s"] = per(seconds)
    out.update({
        "mart.freshness_p50_s": 0.0, "mart.freshness_max_s": 0.0,
        "mart.ingest_rows_per_s": 0.0, "mart.storage_amplification": 0.0,
        "versioned.versions_live": 0.0,
    })
    out.update(extra)
    return out


def run(args, work: str, spec: dict) -> tuple[dict, dict, list]:
    from perfbench import workloads
    from perfbench.spans import NullTracer, Tracer

    from openaq_data_pipeline_engineering_spark.engine import get_spark

    nproc = _nproc()
    null = NullTracer()
    ctx = Ctx(work=work, data_dir=DATA, seed=args.seed, tracer=null)
    wl = workloads.make(args.workload, ctx)  # loads oracles: untimed
    passes = max(1, math.ceil(args.seconds / wl.PASS_S))

    t0, cpu0 = time.perf_counter(), workloads.tree_cpu_s()
    phases = {"before_session": t0 - args.t_start}
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        ctx.spark = spark
        wl.stage()
        wl.warm()
        n_warm = len(wl.log)
        rng = random.Random(args.seed)
        # JIT compilation goes on through the pass after the cold one: its
        # ops use 20 to 40% more CPU than those of the pass after it. So it
        # is set-up too, untimed.
        for _name, op in wl.pass_ops(rng, record=False):
            op()
        n_settle = len(wl.log)
        setup_s = workloads.tree_cpu_s() - cpu0
        phases["setup"] = time.perf_counter() - t0

        tracer = Tracer(spark) if args.trace else None
        walls = {False: [], True: []}  # summed op latency of each pass
        cpus: list[float] = []  # summed op CPU seconds of each untraced pass
        samples: list[tuple[str, float, float]] = []  # untraced ops
        # a traced run alternates untraced and traced passes
        truncated = False
        for i in range(passes * (1 + args.trace)):
            if i >= 1 + args.trace and time.perf_counter() - args.t_start > GUARD_S:
                truncated = True
                break
            traced = bool(args.trace) and i % 2 == 1
            ctx.tracer = tracer if traced else null
            n0 = len(wl.log)
            for _name, op in wl.pass_ops(rng):
                op()
            ran = wl.log[n0:]
            walls[traced].append(sum(x[1] for x in ran))
            if not traced:
                cpus.append(sum(x[2] for x in ran))
                samples.extend(ran)
        t_finish = time.perf_counter()
        phases["measure"] = t_finish - t0 - phases["setup"]
        ctx.tracer = tracer or null
        extra = wl.finish()
        ctx.tracer = null
        phases["finish"] = time.perf_counter() - t_finish
        peak = _peak_rss_mb(spark)
        spark_version = spark.version
    finally:
        _stop(spark)
    phases["session"] = session_s
    phases["total"] = time.perf_counter() - args.t_start

    e2e = {
        "setup_s": setup_s,
        "cpu_s": statistics.median(cpus),
        "peak_rss_mb": peak,
    }
    # Wall times, in the record only: a shared host's steal moves them
    # far more than the code does (README.md, "Host noise").
    op_wall = [x[1] for x in samples]
    latency = {
        "setup_s": phases["setup"],
        "wall_s": statistics.median(walls[False]),
        "query_p50_s": statistics.median(op_wall),
        "query_tail_p75_s": _tail(op_wall),
    }
    if args.trace:
        overhead = statistics.median(walls[True]) - latency["wall_s"]
        metrics = _layer_metrics(tracer, extra, len(walls[True]), session_s,
                                 nproc, overhead)
        wanted = spec["per_layer"]
        spans = tracer.dump()
    else:
        metrics = dict(e2e)
        wanted = spec["end_to_end"]
        spans = []
    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in wanted
        },
    }
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "nproc": nproc, "driver_mem": DRIVER_MEM,
        "python": platform.python_version(), "spark": spark_version,
        "passes": len(walls[False]) + len(walls[True]),
        "passes_planned": passes * (1 + args.trace),
        "truncated": truncated,
        "op_samples": len(samples),
        "pass_walls": [round(w, 4) for w in walls[False]],
        "pass_cpu_s": [round(c, 2) for c in cpus],
        "phases_s": {k: round(v, 3) for k, v in phases.items()},
        "error_rate": wl.failed / wl.attempted if wl.attempted else 1.0,
        "errors": wl.errors[:5],
        "warm_ops": _by_op(wl.log[:n_warm]),
        "settle_ops": _by_op(wl.log[n_warm:n_settle]),
        "ops": _by_op(wl.log[n_settle:]),
        "end_to_end": e2e,
        "latency": latency,
        "layers": metrics if args.trace else extra,
    }
    return result, record, spans


def main(argv=None) -> int:
    args = _parse(argv)
    args.t_start = time.perf_counter()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "engine.py")):
        print(f"perfbench: the engine package {PACKAGE}/ is not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    with open(spec_path) as f:
        spec = json.load(f)
    started = {"loadavg_start": _loadavg(), "started_unix": time.time()}
    jiffies = _cpu_jiffies()
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    sys.path.insert(0, ROOT)
    try:
        _isolate(work)
        result, record, spans = run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # other runs may still use it
            os.rmdir(os.path.dirname(work))
    record = {**started, **record, "loadavg_end": _loadavg(),
              "steal_share": _steal_share(jiffies)}
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, stem + ".json"), "w") as f:
        json.dump({"record": record, "result": result, "spans": spans}, f)
    print(json.dumps({"record": record}, default=float))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
