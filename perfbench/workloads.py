"""The benchmark's workloads: fixed op lists over the engine's public
entry points, each op checked against an oracle outside its timing.

See README.md for why each workload exists and which layers it leaves
idle.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import duckdb
import pandas as pd

from openaq_data_pipeline_engineering_spark.engine import Engine
from openaq_data_pipeline_engineering_spark.observability import execute_with_metrics
from openaq_data_pipeline_engineering_spark.operators.cow import last_cow_stats
from openaq_data_pipeline_engineering_spark.operators.versioned import (
    read_snapshot,
    snapshot_versions,
    write_snapshot,
)
from openaq_data_pipeline_engineering_spark.plans import registry
from openaq_data_pipeline_engineering_spark.plans.mart import MartConfig, build_mart
from openaq_data_pipeline_engineering_spark.sources.json_source import read_ndjson
from tools.diffcheck import TABLES, compare

from perfbench.ingest import RawHours, expected_mart_sql

# Declared queries per read workload. Shuffle-heavy SQL (TPC-H joins,
# windows, the two struct-min dedup conversions) with no Python workers.
WAREHOUSE_READ = (
    "shipping_priority_q3",
    "large_orders_q18",
    "pricing_summary",
    "flagship_daily_topk",
    "dedup_window",
    "dim_extract_dedup",
    "sessionization",
)
# Work in pandas/Arrow UDFs, a UDTF and eager plan-build actions; the
# streaming query runs availableNow inside its plan build.
CORPUS_PYTHON = (
    "simhash_fingerprint",
    "grouped_pandas_stats",
    "udtf_token_stats",
    "multimodal_features",
    "streaming_windowed_counts",
)


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM, Python workers), from /proc."""
    parent, used = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process has just exited
            continue
        parent[int(pid)] = int(fields[1])
        used[int(pid)] = sum(int(x) for x in fields[11:15])  # u/s + children
    mine, me = 0, os.getpid()
    for pid, ticks in used.items():
        p = pid
        while p not in (me, 0, 1) and p in parent:
            p = parent[p]
        if p == me:
            mine += ticks
    return mine / os.sysconf("SC_CLK_TCK")


class Workload:
    """One workload inside one Spark session.

    ``stage`` prepares inputs and ``warm`` runs the untimed first pass
    (both part of set-up); ``pass_ops`` lists the ops of one pass. Each
    op records its latency, its CPU seconds and whether its result was
    right.
    """

    # Nominal seconds of one warm pass on a 4-core host (corpus_python and
    # mart_ingest both take 6 to 8 s): a run measures
    # ceil(--seconds / PASS_S) passes, whatever the code's speed.
    PASS_S = 7.0

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        # (op, latency, CPU seconds) of every op that ran, in run order
        self.log: list[tuple[str, float, float]] = []

    def _outcome(self, name: str, problems: list[str]) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.errors.append(f"{name}: {'; '.join(problems)}"[:500])
        return not problems

    def run_op(self, name: str, body) -> float | None:
        """Run one op; returns its latency, or None when it raised."""
        tr = self.ctx.tracer
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tr.op(name):
                check = body()
                latency = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - an op failure is a result
            self._outcome(name, [f"{type(e).__name__}: {str(e)[:300]}"])
            return None
        cpu = tree_cpu_s() - cpu0
        self._outcome(name, check())
        self.log.append((name, latency, cpu))
        return latency

    def query(self, df_fn, name: str):
        """Build, plan, execute (noop) and collect one DataFrame.

        Returns the collected rows, or the row count when traced (the
        traced transfer goes through ``execute_with_metrics``).
        """
        tr = self.ctx.tracer
        with tr.span("plans") as build:
            df = df_fn()
        if tr.enabled:
            with tr.span("catalyst"):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                seconds = kv._2().durationMs() / 1000.0
                tr.count(f"catalyst.{kv._1()}_s", seconds)
                if kv._1() == "analysis":
                    tr.add_child(build, "catalyst", "analysis", seconds)
        with tr.span("exec"):
            df.write.format("noop").mode("overwrite").save()
        with tr.span("transfer"):
            if tr.enabled:
                n, nodes = execute_with_metrics(df)
            else:
                rows = df.collect()
        if tr.enabled:
            tr.python_nodes(nodes)
            tr.count("transfer.result_rows", n)
            return n
        return pd.DataFrame.from_records(rows, columns=df.columns)


class QueryWorkload(Workload):
    """A fixed list of declared queries from ``plans.registry``."""

    def __init__(self, ctx, names: tuple[str, ...]) -> None:
        super().__init__(ctx)
        self.names = names
        self.sf_dir = os.path.join(ctx.work, "sf")
        self.fns = registry.get_queries()
        self.oracle = self._oracles(registry.get_oracles())

    def _oracles(self, sqls: dict[str, str]) -> dict[str, pd.DataFrame]:
        """Oracle results, computed once in DuckDB before any timing."""
        con = duckdb.connect()
        for t in TABLES:
            p = os.path.join(self.ctx.data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        out = {n: con.execute(sqls[n]).fetchdf() for n in self.names}
        con.close()
        return out

    def stage(self) -> None:
        shutil.copytree(self.ctx.data_dir, self.sf_dir)

    def _op(self, name: str) -> float | None:
        spark, fn = self.ctx.spark, self.fns[name]
        result = None

        def body():
            nonlocal result
            result = self.query(lambda: fn(spark, self.sf_dir), name)
            return check

        def check() -> list[str]:
            want = self.oracle[name]
            if isinstance(result, int):
                ok = result == len(want)
                return [] if ok else [f"rows {result} != oracle {len(want)}"]
            return compare(name, result, want)

        return self.run_op(name, body)

    def warm(self) -> None:
        for name in self.names:
            self._op(name)

    def pass_ops(self, rng, record: bool = True):
        order = list(self.names)
        rng.shuffle(order)
        return [(name, lambda name=name: self._op(name)) for name in order]

    def finish(self) -> dict[str, float]:
        return {}


class MartIngest(Workload):
    """The hourly pipeline: land a raw hour, parse, build the mart rows,
    MERGE them into the versioned mart, then read it back."""

    RETAIN = 3  # versions VACUUM keeps
    LOCATIONS = 300  # per raw hour, about 1900 records

    def __init__(self, ctx) -> None:
        super().__init__(ctx)
        self.gen = RawHours(ctx.seed, self.LOCATIONS)
        self.landing = os.path.join(ctx.work, "landing")
        self.raw_zone = os.path.join(ctx.work, "raw")
        self.root = os.path.join(ctx.work, "mart")
        self.cfg = MartConfig()
        self.eng = None
        self.hour = 0
        self.landed: list[str] = []
        self.raw_records = 0  # of the staged hour
        self.rows_at: dict[int, int] = {}  # version -> rows it holds
        self.freshness: list[float] = []
        self.fresh_records = 0

    def stage(self) -> None:
        os.makedirs(self.landing)
        os.makedirs(self.raw_zone)
        self.eng = Engine(self.ctx.spark)

    def _staged(self, h: int) -> str:
        return os.path.join(self.landing, f"h{h:04d}.json")

    def _generate(self, h: int) -> None:
        """Write hour ``h``'s raw file to the landing directory (untimed)."""
        text, self.raw_records = self.gen.hour_ndjson(h)
        with open(self._staged(h), "w") as f:
            f.write(text)

    def _land(self, h: int) -> str:
        """Atomic rename of the staged hour into the raw zone."""
        d = os.path.join(self.raw_zone, f"h={h:04d}")
        os.makedirs(d)
        dest = os.path.join(d, "part-00000.json")
        os.rename(self._staged(h), dest)
        self.landed.append(dest)
        return d

    def _rows_through(self, h: int) -> int:
        return (h + 1) * len(self.gen.locations)

    def _record_versions(self, before: set[int], h: int) -> None:
        """New versions of one hour: OPTIMIZE's hold the previous rows,
        the MERGE's (the newest) holds this hour's too."""
        new = sorted(set(snapshot_versions(self.root)) - before)
        for v in new[:-1]:
            self.rows_at[v] = self._rows_through(h - 1)
        if new:
            self.rows_at[new[-1]] = self._rows_through(h)

    def warm(self) -> None:
        spark = self.ctx.spark
        self._generate(0)
        d = self._land(0)
        write_snapshot(build_mart(read_ndjson(spark, d), self.cfg), self.root)
        self.rows_at[snapshot_versions(self.root)[-1]] = self._rows_through(0)
        self.hour = 1
        for _name, op in self._hour_ops(record=False):
            op()

    def pass_ops(self, rng, record: bool = True):
        """One hour's ops; ``record`` counts its ingest in freshness."""
        return self._hour_ops(record)

    def _hour_ops(self, record: bool):
        h = self.hour
        self.hour += 1
        self._generate(h)
        return [
            ("ingest", lambda: self._ingest(h, record)),
            ("analyst", lambda: self._analyst(h)),
            ("time_travel", lambda: self._time_travel()),
        ]

    # -- ops -------------------------------------------------------------
    def _ingest(self, h: int, record: bool) -> float | None:
        tr, spark, eng = self.ctx.tracer, self.ctx.spark, self.eng
        before = set(snapshot_versions(self.root))

        def body():
            with tr.span("sources", "land"):
                d = self._land(h)
            # hourly maintenance before the merge, so it counts in freshness
            with tr.span("versioned", "optimize"):
                eng.sql(f"OPTIMIZE '{self.root}'").collect()
            with tr.span("versioned", "vacuum"):
                eng.sql(
                    f"VACUUM '{self.root}' RETAIN {self.RETAIN} VERSIONS"
                ).collect()
            with tr.span("sources", "read_ndjson"):
                raw = read_ndjson(spark, d)
            with tr.span("plans", "build_mart"):
                build_mart(raw, self.cfg).createOrReplaceTempView("mart_hour")
            with tr.span("versioned", "merge"):
                eng.sql(
                    f"MERGE INTO '{self.root}' AS t USING mart_hour AS s "
                    "ON t.location_id = s.location_id AND t.datetime = s.datetime "
                    "WHEN MATCHED THEN UPDATE SET * "
                    "WHEN NOT MATCHED THEN INSERT *"
                )
            return lambda: []

        latency = self.run_op("ingest", body)
        self._record_versions(before, h)
        if latency is not None and record and not tr.enabled:
            self.freshness.append(latency)
            self.fresh_records += self.raw_records
        if tr.enabled:
            stats = last_cow_stats(self.root) or {}
            tr.count("versioned.files_written", stats.get("files_rewritten", 0))
            tr.count("versioned.files_carried", stats.get("files_carried", 0))
            tr.count("versioned.bytes_written", stats.get("bytes_rewritten", 0))
            tr.count("versioned.user_bytes", os.path.getsize(self.landed[-1]))
        return latency

    def _analyst(self, h: int) -> float | None:
        tr = self.ctx.tracer
        result = None
        sql = (
            "SELECT city_name, country_code, CAST(count(*) AS BIGINT) AS n_obs, "
            "avg(pm25) AS avg_pm25, max(pm10) AS max_pm10 "
            "FROM mart GROUP BY city_name, country_code"
        )

        def body():
            nonlocal result
            with tr.span("versioned", "resolve_latest"):
                self.eng.register_versioned("mart", self.root)
            result = self.query(lambda: self.eng.sql(sql), "analyst")
            return check

        def check() -> list[str]:
            want = self._rows_through(h)
            if isinstance(result, int):
                return [] if result > 0 else ["analyst query returned no rows"]
            got = int(result["n_obs"].sum())
            return [] if got == want else [f"latest holds {got} rows, want {want}"]

        latency = self.run_op("analyst", body)
        if tr.enabled:
            tr.count("versioned.read_files",
                     len(read_snapshot(self.ctx.spark, self.root).inputFiles()))
        return latency

    def _time_travel(self) -> float | None:
        version = snapshot_versions(self.root)[0]
        result = None
        sql = (
            "SELECT CAST(count(*) AS BIGINT) AS n, "
            "CAST(count(DISTINCT location_id) AS BIGINT) AS locations "
            f"FROM mart VERSION AS OF {version}"
        )

        def body():
            nonlocal result
            result = self.query(lambda: self.eng.sql(sql), "time_travel")
            return check

        def check() -> list[str]:
            if isinstance(result, int):
                return [] if result == 1 else [f"{result} rows, want 1"]
            got = (int(result["n"][0]), int(result["locations"][0]))
            want = (self.rows_at.get(version), len(self.gen.locations))
            return [] if got == want else [f"v{version}: {got} != {want}"]

        return self.run_op("time_travel", body)

    def finish(self) -> dict[str, float]:
        """Check the final snapshot against DuckDB; storage figures."""
        spark = self.ctx.spark
        got = read_snapshot(spark, self.root).toPandas()
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        want = con.execute(expected_mart_sql(self.landed)).fetchdf()
        con.close()
        self._outcome("final_snapshot", compare("mart", got, want))
        out = {
            "mart.freshness_p50_s": _median(self.freshness),
            "mart.freshness_max_s": max(self.freshness, default=0.0),
            "mart.ingest_rows_per_s": (
                self.fresh_records / sum(self.freshness) if self.freshness else 0.0
            ),
            "versioned.versions_live": float(len(snapshot_versions(self.root))),
        }
        copy = os.path.join(self.ctx.work, "compacted")
        read_snapshot(spark, self.root).coalesce(1).write.parquet(copy)
        out["mart.storage_amplification"] = _tree_bytes(self.root) / _tree_bytes(copy)
        return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def make(name: str, ctx) -> Workload:
    if name == "warehouse_read":
        return QueryWorkload(ctx, WAREHOUSE_READ)
    if name == "corpus_python":
        return QueryWorkload(ctx, CORPUS_PYTHON)
    if name == "mart_ingest":
        return MartIngest(ctx)
    raise ValueError(f"unknown workload {name!r}")
