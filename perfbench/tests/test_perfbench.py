"""Self-test of the benchmark: every workload at sf0.001 with two ops and
a 20-location ingest hour, one measured pass each.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
# Two ops per read workload and 20-location ingest hours; --seconds 0
# measures one pass.
TINY = (
    "from perfbench import workloads\n"
    "workloads.WAREHOUSE_READ = workloads.WAREHOUSE_READ[:2]\n"
    "workloads.CORPUS_PYTHON = workloads.CORPUS_PYTHON[:2]\n"
    "workloads.MartIngest.LOCATIONS = 20\n"
)


def _run(workload: str, trace: int = 0, prelude: str = ""):
    args = ["--workload", workload, "--seed", "3", "--seconds", "0",
            "--trace", str(trace)]
    cmd = [sys.executable, "-c",
           TINY + prelude + "from perfbench.run import main\n"
           "raise SystemExit(main(__import__('sys').argv[1:]))", *args]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def _units(result) -> dict[str, str]:
    return {k: v["unit"] for k, v in result["metrics"].items()}


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics_printed_and_correct(workload):
    record, result = _run(workload)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["errors"]
    assert record["error_rate"] == 0
    assert _units(result) == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for key in ("nproc", "loadavg_start", "loadavg_end", "spark", "python", "seed"):
        assert key in record


@pytest.mark.parametrize("workload,layers", [
    ("corpus_python", ("functions.python_rows", "functions.bytes_to_python",
                       "plans.build_s", "exec.tasks")),
    ("mart_ingest", ("versioned.merge_s", "versioned.files_written",
                     "versioned.read_files", "sources.read_s",
                     "mart.storage_amplification")),
])
def test_traced_run_reports_layers_that_add_up(workload, layers):
    record, result = _run(workload, trace=1)
    assert result["correct"], record["errors"]
    assert _units(result) == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    values = {k: v["value"] for k, v in result["metrics"].items()}
    assert all(values[k] > 0 for k in layers), {k: values[k] for k in layers}
    self_s = sum(v for k, v in values.items() if k.endswith(".self_s"))
    assert self_s == pytest.approx(values["trace.op_wall_s"], rel=1e-6)
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"{workload}-seed3-trace1.json")) as f:
        spans = json.load(f)["spans"]
    for root in (s for s in spans if s["parent"] is None):
        mine = [s for s in spans if s["op"] == root["op"]]
        assert {s["op"] for s in mine} == {root["op"]}
        children = sum(s["end"] - s["start"] for s in mine
                       if s["parent"] == root["id"])
        assert children <= root["end"] - root["start"] + 1e-9


def test_wrong_result_is_caught():
    prelude = (
        "from pyspark.sql import functions as F\n"
        "from openaq_data_pipeline_engineering_spark.plans import registry\n"
        "registry._load_all()\n"
        "q = registry.QUERIES['shipping_priority_q3']\n"
        "orig = q.fn\n"
        "def wrong(spark, sf):\n"
        "    df = orig(spark, sf)\n"
        "    c = [f.name for f in df.schema.fields\n"
        "         if f.dataType.typeName() == 'double'][0]\n"
        "    return df.withColumn(c, F.col(c) + 0.01)\n"
        "q.fn = wrong\n"
    )
    record, result = _run("warehouse_read", prelude=prelude)
    assert not result["correct"]
    assert result["failed"] >= 1
    assert any(e.startswith("shipping_priority_q3") for e in record["errors"])


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "warehouse_read",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
