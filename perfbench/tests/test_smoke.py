"""Tiny-size runs of every workload, untraced and traced, in fresh
interpreters (each run starts and stops its own Spark JVM).

Run with:  python -m pytest perfbench/tests -q   (a few minutes)
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench.report import RECONCILE_TOLERANCE  # noqa: E402
from perfbench.run import END_TO_END_UNITS  # noqa: E402

TINY = ("Sizes(bulk_sf=0.002, skew_doc=False, warmup_jobs=1, warmup_cycles=1, "
        "min_ops=4, prep_repeats=1, ingest_docs=3, step_lookups=2, "
        "compact_every=2)")


def _run_tiny(workload: str, trace: bool) -> dict:
    code = ("import sys; from perfbench import run, workloads; "
            f"sys.exit(run.run({workload!r}, 3, 2.0, {trace}, "
            f"sizes=workloads.{TINY}))")
    p = subprocess.run([sys.executable, "-c", code], cwd=ROOT, text=True,
                       capture_output=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _benchmark_json() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


WORKLOADS = ["bulk_sql", "ingest_lookup"]


def test_benchmark_json_names_the_workloads():
    from perfbench.workloads import WORKLOADS as defined
    assert [w["name"] for w in _benchmark_json()["workloads"]] == WORKLOADS
    assert sorted(defined) == sorted(WORKLOADS)


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_reports_every_end_to_end_metric(workload):
    res = _run_tiny(workload, trace=False)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    names = {m["name"]: m["unit"] for m in _benchmark_json()["end_to_end"]}
    assert names == END_TO_END_UNITS
    assert {k: v["unit"] for k, v in res["metrics"].items()} == names
    assert all(v["value"] > 0 for v in res["metrics"].values())
    assert res["metrics"]["ok_frac"]["value"] == 1.0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_traced_run_reports_every_layer_metric(workload):
    res = _run_tiny(workload, trace=True)
    assert res["correct"]
    names = {m["name"]: m["unit"] for m in _benchmark_json()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == names
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert 0 < m["trace.unattributed_frac"] <= RECONCILE_TOLERANCE
    assert m["pipeline.parse.task_s"] > 0
    assert m["icelite.open_ms"] > 0 and m["icelite.lookup_tasks"] > 0
    if workload == "bulk_sql":  # sql engine: no Python worker
        assert m["pipeline.parse.python_bytes_in"] == 0
        assert m["job.commits"] == 3 and m["stream.batch_ms"] == 0
    else:  # arrow engine behind the stream
        assert m["pipeline.parse.python_bytes_in"] > 0
        assert m["stream.batch_ms"] > 0 and m["icelite.compact_s"] > 0
        assert m["job.commits"] == 0


def test_fails_without_the_program(tmp_path):
    """Only BENCHMARK.json and the benchmark's own files: non-zero exit,
    no result line."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                        "bulk_sql", "--seed", "1", "--seconds", "1",
                        "--trace", "0"],
                       cwd=tmp_path, text=True, capture_output=True, timeout=180)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
