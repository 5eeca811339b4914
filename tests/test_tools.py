"""Every ``tools/*.py`` script imports cleanly, so a renamed or deleted
engine name fails here instead of at the script's next manual run; and
``tools/measure.py`` is the one measurement path, with the run
semantics its callers rely on."""

from __future__ import annotations

import ast
import importlib.util
import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from conftest import SF_DIR

REPO = Path(__file__).resolve().parents[1]
TOOLS = sorted((REPO / "tools").glob("*.py"))


@pytest.mark.parametrize("path", TOOLS, ids=[p.stem for p in TOOLS])
def test_tool_imports(path):
    spec = importlib.util.spec_from_file_location(f"tools_{path.stem}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))


def test_one_measurement_path():
    """Among bench.py and the tools, only ``tools/measure.py`` drops the
    session cache between runs or pins the workers' PYTHONPATH (names
    in docstrings and comments do not count)."""
    sites = set()
    for path in [REPO / "bench.py", *TOOLS]:
        for node in ast.walk(ast.parse(path.read_text())):
            clears_cache = (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "clearCache"
            )
            pins_workers = isinstance(node, (ast.Assign, ast.AugAssign)) and any(
                isinstance(t, ast.Subscript)
                and ast.unparse(t.value) == "os.environ"
                and isinstance(t.slice, ast.Constant)
                and t.slice.value == "PYTHONPATH"
                for t in (node.targets if isinstance(node, ast.Assign) else [node.target])
            )
            if clears_cache or pins_workers:
                sites.add(path.relative_to(REPO).as_posix())
    assert sites == {"tools/measure.py"}


@pytest.fixture(scope="module")
def measure():
    sys.path.insert(0, str(REPO / "tools"))
    import measure

    return measure


def test_run_drops_the_cache(spark, measure):
    """documents_winnowing_pairs persist()s an intermediate; after
    ``run`` the session holds no cached plan, so a second run cannot
    read the first one's blocks."""
    from hive_hdfs_practise_spark import plans

    cache = spark._jsparkSession.sharedState().cacheManager()
    plans.QUERIES["documents_winnowing_pairs"](spark, SF_DIR).collect()
    assert not cache.isEmpty()
    spark.catalog.clearCache()
    record, rows = measure.run(spark, "documents_winnowing_pairs", SF_DIR)
    assert cache.isEmpty()
    assert len(record["runs"]) == 2 and record["wall_s"] == min(r["wall_s"] for r in record["runs"])
    assert rows is not None


def test_run_records_compiles(spark, measure):
    """Each run's record carries its Janino compiles and their time;
    a repeat of the same plan hits the compile cache."""
    record, _ = measure.run(spark, "q6_forecast_revenue", SF_DIR, runs=2)
    first, second = record["runs"]
    for cost in record["runs"]:
        assert isinstance(cost["compiles"], int) and cost["compiles"] >= 0
        assert isinstance(cost["compile_ms"], float) and cost["compile_ms"] >= 0
    assert second["compiles"] <= first["compiles"]


def test_run_counts_micro_batch_jobs(spark, measure):
    """The micro-batch thread does not inherit the job group; its jobs
    run while the builder waits for the stream, and are still costed."""
    record, _ = measure.run(spark, "stream_hourly_tumbling", SF_DIR, runs=1)
    cost = record["runs"][0]
    assert cost["jobs_build"] >= 1
    assert cost["jobs_action"] >= 1
    assert cost["exec_cpu_ms"] > 0


def test_run_timeout_gives_up_without_raising(spark, measure):
    record, _ = measure.run(spark, "documents_winnowing_pairs", SF_DIR, timeout_s=0.2)
    assert record["wall_s"] is None
    record, rows = measure.run(spark, "q6_forecast_revenue", SF_DIR, runs=1, timeout_s=600)
    assert record["wall_s"] is not None and len(rows) == 1


def test_time_measures_its_own_tree_from_any_cwd(tmp_path):
    """Started outside the repo with no PYTHONPATH, the tool's Python
    workers still import this checkout (dedup_semdedup's UDF imports
    the package in the workers)."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_SF_DIR"] = SF_DIR
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "measure.py"), "time", "--runs", "1", "dedup_semdedup"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    records = [json.loads(line) for line in out.stdout.splitlines() if line.startswith("{")]
    assert [r["query"] for r in records] == ["dedup_semdedup"]
    assert records[0]["runs"][0]["exec_cpu_ms"] > 0
