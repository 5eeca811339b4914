"""The benchmark's own tests (not part of the package suite):

    python3 -m pytest perfbench/tests -q

The smoke runs start a Spark session per workload and take a few
minutes in total."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _inputs(seed: int):
    sc = gen.SCALES["tiny"]
    tables = gen.serve_tables(seed, sc)
    _, vecs = gen.embeddings(seed, sc.vectors, sc.dim)  # ids are positions
    movies = tables["movie"]
    return (
        tables,
        vecs.tolist(),
        gen.documents(seed, 200),
        gen.serve_ops(seed, [m[0] for m in movies], [m[1] for m in movies], sc.vectors, 300),
        gen.ingest_plan(seed, sc),
    )


def test_same_seed_same_inputs():
    assert _inputs(5) == _inputs(5)


def test_other_seed_other_inputs():
    a, b = _inputs(5), _inputs(6)
    for x, y in zip(a, b):
        assert x != y


def test_serve_tables_follow_fixture_contract():
    t = gen.serve_tables(1, gen.SCALES["tiny"])
    ids = [m[0] for m in t["movie"]]
    assert len(set(ids)) == len(ids) and max(ids) - min(ids) > len(ids)  # non-contiguous
    assert any(m[3] is None for m in t["movie"])  # some NULL rankings
    assert any("一" <= ch <= "鿿" for m in t["movie"] for ch in m[1])  # CJK names
    assert len({o[5][:4] for o in t["order_info"]}) >= 3  # at least 3 years
    assert {r[1] for r in t["review"]} <= set(ids)


def test_corpus_has_near_duplicates_and_gate_survivors():
    from perfbench.oracle import jaccard

    docs = gen.documents(3, 300)
    texts = [d["text"] for d in docs]
    near = sum(1 for i in range(1, len(texts)) if max(jaccard(texts[i], t) for t in texts[:i]) >= 0.7)
    assert 20 <= near <= 120
    english = sum(1 for t in texts if " the " in f" {t} ")
    assert english > len(texts) // 2


def test_benchmark_json_matches_the_runner():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == PER_LAYER
    assert all(m["bound"] <= 0.25 for m in BENCH["end_to_end"])


def _run(workload: str, trace: int, cwd: str = ROOT):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "4", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_emits_every_metric(workload, trace):
    p = _run(workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in want}
    if not trace:
        assert all(v["value"] > 0 for v in res["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("serve", 0, cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
