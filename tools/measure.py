"""The one place that runs a registry query for measurement: session
set-up, warm-up, timed runs with engine counters, and plan capture.
bench.py, check_oracle.py, scaling_run.py and snapshot_schemas.py go
through it.

    python tools/measure.py time [--runs N] name [name...]  # one JSON record per query
    python tools/measure.py plans                           # rewrite PLANS.md
    python tools/measure.py plans name [name...]            # full physical plans to stdout

The scale factor is $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1);
``plans`` without names always uses sf0.001.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import threading
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from hive_hdfs_practise_spark import plans  # noqa: E402
from hive_hdfs_practise_spark.session import get_spark  # noqa: E402
from perfbench.spans import EngineCounters, job_cost  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Every counter read walks all jobs and stages the status store keeps
# (1000 each by default: ~0.5 s per run once a bench session fills
# it). One run of any registry query submits far fewer than this.
RETAINED = {"spark.ui.retainedJobs": "300", "spark.ui.retainedStages": "300"}


def pin_tree() -> None:
    """Make the Python workers import this checkout too: they inherit
    the JVM's environment (PYTHONPATH), not the driver's sys.path, and
    start in the JVM's cwd. Call before the first session starts."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p
    )


def session(app: str):
    """The engine's session, driver and workers on this checkout."""
    pin_tree()
    return get_spark(app, extra_conf=RETAINED)


def warm_up(spark, sf_dir: str) -> None:
    """Pay the session's one-off costs before anything is timed."""
    # JVM + codegen + parquet footer caches
    plans.QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
    # Python worker pool + Arrow serialization path: the first
    # Arrow-batched query in a session pays worker fork + Arrow init
    # (~2 s measured at sf0.1); that belongs to session startup, not
    # to whichever mapInPandas query happens to run first (r2 read it
    # as a bogus 4x regression of a mapInPandas kNN query).
    spark.range(64).repartition(8).mapInPandas(lambda it: it, "id long").collect()
    # micro-batch engine + state store init (~6 s measured on the
    # first streaming query of a session)
    plans.QUERIES["stream_dedup_keys"](spark, sf_dir).collect()


def collect(df):
    return df.collect()


def noop(df) -> None:
    """Evaluate every output column and discard the rows. Not count():
    it lets Catalyst prune every column the row count does not need,
    which erases pure-projection work (events_moving_median measured
    0.07 s under count() vs its real 4.5 s)."""
    df.write.format("noop").mode("overwrite").save()


def run(spark, name: str, sf_dir: str, runs: int = 2, action=collect, timeout_s=None):
    """Build registry query ``name`` and apply ``action`` to it, ``runs``
    times; return ``(record, result of the last action)``.

    Best-of-N because this host's hypervisor CPU steal lands as random
    multi-second stalls on parallel stages: the min measures the
    engine, not the neighbour. Each run times build + action, then
    drops the session's cache (a builder that persist()s an
    intermediate must not hand it to the next run) and reads the
    engine counters of every job submitted since the run began —
    outside the timed window, and by job id rather than job group,
    because the streaming micro-batch thread does not inherit the
    group. Jobs submitted before the builder returned count as
    ``jobs_build``, the rest as ``jobs_action``. ``compiles`` and
    ``compile_ms`` are the Janino compiles of the run (build and
    action) and their time.

    ``timeout_s`` bounds all runs together: a watchdog cancels the job
    group, and ``wall_s`` is the best finished run or None. Without
    it, a failing run raises."""
    sc = spark.sparkContext
    counters = EngineCounters(sc)
    group = f"measure-{name}"
    sc.setJobGroup(group, name, interruptOnCancel=True)
    done = threading.Event()
    if timeout_s is not None:
        threading.Thread(target=_watchdog, args=(sc, group, done, timeout_s), daemon=True).start()
    records, result = [], None
    try:
        for _ in range(runs):
            counters.mark()
            c0 = compiled(spark)
            cpu0, t0 = time.process_time(), time.time()
            try:
                df = plans.QUERIES[name](spark, sf_dir)
                t1 = time.time()
                result = action(df)
                t2 = time.time()
                cpu_s = time.process_time() - cpu0
            finally:
                spark.catalog.clearCache()
            c1 = compiled(spark)
            records.append({
                **_costs(sc, counters, t2 - t0, t1 - t0, t1, cpu_s),
                "compiles": c1[0] - c0[0],
                "compile_ms": round(c1[1] - c0[1], 1),
            })
    except Exception as exc:  # noqa: BLE001 — cancelled or failed: over budget
        if timeout_s is None:
            raise
        print(f"{name}: gave up ({type(exc).__name__})", file=sys.stderr)
    finally:
        done.set()
    best = min((r["wall_s"] for r in records), default=None)
    return {"query": name, "wall_s": best, "runs": records}, result


def compiled(spark) -> tuple[int, float]:
    """(Janino compiles, their total ms) so far in this JVM: the
    compile count from ``CodegenMetrics``, the time from
    ``CodeGenerator.compileTime`` (ns). A compile cache hit counts as
    neither."""
    jvm = spark._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n, ns / 1e6


def _watchdog(sc, group: str, done, timeout_s: float) -> None:
    # a cancel only hits jobs running at that instant, so keep
    # cancelling until the run gives up
    if not done.wait(timeout_s):
        while True:
            sc.cancelJobGroup(group)
            if done.wait(0.2):
                return


def _costs(sc, counters, wall_s, build_s, built_at, cpu_s) -> dict:
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs, stages = counters.read()
    if jobs and min(j["id"] for j in jobs) != counters.after_job + 1:
        raise RuntimeError("the status store dropped jobs of this run: raise RETAINED")
    total = job_cost({"stages": stages}, stages)
    n_build = sum(1 for j in jobs if j["start"] is not None and j["start"] < built_at)
    return {
        "wall_s": round(wall_s, 3),
        "build_s": round(build_s, 3),
        "jobs_build": n_build,
        "jobs_action": len(jobs) - n_build,
        "stages": len(stages),
        "tasks": sum(j["tasks"] for j in jobs),
        "exec_cpu_ms": round(total["cpu_ms"], 1),
        "shuffle_write_mb": round(total["shuffle_write"] / 2**20, 3),
        "spill_mb": round(total["spill"] / 2**20, 3),
        "driver_cpu_ms": round(cpu_s * 1000, 1),
    }


# -- plans -------------------------------------------------------------

NODE_RE = re.compile(
    r"^(?P<indent>[\s:+*-]*)(?P<node>(?:\*\(\d+\)\s*)?[A-Za-z][A-Za-z0-9]+)"
)

KEEP = (
    "Scan", "FileScan", "Filter", "Project", "HashAggregate", "SortAggregate", "Exchange",
    "BroadcastExchange", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
    "SortMergeJoin", "ShuffledHashJoin", "TakeOrderedAndProject", "Sort",
    "Window", "Expand", "Generate", "GlobalLimit", "LocalLimit", "Union",
    "ObjectHashAggregate", "MapInPandas", "FlatMapGroupsInPandas", "AQEShuffleRead",
)


def plan_text(df) -> str:
    """The physical plan the action will run (AQE's initial plan: the
    final one exists only after execution)."""
    return df._jdf.queryExecution().executedPlan().toString()


def skeleton(plan: str, max_lines: int = 28) -> list[str]:
    """Operator tree of ``plan`` reduced to the reviewable nodes (scan
    pushdown/pruning, join strategy, aggregation phases)."""
    out = []
    for line in plan.splitlines():
        m = NODE_RE.match(line)
        if not m:
            continue
        node = m.group("node").split("(")[-1] if "*(" in m.group("node") else m.group("node")
        node = node.strip("* ")
        if not any(node.startswith(k) for k in KEEP):
            continue
        depth = len(m.group("indent"))
        extra = ""
        if "PushedFilters: [" in line:
            extra = "  " + line.split("PushedFilters:", 1)[1].strip()[:80]
        if node.startswith("Scan"):
            cols = re.search(r"ReadSchema: struct<([^>]*)", line)
            if cols:
                names = [c.split(":")[0] for c in cols.group(1).split(",") if c]
                extra += f"  cols=[{', '.join(names[:6])}{'…' if len(names) > 6 else ''}]"
        out.append(" " * min(depth, 12) + node + extra)
        if len(out) >= max_lines:
            out.append("  …")
            break
    return out


def write_plans_md(spark) -> None:
    from bench import BENCH_QUERIES

    sf = "/root/testdata/sf0.001"
    lines = [
        "# PLANS — physical-plan skeletons of the headline queries",
        "",
        "Generated by `python tools/measure.py plans` (sf0.001, AQE final",
        "plans not expanded — shapes match what runs at scale). Shows",
        "scan pushdown/pruning, join strategy, aggregation phases.",
        "",
    ]
    for name in BENCH_QUERIES:
        lines += [f"## {name}\n", "```", *skeleton(plan_text(plans.QUERIES[name](spark, sf))), "```\n"]
    with open(f"{REPO}/PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(BENCH_QUERIES)} queries)")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    t = sub.add_parser("time", help="best-of-N timings and engine counters")
    t.add_argument("--runs", type=int, default=2)
    t.add_argument("names", nargs="+")
    p = sub.add_parser("plans", help="PLANS.md, or the full plans of the named queries")
    p.add_argument("names", nargs="*")
    args = ap.parse_args()
    spark = session(f"measure-{args.cmd}")
    spark.sparkContext.setLogLevel("ERROR")
    if args.cmd == "time":
        warm_up(spark, SF_DIR)
        for name in args.names:
            print(json.dumps(run(spark, name, SF_DIR, runs=args.runs)[0]), flush=True)
    elif args.names:
        for name in args.names:
            # builders that run jobs at plan time (index writes,
            # checkpoints) run them here too: the plan is the returned
            # frame's, exactly what the action executes
            print(f"## {name}\n{plan_text(plans.QUERIES[name](spark, SF_DIR))}", flush=True)
            spark.catalog.clearCache()
    else:
        write_plans_md(spark)


if __name__ == "__main__":
    main()
