"""Scaling study: run the headline queries at sf0.1 and at the 10×
synthetic scale-up (tools/make_scaled.py), same session, and rewrite
SCALING.md's header and per-query time-ratio table (the sections
after it are kept).

A linear-cost query should show ratio ≈ 10 (or less where dimension
work dominates); super-linear ratios flag operators whose OUTPUT or
candidate set grows quadratically — exactly what the study is for.
Each scaled run is bounded by a watchdog that cancels the job group
after TIMEOUT_S and records the query as over-budget.

    python tools/scaling_run.py
"""

from __future__ import annotations

import sys
import threading
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from bench import BENCH_QUERIES
from hive_hdfs_practise_spark import plans
from hive_hdfs_practise_spark.session import get_spark

BASE = "/root/testdata/sf0.1"
SCALED = "/tmp/testdata/sfx10"
TIMEOUT_S = 150

# known super-linear OUTPUT at 10× on this corpus (pair queries whose
# result set is quadratic in near-dup density) — run with the watchdog
# and report whatever happens; listed here for the write-up.
EXPECT_SUPERLINEAR = {"dedup_simhash"}


def timed(spark, name: str, sf_dir: str) -> float | None:
    group = f"scaling-{name}"
    sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel=True)
    done = threading.Event()

    def watchdog():
        if not done.wait(TIMEOUT_S):
            sc.cancelJobGroup(group)

    t = threading.Thread(target=watchdog, daemon=True)
    t.start()
    best = None
    try:
        # noop sink, NOT .count(): count() lets Catalyst prune every
        # column the row count doesn't need, which silently erases
        # pure-projection work (a window-only query like
        # events_moving_median measured 0.07 s under count() vs its
        # real 4.5 s) — the same pruning trap CLAUDE.md documents
        # for aggregate probes. The noop format evaluates every
        # output column and discards the rows.
        # Best-of-2 (same rationale as bench.py): ~15% hypervisor CPU
        # steal on this host lands as random multi-second stalls on
        # parallel stages; min-of-two measures the engine.
        for _ in range(2):
            t0 = time.time()
            plans.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = round(time.time() - t0, 2)
            best = dt if best is None else min(best, dt)
        return best
    except Exception:  # noqa: BLE001 — cancelled or failed → over budget
        return best
    finally:
        done.set()


def main() -> None:
    spark = get_spark("scaling")
    plans.QUERIES["q1_pricing_summary"](spark, BASE).count()  # warm-up

    rows = []
    # cancellation-prone pair queries LAST so a watchdog kill cannot
    # pollute the measurements that follow them
    risky = ["dedup_minhash_lsh", "dedup_simhash"]
    ordered = [q for q in BENCH_QUERIES if q not in risky] + risky
    for name in ordered:
        t_base = timed(spark, name, BASE)
        t_scaled = timed(spark, name, SCALED)
        ratio = (
            round(t_scaled / t_base, 1)
            if (t_base and t_scaled and t_base > 0)
            else None
        )
        rows.append((name, t_base, t_scaled, ratio))
        print(name, t_base, t_scaled, ratio, flush=True)

    lines = [
        "# SCALING — 10× scale-up study (local[32])",
        "",
        "sf0.1 (600k lineitem / 100k events / 5k docs) vs a 10× synthetic",
        "scale-up (6M / 1M / 50k; dims fixed; replicas key-disjoint and",
        "text-perturbed — see tools/make_scaled.py). Same session,",
        f"best-of-2 runs each (see timed()), {TIMEOUT_S}s watchdog.",
        "Ratio ≈ 10 ⇒ linear scaling;",
        "≪ 10 ⇒ fixed/dimension-bound costs dominate; > 10 or over budget",
        "⇒ super-linear (candidate/output growth) — called out below.",
        "",
        "| query | sf0.1 s | 10× s | ratio |",
        "|---|---|---|---|",
    ]
    for name, tb, ts_, r in rows:
        tb_s = f"{tb}" if tb is not None else f">{TIMEOUT_S} (cancelled)"
        ts_s = f"{ts_}" if ts_ is not None else f">{TIMEOUT_S} (cancelled)"
        note = " ⚠" if (r is None or (r and r > 15)) else ""
        lines.append(f"| {name} | {tb_s} | {ts_s} | {r if r else '—'}{note} |")
    # rewrite only the header and table: every section from the first
    # heading on is hand-recorded and kept
    path = Path(REPO) / "SCALING.md"
    old = path.read_text() if path.exists() else ""
    cut = old.find("\n## ")
    rest = old[cut + 1 :] if cut >= 0 else ""
    path.write_text("\n".join(lines) + ("\n\n" + rest if rest else "\n"))
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
