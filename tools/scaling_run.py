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
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import measure  # noqa: E402
from bench import BENCH_QUERIES  # noqa: E402

BASE = "/root/testdata/sf0.1"
SCALED = "/tmp/testdata/sfx10"
TIMEOUT_S = 150

# known super-linear OUTPUT at 10× on this corpus (pair queries whose
# result set is quadratic in near-dup density) — run with the watchdog
# and report whatever happens; listed here for the write-up.
EXPECT_SUPERLINEAR = {"dedup_simhash"}


def main() -> None:
    spark = measure.session("scaling")
    measure.warm_up(spark, BASE)

    rows = []
    # cancellation-prone pair queries LAST so a watchdog kill cannot
    # pollute the measurements that follow them
    risky = ["dedup_minhash_lsh", "dedup_simhash"]
    ordered = [q for q in BENCH_QUERIES if q not in risky] + risky
    for name in ordered:
        t_base, t_scaled = (
            measure.run(spark, name, sf, action=measure.noop, timeout_s=TIMEOUT_S)[0]["wall_s"]
            for sf in (BASE, SCALED)
        )
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
        f"best-of-2 runs each (measure.run), {TIMEOUT_S}s watchdog.",
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
    path = Path(measure.REPO) / "SCALING.md"
    old = path.read_text() if path.exists() else ""
    cut = old.find("\n## ")
    rest = old[cut + 1 :] if cut >= 0 else ""
    path.write_text("\n".join(lines) + ("\n\n" + rest if rest else "\n"))
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
