"""Scaling study: run the headline queries at sf0.1 and at the 10×
synthetic scale-up (tools/make_scaled.py), same session, and write
SCALING.md with per-query time ratios.

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

FINDINGS = """## Round-4: 40× points for the linear-trending lines

`tools/make_scaled.py 40 /tmp/testdata/sfx40` (24M lineitem / 4M
events / 200k docs), best-of-2 warm noop runs, same session. A ratio
of 40 = perfect linearity:

| query | 1× s | 10× s | 40× s | r40 |
|---|---|---|---|---|
| split_decontamination | 1.03 | 2.05 | 6.51 | 6.3 |
| events_dedup_latest | 0.32 | 1.68 | 6.97 | 21.8 |
| documents_chunk_overlap | 0.26 | 0.99 | 3.45 | 13.3 |
| events_moving_median | 1.30 | 2.41 | 5.10 | 3.9 |
| lineitem_quality_report | 0.80 | 4.12 | 16.94 | 21.2 |

Verdicts hold at 40×: every line stays SUB-linear (worst r40 ≈ 22 ≈
0.5× of linear), and the two that trend closest to linear are
exactly the two with structural Θ(rows)/Θ(distinct keys) arguments
(events_dedup_latest, lineitem_quality_report — no map-side
reduction exists when keys are disjoint/unique). The r4-sharded
events_moving_median is the flattest line of the set (r40 = 3.9).

Dedup family at 40× (200k docs / 80k vectors, same method):
dedup_exact 0.76 → 1.00 s (r40 1.3); dedup_minhash_lsh 7.78 →
39.67 s (r40 5.1) — the banded design holds at 200k docs with
text-disjoint replicas. dedup_embedding_lsh exceeded a 600 s
watchdog at 40× for a corpus-construction reason, not a plan
defect: make_scaled perturbs each replica's vectors only slightly,
so every original's k replicas are MUTUAL near-dups and the true
output pair set grows ~k² — measured 477 pairs at 1× vs 263,773 at
10× (553×). The LSH plan is exactly what contains this (only
colliding buckets expand; the r4 chunk guard spreads them across
tasks); the blow-up is in the answer itself, the same category as
dedup_simhash's documented superlinearity. A text-style
rotation-disjoint embedding scale-up would need vectors resampled
per replica, which would instead destroy all near-dup structure —
either way the 40× number measures the corpus, not the engine.
documents_pack_sequences measured 4.78 s at 10× vs 2.12 s at 40× in
this session — an absolute inversion that is physically impossible
for a narrow map and is the host-steal noise floor making the point
for best-of-2 measurement discipline (its structural shape, per-shard
integer cumsum, is not in question).

## Round-4 operators at 1×/10×/40× (best-of-2 warm, same method)

| query | 1× s | 10× s | 40× s | r40 |
|---|---|---|---|---|
| documents_pii_scrub | 0.49 | 2.50 | 8.59 | 17.5 (→ 0.93 s / r40 1.9 after the rlike gate, below) |
| documents_source_quota | 0.29 | 0.34 | 0.48 | 1.7 |
| documents_lang_rebalance | 0.62 | 0.57 | 0.61 | 1.0 |
| embedding_hard_negatives | 0.69 | 0.82 | 1.40 | 2.0 |
| events_funnel_conversion | 0.64 | 0.82 | 1.35 | 2.1 |
| events_retention_cohorts | 0.38 | 0.85 | 2.46 | 6.5 |
| events_anomaly_mad | 3.77 | 26.57 | 106.97 | 28.4 |

All sub-linear. The quota/rebalance/hard-negative/funnel lines are
flat (WindowGroupLimit or broadcast shapes — fixed costs dominate);
pii_scrub WAS the regex cascade trending linear in text bytes —
re-measured 0.93 s at 40× (r40 1.9) after gating the cascade on a
cheap `rlike('[@0-9]')`: every pattern needs an '@' or a digit,
so clean text skips all six regex evaluations (and the
projection-collapse duplication that ran the email regex ~4×/row);
on PII-dense corpora the gate passes everything and the cascade
cost returns, still linear, still a narrow map. events_anomaly_mad is linear with a LARGE constant
(~25 µs/row of per-row frame math: a collect_list rebuild plus two
interpreted sorts of the ≤100-element deviation array) — it
parallelizes perfectly over the (type, time-shard) keying, so
horizontal scaling absorbs it, but a 100 TB deployment that only
needs approximate flags should prefer a mergeable histogram sketch
per window (order_value_percentiles_approx's machinery) over the
exact rank math, trading 4-dp exactness for ~5× less per-row work.

## Round-4 decomposition of the four ≥3.5×-ratio lines (+ the median re-measure)

All probes best-of-2 warm through the noop sink, same session,
local[32]; per-stage timings at 10× unless noted. Probe timings come
from a dedicated decomposition session — headline ratios in the
table above are a separate run and can differ by a point or two of
host-steal noise; the per-stage SPLITS are what the verdicts rest on.

- **events_moving_median — the 5.13 s / 5.13 s pair was an artifact
  of the old plan and is superseded.** The r3 implementation
  windowed per event_type (~5 tasks), so BOTH measurements were a
  5-task serial percentile whose cost was insensitive to input size
  at this range (per-row frame-buffer overhead + AQE-coalesced
  partitions dominated; the identical 2-dp values were coincidence
  within that plateau's noise). The r4 time-sharded implementation
  measures 1.62 s → 1.76 s (ratio 1.1): the percentile stage now
  spreads over 32 pinned partitions and fixed costs dominate both
  points.
- **split_decontamination (was 4.6, best-of-2 now 2.9) — linear by
  construction, no defect.** Gram generation alone (tokenize +
  8-gram transform + explode, both splits) is 1.96 s of the 2.30 s
  total at 10×; the train⋈test match adds ~0.35 s and already runs
  as a BroadcastHashJoin on the (small) test side — the exact shape
  the docstring promises at 100 TB. The two scans each compute only
  their own split's grams (the split filter pushes below the gram
  projection), so total gram work ≈ 0.9× corpus, once.
- **events_dedup_latest (3.7 → 4.5 best-of-2) — structural
  Θ(rows), keep the window form.** Scan-only is 0.21 s of 1.54 s;
  the rest is the keep-latest itself. The plan already carries
  WindowGroupLimit (map-side top-1 per key before the shuffle), and
  the replicas are key-disjoint so distinct keys grow 10× — like
  lineitem_quality_report, there is no map-side reduction to win.
  The hash-agg alternative (groupBy + max_by struct) was measured
  SLOWER (1.81 s vs 1.57 s at 10×), so the window form stays; a
  cluster scales this horizontally on the key hash.
- **documents_chunk_overlap (3.7 → 3.8) — pure narrow map, no
  defect.** Scan + token_count is 0.55 s of 0.99 s at 10×; the
  remainder is the explode writing 10× more chunk rows. Zero
  shuffles; the 1× point (0.25 s) is mostly task-launch floor,
  which is the whole ratio story.
- **dedup_simhash (3.5 → 3.6) — the quadratic term emerging, by
  design, with the asymptotic path registered.** Decomposed: the
  signature build is fixed-cost-dominated (≈2.2 s → ≈2.6 s), while
  the lang-blocked pair join alone goes 0.22 s → 6.23 s (28×) —
  block sizes grow 10×, hamming-evaluated pairs grow ~100×, and at
  10× the n² term finally outweighs its tiny constant, exactly as
  the crossover study below predicts (Q ≈ 1% of total at 10×,
  crossover 2-3M docs/block). dedup_simhash_bucketed remains the
  oracle-checked switch-over for blocks past that point.

## SimHash pair-stage crossover (round 3, tools/simhash_crossover.py)

Brute lang-blocked pair join vs the chunk-bucketed pigeonhole stage,
documents-only scale-ups of sf0.1 (same alphabet-rotation
perturbation as make_scaled.py), one warm run each on local[32]:

| docs | brute s | bucketed s |
|---|---|---|
| 50k (10×) | 8.3 | 12.8 |
| 100k (20×) | 14.2 | 20.4 |
| 200k (40×) | 34.2 | 56.8 |

Brute grows near-LINEARLY through 200k docs — the signature build
dominates and the codegen'd hamming evaluation inside the sort-merge
pair join is so cheap (~1e9 pairs/s across 32 cores) that the n²
term barely registers. Fitting T = L·x + Q·x² to the 10×/40× points
gives Q ≈ 1% of total at 10×; the bucketed path tracks ~1.5× the
brute's linear term (wider 60-bit signatures, 7-way posexplode, the
bucket shuffle, and two signature join-backs). Projected crossover:
~2-3M docs per lang block — far above anything this bench reaches,
squarely inside the 100 TB regime where per-block brute force is
impossible anyway. Resolution: **the bench line is the measured
winner (dedup_simhash, brute pairs); dedup_simhash_bucketed stays
registered and oracle-checked (md5 family since round 3) as the
asymptotic path** a cluster deployment would switch to once blocks
clear a few million docs.

## lineitem_quality_report's ratio is linearity, not a defect (round 3)

The round-1 table's worst line (0.99 → 4.8 s, ratio 4.8) was
re-measured warm and decomposed: the completeness/range metrics are
algebraic (map-side partials, sub-linear like every other agg here);
the entire growth is the EXACT key-uniqueness check. When the keys
really are unique — the passing case — partial aggregation cannot
shrink anything: every one of the 6M (l_orderkey, l_linenumber)
keys must enter a hash table exactly once, so the work is
Θ(distinct keys) with no reduction anywhere. Measured probes at 10×:
combined count-DISTINCT plan 4.0 s; distinct-only sub-aggregate
3.3-3.6 s; packing the 2-column struct key into one long 3.5 s (key
width is irrelevant — the hash table is the cost). The ratio trends
toward 10 (perfect linearity) as fixed overheads amortize, and CAN'T
be sub-linear; a 1000-executor cluster scales it horizontally
(hash-partitioned keys), which is exactly what the plan does.

Round-3 change (operators/checks.py): uniqueness runs as its own
sub-aggregate over ONLY the key columns, cross-joined back — the
parquet scan prunes to key bytes, the metric scan loses the Expand
duplication, and the wide-row scan stays single-pass. Warm 10×:
4.0 → 3.6 s. The remaining headroom is approximate (HLL uniqueness
within rsd) or layout-assumed (write-clustered keys), both semantic
changes, not plan fixes.

## Findings

- Every headline query scales SUB-linearly at 10× data (max ratio
  ~6): scan/agg/join/window costs at this size are dominated by
  fixed overheads (task launch, plan compilation, dimension
  broadcasts) that amortize as data grows. The standouts that
  approach linearity do so for structural reasons: pair-set
  operators ride candidate growth (MinHash-LSH, SimHash), and
  exact key-uniqueness admits no map-side reduction (see above).
- Methodology lesson (kept deliberately): an earlier scale-up
  perturbed replica texts by injecting marker tokens, which gave
  EVERY document in a replica shared shingles — corpus-wide shingle
  overlap pushed mid-Jaccard band collisions up and the LSH
  candidate set exploded past the watchdog. That is exactly what
  boilerplate does to shingle-based dedup on real web corpora; the
  production answer is boilerplate stripping / word-level shingles
  before MinHash. The current scale-up uses a per-replica alphabet
  rotation (a bijection on characters), which preserves
  within-replica Jaccard structure exactly and shares nothing
  across replicas.
- Watchdog cancellation of a running job was observed to pollute
  the next measurement (task drain); cancellation-prone queries run
  last.
"""

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
    lines += ["", FINDINGS]
    with open(f"{REPO}/SCALING.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
