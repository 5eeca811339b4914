"""Probe (r13): the agreement-estimate prefilter evaluates an
INTERPRETED zip_with + aggregate fold per candidate row. A/B vs a
codegen'd 128-term sum of element_at equality flags (no array
allocation, whole-stage codegen) in one warm session.

    python tools/probe_est_prefilter.py [sf_dir] [n_rounds]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from hive_hdfs_practise_spark import plans  # noqa: E402,F401
from hive_hdfs_practise_spark.dedup import minhash as mh  # noqa: E402
from hive_hdfs_practise_spark.plans.constants import (  # noqa: E402
    JACCARD_THRESHOLD,
    N_BANDS,
    N_PERM,
    ROWS_PER_BAND,
    SHINGLE_K,
)
from hive_hdfs_practise_spark.plans.dedup import _est_prefilter  # noqa: E402
from hive_hdfs_practise_spark.session import get_spark  # noqa: E402
from hive_hdfs_practise_spark.sources.catalog import wide_table  # noqa: E402


def est_prefilter_codegen(cand, sigs):
    sig_a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    agree = sum(
        (
            F.when(
                F.element_at("sig_a", i + 1) == F.element_at("sig_b", i + 1), 1
            ).otherwise(0)
            for i in range(N_PERM)
        ),
        start=F.lit(0),
    )
    return (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .filter(agree / F.lit(N_PERM) >= JACCARD_THRESHOLD - 0.15)
        .select("doc_a", "doc_b")
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("probe-est")
    spark.sparkContext.setLogLevel("ERROR")
    plans.QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
    family = mh.minhash_family(sf_dir)
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = mh.minhash_signature_from_text(
        d, ["doc_id"], "text", SHINGLE_K, N_PERM, downsample=4, family=family
    ).localCheckpoint(eager=True)
    live = sigs.filter(F.element_at("sig", 1) != mh.P32)

    def cand():
        return mh.lsh_candidate_pairs(live, N_BANDS, ROWS_PER_BAND, family=family)

    a = {(r[0], r[1]) for r in _est_prefilter(cand(), sigs).collect()}
    b = {(r[0], r[1]) for r in est_prefilter_codegen(cand(), sigs).collect()}
    print(f"parity: {len(a)} fold, {len(b)} codegen, equal={a == b}")

    results: dict[str, list[float]] = {"fold": [], "codegen": []}
    for _ in range(n_rounds):
        for label, fn in (
            ("fold", _est_prefilter),
            ("codegen", est_prefilter_codegen),
        ):
            t0 = time.time()
            fn(cand(), sigs).write.format("noop").mode("overwrite").save()
            results[label].append(time.time() - t0)
    for label, ts in results.items():
        runs = "/".join(f"{t:.2f}" for t in ts)
        print(f"est prefilter via {label:8s} best {min(ts):6.2f}s  ({runs})")


if __name__ == "__main__":
    main()
