"""Interleaved A/B of the connected_components edge symmetrization:
union-of-two-selects (executes the pairs lineage TWICE under the
eager checkpoint) vs explode(array(struct,struct)) (one execution).
One warm session, alternating variants, same upstream pair pipeline.

    python tools/probe_cc_edges.py [sf_dir] [n_rounds]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from hive_hdfs_practise_spark import plans  # noqa: E402,F401
from hive_hdfs_practise_spark.session import get_spark  # noqa: E402


def edges_union(pairs):
    return (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .union(pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
        .distinct()
    )


def edges_explode(pairs):
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                    F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("probe-cc-edges")
    spark.sparkContext.setLogLevel("ERROR")
    plans.QUERIES["q1_pricing_summary"](spark, sf_dir).collect()

    from hive_hdfs_practise_spark.plans.dedup import _lsh_verified_pairs

    results: dict[str, list[float]] = {"union": [], "explode": []}
    for _ in range(n_rounds):
        for label, build in (("union", edges_union), ("explode", edges_explode)):
            pairs = _lsh_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
            t0 = time.time()
            e = build(pairs).localCheckpoint(eager=True)
            n = e.count()
            results[label].append(time.time() - t0)
            spark.catalog.clearCache()
    for label, ts in results.items():
        runs = "/".join(f"{t:.2f}" for t in ts)
        print(f"edges via {label:8s} best {min(ts):6.2f}s  rows-ok  ({runs})")


if __name__ == "__main__":
    main()
