"""Crossover study: brute-force SimHash pair join vs the
chunk-bucketed pair stage, at growing document counts.

Only the documents table matters for the two queries, so this scales
JUST documents (same per-replica alphabet-rotation perturbation as
tools/make_scaled.py — preserves within-replica near-dup structure,
shares nothing across replicas) and times both queries at each
factor.

    python tools/simhash_crossover.py [factors...]   # default 10 20 40
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from hive_hdfs_practise_spark import plans
from hive_hdfs_practise_spark.session import get_spark
from hive_hdfs_practise_spark.sources.catalog import table

SRC = "/root/testdata/sf0.1"
_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _translated_text(factor: int):
    expr = F.col("text")
    for i in range(1, factor):
        rot = i % 25 or 1
        expr = F.when(
            F.col("rep") == i,
            F.translate("text", _ALPHA, _ALPHA[rot:] + _ALPHA[:rot]),
        ).otherwise(expr)
    return expr


def make_docs(spark, factor: int) -> str:
    out = f"/tmp/testdata/docs_x{factor}"
    dest = f"{out}/documents.parquet"
    if not os.path.exists(dest):
        os.makedirs(out, exist_ok=True)
        d = spark.read.parquet(f"{SRC}/documents.parquet")
        max_id = d.agg(F.max("doc_id")).head()[0] + 1
        rep = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")
        (
            d.select("*", rep)
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * max_id)
            .withColumn("text", _translated_text(factor))
            .drop("rep")
            .write.mode("overwrite")
            .parquet(dest)
        )
    return out


def main() -> None:
    factors = [int(a) for a in sys.argv[1:]] or [10, 20, 40]
    spark = get_spark("simhash-crossover")
    # warm JVM + codegen on the small dir first
    for q in ("dedup_simhash", "dedup_simhash_bucketed"):
        plans.QUERIES[q](spark, "/root/testdata/sf0.01").count()
    print("factor\tn_docs\tbrute_s\tbucketed_s")
    for factor in factors:
        sf_dir = make_docs(spark, factor)
        n = table(spark, sf_dir, "documents").count()
        row = [str(factor), str(n)]
        for q in ("dedup_simhash", "dedup_simhash_bucketed"):
            t0 = time.time()
            plans.QUERIES[q](spark, sf_dir).count()
            row.append(f"{time.time() - t0:.1f}")
        print("\t".join(row), flush=True)


if __name__ == "__main__":
    main()
