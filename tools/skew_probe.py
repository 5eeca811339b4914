"""Planted-mega-bucket probe: measures the chunked pair expansion
(`dedup/minhash.py::pairs_within_buckets`) against the single-task
combinations shape it replaced, on one synthetic hot bucket.

The single-task shape is the classic LSH failure mode: a boilerplate
bucket's quadratic pair set is generated inside the one task that
aggregated the bucket, serializing the stage — and because
Generate(explode) materializes the whole pair array before exploding
it, a large enough bucket OOMs that task outright. The chunked form
slices the sorted id array into PAIR_CHUNK-id cells, spreads the
(i, j) cells across tasks with a round-robin repartition, and bounds
per-task heap at ~PAIR_CHUNK^2 structs.

Reference run (local[32], 12k-id bucket -> 71,994,000 pairs):
chunked 16.0 s vs single-task 145.8 s (9.1x), identical output; the
single-task shape OOMed at 4096-id chunks x 32 concurrent tasks
before PAIR_CHUNK was capped at 1024 (see the r4 commit).

    python tools/skew_probe.py [bucket_size]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from hive_hdfs_practise_spark.dedup import minhash as mh
from hive_hdfs_practise_spark.session import get_spark


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 12000
    spark = get_spark("skew_probe")
    df = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("hot").alias("bucket")
    )

    t0 = time.time()
    chunked_n = mh.pairs_within_buckets(df, "doc_id", ["bucket"]).count()
    chunked_s = round(time.time() - t0, 2)
    print(f"chunked     {chunked_s:8.2f} s  {chunked_n} pairs", flush=True)

    buckets = (
        df.groupBy("bucket")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_expr = F.explode(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda x, i: F.transform(
                    F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                    lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
                ),
            )
        )
    )
    single = (
        buckets.select(pair_expr.alias("p"))
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    t0 = time.time()
    try:
        single_n = single.count()
        single_s = round(time.time() - t0, 2)
        print(f"single-task {single_s:8.2f} s  {single_n} pairs", flush=True)
        assert single_n == chunked_n
    except Exception as exc:  # noqa: BLE001 — OOM/cancel is a valid outcome
        print(f"single-task FAILED after {round(time.time() - t0, 2)} s: "
              f"{type(exc).__name__} (expected at large n — the giant "
              f"pair array overruns the task heap)", flush=True)


if __name__ == "__main__":
    main()
