"""Stage-level profiler for the MinHash-family kernel at sf0.1 —
answers WHERE the family's bench seconds actually go (signature agg,
banding+pair expansion, prefilter, verify, metastore DDL, sigs
write, bucketed bands write, compaction, probe), so optimization
targets the measured stage, not the guessed one (guide §1).

    python tools/profile_minhash.py [sf_dir]

Each stage timed best-of-N (default 2) with a noop sink where the
stage is a pure transformation; writes/DDL are timed as-is (their
cost IS the operation).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from hive_hdfs_practise_spark import plans  # noqa: E402,F401
from hive_hdfs_practise_spark.dedup import minhash as mh  # noqa: E402
from hive_hdfs_practise_spark.session import get_spark  # noqa: E402
from hive_hdfs_practise_spark.sources.catalog import wide_table  # noqa: E402

N_RUNS = int(os.environ.get("N_RUNS", "2"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(label, fn, n=N_RUNS):
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    print(f"{label:55s} {best:7.2f}s")
    return best


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("profile-minhash")
    spark.sparkContext.setLogLevel("ERROR")
    from hive_hdfs_practise_spark.plans.constants import (
        N_BANDS,
        N_PERM,
        ROWS_PER_BAND,
        SHINGLE_K,
    )

    family = mh.minhash_family(sf_dir)
    print(f"family={family}  sf_dir={sf_dir}")

    # warm-ups (bench discipline)
    plans.QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
    spark.range(64).repartition(8).mapInPandas(lambda it: it, "id long").collect()

    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")

    def sigs_df(downsample):
        return mh.minhash_signature_from_text(
            d, ["doc_id"], "text", SHINGLE_K, N_PERM,
            downsample=downsample, family=family,
        )

    timed("corpus scan only (noop)", lambda: noop(d))
    timed("signature agg ds=4 (noop)", lambda: noop(sigs_df(4)))
    timed("signature agg ds=1 (noop)", lambda: noop(sigs_df(1)))

    sigs = sigs_df(4).localCheckpoint(eager=True)
    live = sigs.filter(F.element_at("sig", 1) != mh.P32)
    cand = mh.lsh_candidate_pairs(live, N_BANDS, ROWS_PER_BAND, family=family)
    timed("banding + pair expansion (noop)", lambda: noop(cand))
    from hive_hdfs_practise_spark.plans.dedup import (
        _est_prefilter,
        exact_jaccard_pairs,
    )

    pre = _est_prefilter(cand, sigs)
    timed("  + est prefilter (noop)", lambda: noop(pre))
    pairs = exact_jaccard_pairs(pre, wide_table(spark, sf_dir, "documents"))
    timed("  + exact verify (noop)  [= full lsh line]", lambda: noop(pairs))
    print(f"    n verified pairs: {pairs.count()}")

    # ---- index build decomposition ----
    from hive_hdfs_practise_spark.operators.compaction import table_location
    from hive_hdfs_practise_spark.sources.writers import write_bucketed

    def ddl_drop():
        for suffix in ("_bands", "_sigs", "_dels"):
            t = f"prof_idx{suffix}"
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(table_location(spark, t), ignore_errors=True)

    timed("DDL: 3x DROP TABLE IF EXISTS (absent)", ddl_drop, n=1)

    def sigs_write():
        sigs_df(4).write.mode("overwrite").format("parquet").saveAsTable(
            "prof_idx_sigs"
        )

    timed("sigs saveAsTable (incl. agg)", sigs_write, n=1)

    def bands_write():
        banded = spark.table("prof_idx_sigs").select(
            "doc_id",
            F.posexplode(
                mh.lsh_bands(F.col("sig"), N_BANDS, ROWS_PER_BAND, family)
            ).alias("band", "band_key"),
        )
        write_bucketed(
            banded.select("band", "band_key", "doc_id"),
            "prof_idx_bands",
            ["band", "band_key"],
            n_buckets=32,
        )

    timed("bands bucketed saveAsTable", bands_write, n=1)
    timed("DDL: 3x DROP (present) + rmtree", ddl_drop, n=1)

    def full_build():
        mh.write_minhash_index(
            spark, d, "prof_idx",
            k=SHINGLE_K, n_perm=N_PERM, n_bands=N_BANDS,
            rows_per_band=ROWS_PER_BAND, downsample=4, family=family,
        )

    timed("write_minhash_index TOTAL", full_build, n=2)

    from hive_hdfs_practise_spark.plans.dedup import _indexed_pairs

    timed(
        "indexed probe (pairs+prefilter+verify, collect)",
        lambda: _indexed_pairs(spark, sf_dir, "prof_idx").collect(),
    )

    # maintenance ops against the built index
    from hive_hdfs_practise_spark.plans.dedup import _probe_delta_col

    delta = d.filter(_probe_delta_col())
    timed(
        "append_minhash_index (delta 1/16)",
        lambda: mh.append_minhash_index(
            spark, delta, "prof_idx",
            k=SHINGLE_K, n_perm=N_PERM, n_bands=N_BANDS,
            rows_per_band=ROWS_PER_BAND, downsample=4, family=family,
        ),
        n=1,
    )
    from hive_hdfs_practise_spark.operators.compaction import (
        compact_bucketed_table,
    )

    timed(
        "compact_bucketed_table",
        lambda: compact_bucketed_table(spark, "prof_idx_bands"),
        n=1,
    )

    for suffix in ("_bands", "_sigs", "_dels"):
        t = f"prof_idx{suffix}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(table_location(spark, t), ignore_errors=True)


if __name__ == "__main__":
    main()
