"""Decompose append_minhash_index's cost for a 1/16 delta at sf0.1 —
the stage shared by dedup_minhash_index_append/_compact and
stream_minhash_index_append (tools/profile_minhash.py measured the
whole call at ~3.8 s, suspicious for a tiny batch).

    python tools/profile_append.py [sf_dir]
"""

from __future__ import annotations

import shutil
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from hive_hdfs_practise_spark import plans  # noqa: E402,F401
from hive_hdfs_practise_spark.dedup import minhash as mh  # noqa: E402
from hive_hdfs_practise_spark.operators.compaction import table_location  # noqa: E402
from hive_hdfs_practise_spark.plans.constants import (  # noqa: E402
    N_BANDS,
    N_PERM,
    ROWS_PER_BAND,
    SHINGLE_K,
)
from hive_hdfs_practise_spark.plans.dedup import _probe_delta_col  # noqa: E402
from hive_hdfs_practise_spark.session import get_spark  # noqa: E402
from hive_hdfs_practise_spark.sources.catalog import wide_table  # noqa: E402


def timed(label, fn):
    t0 = time.time()
    out = fn()
    print(f"{label:55s} {time.time() - t0:7.2f}s")
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("profile-append")
    spark.sparkContext.setLogLevel("ERROR")
    family = mh.minhash_family(sf_dir)
    kw = dict(k=SHINGLE_K, n_perm=N_PERM, n_bands=N_BANDS,
              rows_per_band=ROWS_PER_BAND, downsample=4, family=family,
              n_buckets=32)

    plans.QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    delta = d.filter(_probe_delta_col())
    corpus = d.filter(~_probe_delta_col())
    timed("write_minhash_index (corpus 15/16)",
          lambda: mh.write_minhash_index(spark, corpus, "prof_app", **kw))

    # --- append decomposition (mirrors append_minhash_index) ---
    dsigs = timed(
        "delta sig agg + localCheckpoint",
        lambda: mh.minhash_signature_from_text(
            delta, ["doc_id"], "text", SHINGLE_K, N_PERM,
            downsample=4, family=family,
        ).localCheckpoint(eager=True),
    )
    timed(
        "sigs append saveAsTable",
        lambda: dsigs.write.mode("append").format("parquet").saveAsTable(
            "prof_app_sigs"
        ),
    )
    banded = dsigs.select(
        "doc_id",
        F.posexplode(
            mh.lsh_bands(F.col("sig"), N_BANDS, ROWS_PER_BAND, family)
        ).alias("band", "band_key"),
    )
    # mirror append_minhash_index's write shape EXACTLY (r12 advice):
    # the bucket-hash repartition ahead of bucketBy and the SAME bucket
    # count the production append uses, so the decomposition keeps
    # measuring the optimized one-file-per-bucket write.
    n_buckets = kw["n_buckets"]  # the SAME parameter the production calls get
    timed(
        "bands bucketed append saveAsTable",
        lambda: (
            banded.select("band", "band_key", "doc_id")
            .repartition(n_buckets, "band", "band_key")
            .write.mode("append").format("parquet")
            .bucketBy(n_buckets, "band", "band_key")
            .saveAsTable("prof_app_bands")
        ),
    )
    n_files = len([
        f for f in __import__("os").listdir(table_location(spark, "prof_app_bands"))
        if f.endswith(".parquet")
    ])
    print(f"bands files after append: {n_files}")

    # second full append call for comparison (fresh delta rows would
    # duplicate; cost shape is what we time)
    timed("append_minhash_index TOTAL (2nd call)",
          lambda: mh.append_minhash_index(spark, delta, "prof_app", **kw))

    for suffix in ("_bands", "_sigs", "_dels"):
        t = f"prof_app{suffix}"
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(table_location(spark, t), ignore_errors=True)


if __name__ == "__main__":
    main()
