"""Synthesize a ~10× scale-up of the sf0.1 testdata into /tmp to
measure scaling behavior (tools/scaling_run.py). Facts are
replicated with disjoint key spaces (FK consistency preserved);
dimensions stay fixed (as they would at scale). Document text and
embeddings are perturbed per replica so the dedup/similarity
operators don't see 10 exact copies of everything.

    python tools/make_scaled.py [factor] [out_dir] [perturb]

Embedding modes (the r9 verdict's item 3):

- default (replica mode): each replica adds a tiny deterministic
  per-dimension offset — replicas of one original stay MUTUAL
  NEAR-DUPS, so the true near-dup pair set grows ~factor² and LSH
  buckets go ~factor deep. Keep for answer-mass-bound tests (the
  operators must survive a pathological corpus).
- ``perturb``: md5-derived per-(vec, replica, dim) jitter sized to
  the component std (σ≈0.125 ⇒ uniform ±3σ·√(1/12)·√12/2 ≈ ±0.22,
  noise variance ≈ signal variance ⇒ expected cross-replica cosine
  ≈ 0.5, well under every near-dup threshold). Replica 0 is
  UNTOUCHED, so 1× results stay embedded in the scaled corpus. This
  is the realistic-regime corpus: scale grows the corpus, not the
  per-item duplicate count.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from hive_hdfs_practise_spark.session import get_spark
from hive_hdfs_practise_spark.sources.catalog import TABLES, table

SRC = "/root/testdata/sf0.1"

_ALPHA = "abcdefghijklmnopqrstuvwxyz"


def _translated_text(factor: int):
    """CASE chain: replica i gets a rotated-alphabet translation
    (translate() takes literal strings, hence the per-replica arms)."""
    expr = F.col("text")
    for i in range(1, factor):
        rot = i % 25 or 1
        expr = F.when(
            F.col("rep") == i,
            F.translate("text", _ALPHA, _ALPHA[rot:] + _ALPHA[:rot]),
        ).otherwise(expr)
    return expr


def _jitter(i):
    """md5-derived per-(vec, replica, dim) uniform jitter in ±1.25
    (σ_n≈0.72 vs component σ_s≈0.125). Replica 0 is noiseless, so the
    binding case is the ONE-SIDED cosine cos(v, v+n) = √(σ_v²/(σ_v²+σ_n²)),
    and per-vector norms vary ~2×: at this scale the max-norm
    original's one-sided cosine lands ≈0.35, below the 0.4 dedup
    threshold (smaller scales measured: ±0.22 → max 0.81, ±0.45 →
    max 0.71 — the √ makes one-sided pairs stubborn). Measured on the
    40× build: see SCALING.md round-10."""
    u32 = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("vec_id").cast("string"),
                    F.col("rep").cast("string"),
                    i.cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("double")
    return (u32 / F.lit(float(2**32)) - 0.5) * F.lit(2.50)


def _perturbed_embedding():
    """Realistic-regime embedding scale-up: replica 0 untouched,
    every other replica gets signal-sized md5 jitter per dimension."""
    return F.transform(
        "embedding",
        lambda x, i: F.when(F.col("rep") == 0, x).otherwise(x + _jitter(i)),
    ).cast("array<float>")


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else f"/tmp/testdata/sfx{factor}"
    perturb = "perturb" in sys.argv[3:]
    os.makedirs(out, exist_ok=True)
    spark = get_spark("make-scaled")
    rep = F.explode(F.sequence(F.lit(0), F.lit(factor - 1))).alias("rep")

    dims = ["region", "nation", "customer", "supplier", "part"]
    for name in dims:
        table(spark, SRC, name).write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    o = table(spark, SRC, "orders")
    max_ok = o.agg(F.max("o_orderkey")).head()[0] + 1
    (
        o.select("*", rep)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("rep") * max_ok)
        .drop("rep")
        .write.mode("overwrite")
        .parquet(f"{out}/orders.parquet")
    )
    li = table(spark, SRC, "lineitem")
    (
        li.select("*", rep)
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("rep") * max_ok)
        .drop("rep")
        .write.mode("overwrite")
        .parquet(f"{out}/lineitem.parquet")
    )

    e = table(spark, SRC, "events")
    max_u = e.agg(F.max("user_id")).head()[0] + 1
    max_e = e.agg(F.max("event_id")).head()[0] + 1
    (
        e.select("*", rep)
        .withColumn("event_id", F.col("event_id") + F.col("rep") * max_e)
        .withColumn("user_id", F.col("user_id") + F.col("rep") * max_u)
        # parquet TIMESTAMP(µs) is fine here — catalog's nanos schema
        # is only applied to the driver testdata; write ts as long to
        # keep the catalog's events reader working unchanged
        .withColumn("ts", F.unix_micros(F.col("ts")) * 1000)
        .drop("rep")
        .write.mode("overwrite")
        .parquet(f"{out}/events.parquet")
    )

    d = table(spark, SRC, "documents")
    max_d = d.agg(F.max("doc_id")).head()[0] + 1
    (
        d.select("*", rep)
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * max_d)
        # per-replica CHARACTER TRANSLATION: a bijection on the
        # alphabet preserves within-replica Jaccard structure exactly
        # (shingle sets map 1:1) while making cross-replica texts
        # dissimilar — no artificial shared boilerplate (an earlier
        # marker-token scheme inflated corpus-wide shingle overlap
        # and exploded LSH candidates, which is what real boilerplate
        # does — see SCALING.md notes).
        .withColumn("text", _translated_text(factor))
        .withColumn("n_chars", F.length("text"))
        .drop("rep")
        .write.mode("overwrite")
        .parquet(f"{out}/documents.parquet")
    )

    emb = table(spark, SRC, "embeddings")
    max_v = emb.agg(F.max("vec_id")).head()[0] + 1
    (
        emb.select("*", rep)
        .withColumn("vec_id", F.col("vec_id") + F.col("rep") * max_v)
        .withColumn(
            "embedding",
            _perturbed_embedding()
            if perturb
            else F.transform(
                "embedding", lambda x, i: x + (F.col("rep") * (i + 1) % 7) * 0.01
            ).cast("array<float>"),
        )
        .drop("rep")
        .write.mode("overwrite")
        .parquet(f"{out}/embeddings.parquet")
    )

    for name in TABLES:
        n = spark.read.parquet(f"{out}/{name}.parquet").count()
        print(name, n)


if __name__ == "__main__":
    main()
