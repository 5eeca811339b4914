"""Deterministic sampling & dataset splitting.

Training pipelines need samples and train/val/test splits that are
(a) reproducible across runs AND engines, (b) stable under
repartitioning, (c) leak-proof (the same key always lands in the
same split). ``df.sample()`` gives none of these (seed interacts
with partitioning); hash-bucket assignment gives all three:

    bucket(key) = first-two-md5-nibbles(key)  ∈ [0, 256)

md5 is bit-identical everywhere, so a 10% sample or an 80/10/10
split defined on md5 buckets is the same set of rows in Spark, in
DuckDB, and on any cluster layout. This is the standard
"hash your example id" split rule, engine-ified.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hexdigest import hex_int, hex_int_sql


def md5_bucket(key: Column) -> Column:
    """Deterministic bucket in [0, 256) from the first two md5 hex
    digits of the key's string form."""
    return hex_int(F.md5(key.cast("string")), 1, 2)


def md5_bucket_sql(key: str) -> str:
    """SQL twin of ``md5_bucket`` over the SQL expression ``key``
    (valid in Spark SQL and DuckDB)."""
    return hex_int_sql(f"md5(CAST({key} AS STRING))", 1, 2)


def hash_sample(df: DataFrame, key: str, pct: int) -> DataFrame:
    """Keep rows whose bucket < pct·256/100 — a deterministic ~pct%
    sample, stable under any partitioning."""
    cutoff = int(round(256 * pct / 100.0))
    return df.filter(md5_bucket(F.col(key)) < cutoff)


def dataset_split(
    df: DataFrame,
    key: str,
    train_pct: int = 80,
    val_pct: int = 10,
    split_col: str = "split",
) -> DataFrame:
    """Adds split ∈ {train, val, test} by md5 bucket of the key.
    Same key → same split, forever, everywhere (leak-proof)."""
    b = md5_bucket(F.col(key))
    t_cut = int(round(256 * train_pct / 100.0))
    v_cut = t_cut + int(round(256 * val_pct / 100.0))
    return df.withColumn(
        split_col,
        F.when(b < t_cut, "train").when(b < v_cut, "val").otherwise("test"),
    )


def stratified_hash_sample(
    df: DataFrame, key: str, stratum: str, pcts: dict[str, int], default_pct: int = 0
) -> DataFrame:
    """Deterministic stratified sampling: per-stratum md5-bucket
    cutoffs (e.g. keep 50% of 'en' docs, 10% of everything else).
    Same engine-independence as hash_sample — the kept set is a pure
    function of (key, stratum), reproducible anywhere, and rates are
    exact in expectation per stratum without a shuffle (one filter,
    no sampling state)."""
    bucket = md5_bucket(F.col(key))
    cutoff = F.lit(int(round(256 * default_pct / 100.0)))
    for value, pct in sorted(pcts.items()):
        cutoff = F.when(
            F.col(stratum) == value, F.lit(int(round(256 * pct / 100.0)))
        ).otherwise(cutoff)
    return df.filter(bucket < cutoff)
