"""Vector math over ``array<float|double>`` embedding columns, and
the one place each vector formula is written, in a Spark and a SQL
form: the guarded 6-dp cosine (``cosine6`` / ``cosine6_sql``) and
its exact top-k, the squared L2 of the SQL k-means unrolls
(``l2sq_sql``), the md5 hyperplanes and their sign-bit bucket fold
(``hyperplanes``, ``hyperplane_buckets`` / ``hyperplane_bucket_ctes``)
and the 1e6 integer quantization (``QUANT_SCALE``, ``quantized_sql``).

Everything is built from ``F.zip_with`` / ``F.aggregate`` higher-
order functions — JVM-side, no Python in the loop, no UDF
serialization. Inputs are cast to double first so Spark and the
DuckDB oracle fold in the same precision (both engines reduce the
list sequentially → bitwise-identical sums).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hexdigest import hex_int, hex_int_sql

# Components quantize HALF_UP to this many units per 1.0 wherever a
# vector pipeline runs in exact integers (PQ/IVFPQ/OPQ, the SemDeDup
# VQ, the covariance and PCA co-moments).
QUANT_SCALE = 1_000_000


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; 0.0 when either norm is 0 (instead of
    NULL/NaN) so downstream thresholds are total."""
    d = dot(a, b)
    na, nb = norm(a), norm(b)
    return F.when((na > 0) & (nb > 0), d / (na * nb)).otherwise(F.lit(0.0))


def cosine6(a: Column, b: Column) -> Column:
    """The guarded cosine rounded to 6 dp: the value every
    oracle-checked ranking and threshold compares (rounded so that
    engine-order noise below 1e-6 cannot flip a tie)."""
    return F.round(cosine(a, b), 6)


def cosine6_sql(a: str, b: str) -> str:
    """DuckDB twin of ``cosine6``: 0.0 when either norm is 0 (a raw
    ``list_cosine_similarity`` is NaN there, and NaN sorts first
    under DESC)."""
    return (
        f"round(CASE WHEN list_sum(list_transform({a}, x -> x * x)) > 0"
        f" AND list_sum(list_transform({b}, x -> x * x)) > 0"
        f" THEN list_cosine_similarity({a}, {b}) ELSE 0.0 END, 6)"
    )


def top_k_cosine(df: DataFrame, a: Column, b: Column, k: int) -> DataFrame:
    """Exact top-k of ``df`` by ``cosine6(a, b)``: (vec_id, cosine),
    cosine descending, ties to the lower vec_id — a TakeOrdered, so
    each partition keeps k rows and nothing is globally sorted."""
    return (
        df.select("vec_id", cosine6(a, b).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def l2sq_sql(a: str, b: str, dim: int) -> str:
    """DuckDB squared L2 distance over the first ``dim`` components
    (the SQL k-means argmin and probe ranking; sqrt is monotone, so
    it is left out)."""
    return (
        f"list_sum(list_transform(range(1, {dim} + 1), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
    )


def quantized_sql(name: str = "e", col: str = "xi") -> str:
    """The CTE ``name(vec_id, col)``: every embedding quantized HALF_UP
    to ``QUANT_SCALE`` int64 units (DuckDB ``round`` rounds half away
    from zero, as Spark's does and ``similarity/pq.py::quantize_rows``
    does)."""
    return f"""{name} AS MATERIALIZED (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(round(x * {QUANT_SCALE}) AS BIGINT)) AS {col}
        FROM embeddings
    )"""


def hyperplanes(e: DataFrame, vec_col: str, n_planes: int) -> DataFrame:
    """(plane_id, plane): deterministic pseudo-random hyperplanes —
    component c of plane p is md5("p:c") read as a u32 and mapped to
    [-1, 1) — with the dimension read lazily from the data
    (``size(vec)`` of one row), so building a plan runs no job. No
    RNG state: the planes, and every bucket derived from them, are
    the same across runs and engines."""
    comp = (
        hex_int(F.md5(F.concat_ws(":", F.col("plane_id"), F.col("c"))))
        / F.lit(float(1 << 31))
        - F.lit(1.0)
    )
    return (
        e.limit(1)
        .select(F.size(F.col(vec_col)).alias("_dim"))
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(n_planes - 1))).alias("plane_id"),
            "_dim",
        )
        .select(
            "plane_id", F.explode(F.sequence(F.lit(0), F.col("_dim") - 1)).alias("c")
        )
        .select("plane_id", "c", comp.alias("comp"))
        .groupBy("plane_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("c", "comp"))),
                lambda s: s["comp"],
            ).alias("plane")
        )
    )


def hyperplane_buckets(
    e: DataFrame, vec_col: str, n_bands: int, ppb: int, carry: tuple = ()
) -> DataFrame:
    """Random-hyperplane (sign-bit) LSH: (vec_id, band, bucket, *carry)
    for ``n_bands`` bands of ``ppb`` planes each. Plane p sits in band
    p div ppb, and its sign bit (1 when v · plane >= 0, so a zero
    vector is all ones) has weight 2^(ppb - 1 - p mod ppb): a band's
    bucket reads its bits in plane order, most significant first.
    The weights ride the broadcast plane table, so the fold is one
    codegen'd sum per (vec_id, band). ``carry`` columns of ``e`` are
    grouped along (each is one value per vec_id)."""
    planes = hyperplanes(e, vec_col, n_bands * ppb).select(
        "plane",
        F.expr(f"plane_id div {ppb}").cast("int").alias("band"),
        F.expr(f"shiftleft(1, {ppb - 1} - plane_id % {ppb})").alias("_w"),
    )
    bit = F.when(
        dot(as_double(F.col(vec_col)), F.col("plane")) >= 0, F.col("_w")
    ).otherwise(F.lit(0))
    return (
        e.join(F.broadcast(planes))
        .groupBy("vec_id", "band", *carry)
        .agg(F.sum(bit).alias("bucket"))
    )


def hyperplane_bucket_ctes(n_bands: int, ppb: int) -> str:
    """DuckDB twin of ``hyperplanes`` + ``hyperplane_buckets``, as a
    CTE list (no WITH): ``e(vec_id, v)`` and
    ``buckets(vec_id, band, bucket)`` over the 64-d ``embeddings``."""
    u32 = hex_int_sql("md5(concat(p.plane_id, ':', c.c))")
    return f"""
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    pc AS (
        SELECT p.plane_id, c.c, {u32} / 2147483648.0 - 1.0 AS comp
        FROM generate_series(0, {n_bands * ppb - 1}) AS p(plane_id),
             generate_series(0, 63) AS c(c)
    ),
    planes AS (
        SELECT plane_id, plane_id // {ppb} AS band,
               list(comp ORDER BY c) AS plane
        FROM pc GROUP BY plane_id
    ),
    bits AS (
        SELECT e.vec_id, pl.band, pl.plane_id,
               CASE WHEN list_sum(list_transform(range(1, 65),
                                                 i -> e.v[i] * pl.plane[i])) >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM e, planes AS pl
    ),
    buckets AS (
        SELECT vec_id, band,
               CAST(sum(bit * (1 << ({ppb - 1} - (plane_id % {ppb})))) AS BIGINT) AS bucket
        FROM bits GROUP BY vec_id, band
    )"""


def l2_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def normalize(a: Column) -> Column:
    """Unit-normalize (zero vector → unchanged). Pre-normalizing
    embeddings once at ingest turns every cosine into a plain dot
    product — the 100 TB-scale pattern for repeated similarity
    scans."""
    n = norm(a)
    return F.when(n > 0, F.transform(a, lambda x: x / n)).otherwise(a)
