"""Distinct aggregation surface (SURVEY.md §2.4 lists distinct-agg
ABSENT in the reference; engine-complete here).

``count(DISTINCT x)`` plans as a two-phase expand+aggregate in
Spark — exact, but the expand multiplies shuffle rows by the number
of distinct-agg columns. At 100 TB prefer
``approx_count_distinct`` (HyperLogLog++, one pass, mergeable
sketches); it has no cross-engine oracle (different HLL
implementations) so the exact form carries the value check and the
approx form is asserted within rsd bounds in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hexdigest import hex_int_sql
from ..sources.catalog import table
from .registry import register


@register(
    "distinct_counts",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey)                         AS n_customers,
           count(DISTINCT CAST(year(o_orderdate) AS INTEGER)) AS n_years,
           count(*)                                          AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (two-phase expand+aggregate):
    distinct customers and order years per status."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.countDistinct(F.year("o_orderdate")).alias("n_years"),
        F.count(F.lit(1)).alias("n_orders"),
    )




# KMV (k-minimum-values, the theta-sketch core): keep the k smallest
# hash values of the distinct keys; estimate = (k-1)/h_(k). Unlike
# HLL the sketch is just k ordered doubles — trivially mergeable
# (min-k of unions) and, with an md5-derived hash, identical in any
# engine, so the estimate itself is oracle-checked EXACTLY.
KMV_K = 32


def _kmv_hash_sql(col: str) -> str:
    """Uniform (0,1] hash of ``col`` from the first 8 md5 nibbles —
    the dialect-neutral idiom (md5 is the only hash whose hex output
    matches bit-for-bit across Spark and DuckDB)."""
    return f"(({hex_int_sql(f'md5(CAST({col} AS VARCHAR))')} + 1) / 4294967296.0)"


_KMV_H = _kmv_hash_sql("user_id")


@register(
    "events_kmv_distinct_users",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT event_type, {_KMV_H} AS hv FROM events
    ),
    ranked AS (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_distinct
        FROM h
    )
    SELECT event_type,
           CAST(n_distinct AS BIGINT) AS n_exact,
           round(CASE WHEN n_distinct >= {KMV_K}
                      THEN ({KMV_K} - 1) / max(CASE WHEN rn = {KMV_K} THEN hv END)
                      ELSE CAST(n_distinct AS DOUBLE) END, 4) AS n_kmv
    FROM ranked
    GROUP BY event_type, n_distinct
    """,
)
def events_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via a KMV/theta sketch: the
    k smallest md5-hash values of the key set. Sketch state is k
    doubles per group (mergeable by taking the min-k of a union —
    the property HLL shares but with exact cross-engine
    reproducibility, since the hash is md5-derived). Estimate
    (k-1)/h_(k); groups with fewer than k distinct keys fall back to
    the exact count the sketch already holds. The oracle restates
    hash, rank, and estimate — an 'approximate' operator, checked
    exactly."""
    e = table(spark, sf_dir, "events")
    h = e.select("event_type", F.expr(_KMV_H.replace("VARCHAR", "STRING")).alias("hv")).distinct()
    w = Window.partitionBy("event_type")
    ranked = h.select(
        "event_type",
        "hv",
        F.row_number().over(w.orderBy("hv")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_distinct"),
    )
    est = F.when(
        F.col("n_distinct") >= KMV_K,
        (KMV_K - 1) / F.max(F.when(F.col("rn") == KMV_K, F.col("hv"))),
    ).otherwise(F.col("n_distinct").cast("double"))
    return (
        ranked.groupBy("event_type", "n_distinct")
        .agg(F.round(est, 4).alias("n_kmv"))
        .select(
            "event_type",
            F.col("n_distinct").cast("bigint").alias("n_exact"),
            "n_kmv",
        )
    )


_KMV_CUST = _kmv_hash_sql("o_custkey")


@register(
    "distinct_counts_approx",
    oracle=f"""
    WITH h AS (
        SELECT DISTINCT o_orderstatus, {_KMV_CUST} AS hv FROM orders
    ),
    ranked AS (
        SELECT o_orderstatus, hv,
               row_number() OVER (PARTITION BY o_orderstatus ORDER BY hv) AS rn,
               count(*) OVER (PARTITION BY o_orderstatus) AS n_distinct
        FROM h
    ),
    kmv AS (
        SELECT o_orderstatus,
               round(CASE WHEN n_distinct >= {KMV_K}
                          THEN ({KMV_K} - 1) / max(CASE WHEN rn = {KMV_K} THEN hv END)
                          ELSE CAST(n_distinct AS DOUBLE) END, 4) AS n_customers_approx
        FROM ranked
        GROUP BY o_orderstatus, n_distinct
    )
    SELECT o.o_orderstatus, kmv.n_customers_approx, count(*) AS n_orders
    FROM orders o JOIN kmv ON o.o_orderstatus = kmv.o_orderstatus
    GROUP BY o.o_orderstatus, kmv.n_customers_approx
    """,
)
def distinct_counts_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct customers per status from a KMV/theta
    sketch (k smallest md5-hash values of the key set; estimate
    (k-1)/h_(k), exact fallback under k keys). Same mergeable
    one-pass shape as HyperLogLog — Spark's built-in
    ``approx_count_distinct`` HLL twin is bounds-asserted in
    test_stats — but with a portable hash, so the ESTIMATE itself is
    value-checked against the oracle instead of recording a weaker
    rows-only result."""
    o = table(spark, sf_dir, "orders")
    h = (
        o.select(
            "o_orderstatus", F.expr(_KMV_CUST.replace("VARCHAR", "STRING")).alias("hv")
        )
        .distinct()
    )
    w = Window.partitionBy("o_orderstatus")
    ranked = h.select(
        "o_orderstatus",
        "hv",
        F.row_number().over(w.orderBy("hv")).alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_distinct"),
    )
    est = F.when(
        F.col("n_distinct") >= KMV_K,
        (KMV_K - 1) / F.max(F.when(F.col("rn") == KMV_K, F.col("hv"))),
    ).otherwise(F.col("n_distinct").cast("double"))
    kmv = (
        ranked.groupBy("o_orderstatus", "n_distinct")
        .agg(F.round(est, 4).alias("n_customers_approx"))
        .select("o_orderstatus", "n_customers_approx")
    )
    counts = o.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("n_orders"))
    return counts.join(F.broadcast(kmv), "o_orderstatus").select(
        "o_orderstatus", "n_customers_approx", "n_orders"
    )


# Theta-sketch set operations. The retained-values convention:
# theta_S = h_(k) (the k-th smallest hash of the set, 1.0 when the
# set holds fewer than k distinct keys), retained_S = hashes < theta
# (all of them when theta = 1.0). |S| ≈ |retained|/theta — identical
# to the KMV estimate (k-1)/h_(k) for a single set, and the SAME
# retained sets compose across sets: union/intersection/difference
# estimates all divide a retained-count by theta = min(theta_A,
# theta_B). This composability under a shared theta is what HLL
# lacks (HLL unions, but cannot intersect/subtract without
# inclusion-exclusion error blowup) and why theta sketches are the
# 100 TB tool for audience-overlap-style questions.
_THETA_K = 32


@register(
    "events_theta_setops",
    oracle=f"""
    WITH m AS (
        SELECT DISTINCT CASE WHEN event_type = 'click' THEN 'A' ELSE 'B' END AS s,
               user_id, {_KMV_H} AS hv
        FROM events WHERE event_type IN ('click', 'error')
    ),
    r AS (
        SELECT s, hv, row_number() OVER (PARTITION BY s ORDER BY hv) AS rn FROM m
    ),
    th AS (
        SELECT coalesce(min(t), 1.0) AS theta FROM (
            SELECT s, max(CASE WHEN rn = {_THETA_K} THEN hv END) AS t
            FROM r GROUP BY s
        ) AS per_set
    ),
    ret AS (
        SELECT s, hv FROM r, th WHERE hv < theta OR theta = 1.0
    ),
    byhv AS (
        SELECT hv, max(CASE WHEN s = 'A' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN s = 'B' THEN 1 ELSE 0 END) AS in_b
        FROM ret GROUP BY hv
    ),
    ex AS (
        SELECT user_id, max(CASE WHEN s = 'A' THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN s = 'B' THEN 1 ELSE 0 END) AS in_b
        FROM m GROUP BY user_id
    )
    SELECT op, n_exact, round(n_ret / (SELECT theta FROM th), 4) AS n_est
    FROM (
        SELECT 'union' AS op,
               (SELECT count(*) FROM ex) AS n_exact,
               (SELECT count(*) FROM byhv) AS n_ret
        UNION ALL
        SELECT 'intersection',
               (SELECT count(*) FROM ex WHERE in_a = 1 AND in_b = 1),
               (SELECT count(*) FROM byhv WHERE in_a = 1 AND in_b = 1)
        UNION ALL
        SELECT 'a_not_b',
               (SELECT count(*) FROM ex WHERE in_a = 1 AND in_b = 0),
               (SELECT count(*) FROM byhv WHERE in_a = 1 AND in_b = 0)
    ) AS ops
    """,
)
def events_theta_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user set algebra between two event cohorts (click
    vs error) from fixed-size theta sketches: union, intersection,
    and difference cardinality estimates, each next to its exact
    verifier count. Sketch state is ≤k hashes per set; the md5 hash
    makes every retained value — hence the whole estimate —
    bit-reproducible in SQL, so even the approximate path is
    value-checked. The exact counts exist to grade the sketch; at
    100 TB only the sketch side runs (the distinct scan feeding it
    is one shuffle of the key set, and sketches of partitions merge
    by min-k)."""
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "error")
    )
    m = (
        e.select(
            F.when(F.col("event_type") == "click", "A").otherwise("B").alias("s"),
            "user_id",
            F.expr(_KMV_H.replace("VARCHAR", "STRING")).alias("hv"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # feeds sketch AND exact verifier
    )
    r = m.select(
        "s", "hv", F.row_number().over(Window.partitionBy("s").orderBy("hv")).alias("rn")
    )
    # theta = min over sets of h_(k); 1.0 when no set reaches k keys
    # theta_S = h_(k) per set (NULL = under k keys = 1.0); theta =
    # min over sets, min() skipping NULLs, 1.0 when all are under k
    th = (
        r.groupBy("s")
        .agg(F.max(F.when(F.col("rn") == _THETA_K, F.col("hv"))).alias("t"))
        .agg(F.coalesce(F.min("t"), F.lit(1.0)).alias("theta"))
    )
    ret = r.join(F.broadcast(th), (F.col("hv") < F.col("theta")) | (F.col("theta") == 1.0))
    byhv = ret.groupBy("hv").agg(
        F.max(F.when(F.col("s") == "A", 1).otherwise(0)).alias("in_a"),
        F.max(F.when(F.col("s") == "B", 1).otherwise(0)).alias("in_b"),
    )
    # theta is cross-joined back in (NOT F.first over byhv rows):
    # with both cohorts empty, byhv has no rows and a first() would
    # leave theta NULL → n_est NULL where the oracle yields 0.0.
    est = byhv.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).alias("u_ret"),
        F.coalesce(
            F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")), F.lit(0)
        ).alias("i_ret"),
        F.coalesce(
            F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 0)).cast("long")), F.lit(0)
        ).alias("d_ret"),
    ).crossJoin(F.broadcast(th))
    ex = (
        m.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("s") == "A", 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("s") == "B", 1).otherwise(0)).alias("in_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("u_ex"),
            F.coalesce(
                F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long")), F.lit(0)
            ).alias("i_ex"),
            F.coalesce(
                F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 0)).cast("long")), F.lit(0)
            ).alias("d_ex"),
        )
    )
    joined = est.crossJoin(ex)  # 1-row frames throughout
    rows = [
        ("union", "u_ex", "u_ret"),
        ("intersection", "i_ex", "i_ret"),
        ("a_not_b", "d_ex", "d_ret"),
    ]
    stack_args: list = []
    for op, ex_c, ret_c in rows:
        stack_args += [
            F.lit(op),
            F.col(ex_c),
            F.round(F.col(ret_c) / F.col("theta"), 4),
        ]
    return joined.select(
        F.stack(F.lit(len(rows)), *stack_args).alias("op", "n_exact", "n_est")
    )


# Sliding-window distinct via KMV MERGE (r5): per observed day, the
# trailing-7-day distinct-user estimate computed by merging the 7
# daily sketches — the property that makes sketches matter at scale:
# daily state is K doubles, windows re-aggregate STATE, never raw
# keys. Merge correctness: min-k of a union of min-k sets IS the
# min-k of the union; and a merged set smaller than K can only
# happen when no contributing day was truncated, i.e. the merged
# count IS the exact windowed distinct — so the <K fallback is exact
# by construction, not approximately.
SLIDING_DAYS = 7


@register(
    "events_sliding_distinct_kmv",
    oracle=f"""
    WITH dh AS (
        SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01'
                   AS dd,
               {_kmv_hash_sql("user_id")} AS hv
        FROM events
    ),
    daily AS (
        SELECT dd, hv FROM (
            SELECT dd, hv,
                   row_number() OVER (PARTITION BY dd ORDER BY hv) AS rn
            FROM dh
        ) WHERE rn <= {KMV_K}
    ),
    fanned AS (
        SELECT unnest(generate_series(dd, dd + {SLIDING_DAYS - 1})) AS tdd, hv
        FROM daily
    ),
    merged AS (
        SELECT DISTINCT tdd, hv FROM fanned
        WHERE tdd IN (SELECT dd FROM dh)
    ),
    ranked AS (
        SELECT tdd, hv,
               row_number() OVER (PARTITION BY tdd ORDER BY hv) AS rn,
               count(*) OVER (PARTITION BY tdd) AS n_merged
        FROM merged
    )
    -- TIMESTAMP (not DATE) so both engines materialize datetime64
    -- through pandas — the r10 dtype-grain warn
    SELECT CAST(DATE '1970-01-01' + CAST(tdd AS INTEGER) AS TIMESTAMP)
               AS window_end,
           round(CASE WHEN n_merged >= {KMV_K}
                      THEN ({KMV_K} - 1)
                           / max(CASE WHEN rn = {KMV_K} THEN hv END)
                      ELSE CAST(n_merged AS DOUBLE) END, 4) AS n_users_kmv
    FROM ranked
    GROUP BY tdd, n_merged
    """,
)
def events_sliding_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{SLIDING_DAYS}-day distinct users per day, from MERGED
    daily KMV sketches (see note above — the <K fallback is exact by
    the union argument). Pipeline: distinct (day, hash) → per-day
    min-K truncation (the daily sketch, K doubles of state) → each
    sketch row fans out to the {SLIDING_DAYS} windows it serves
    (integer epoch-day explode) → per-window re-rank + (K−1)/h_(K).
    Every stage after the first distinct handles SKETCH rows
    (≤ K·days), so window re-aggregation is metadata-scale no matter
    the corpus; the md5-derived hash keeps the whole thing — an
    'approximate' operator — value-checked exactly."""
    e = table(spark, sf_dir, "events")
    dh = e.select(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .alias("dd"),
        F.expr(_kmv_hash_sql("user_id").replace("VARCHAR", "STRING")).alias(
            "hv"
        ),
    ).distinct()
    wd = Window.partitionBy("dd").orderBy("hv")
    daily = (
        dh.select("dd", "hv", F.row_number().over(wd).alias("rn"))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
    )
    fanned = daily.select(
        F.explode(
            F.sequence(F.col("dd"), F.col("dd") + (SLIDING_DAYS - 1))
        ).alias("tdd"),
        "hv",
    )
    observed = dh.select(F.col("dd").alias("tdd")).distinct()
    merged = fanned.join(observed, "tdd", "left_semi").distinct()
    wt = Window.partitionBy("tdd")
    ranked = merged.select(
        "tdd",
        "hv",
        F.row_number().over(wt.orderBy("hv")).alias("rn"),
        F.count(F.lit(1)).over(wt).alias("n_merged"),
    )
    est = F.when(
        F.col("n_merged") >= KMV_K,
        (KMV_K - 1) / F.max(F.when(F.col("rn") == KMV_K, F.col("hv"))),
    ).otherwise(F.col("n_merged").cast("double"))
    return (
        ranked.groupBy("tdd", "n_merged")
        .agg(F.round(est, 4).alias("n_users_kmv"))
        .select(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("tdd"))
            .cast("timestamp")
            .alias("window_end"),
            "n_users_kmv",
        )
    )
