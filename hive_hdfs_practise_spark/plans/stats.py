"""Statistical aggregation surface: exact percentiles, histograms,
moments, correlation.

Spark's ``percentile`` (exact, linear interpolation) matches
DuckDB's ``quantile_cont`` definition; at 100 TB the same queries
swap to ``approx_percentile`` (t-digest-style, mergeable, one pass)
— approx sketches have no cross-engine oracle, so the exact forms
carry the value check and the approx forms are asserted within
error bounds in tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hexdigest import hex_int, hex_int_sql
from ..sources.catalog import table, wide_table
from .registry import register


@register(
    "order_value_percentiles",
    oracle="""
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of order value per status (linear
    interpolation — matches DuckDB quantile_cont).

    wide_table: exact percentile buffers every value per partition
    (ObjectHashAggregate, no reduction), so a single-partition scan
    serializes the whole collect on one core — measured 3.0s→1.0s at
    sf0.1. The approx twin below keeps the plain scan: its sketch is
    mergeable, the aggregate reduces, and the extra shuffle loses."""
    o = wide_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )


# Fixed-boundary histogram sketch for quantiles: bucket width is a
# constant, so per-partition histograms merge by adding counts — the
# same mergeability contract as t-digest, but fully deterministic and
# restatable in ANSI SQL, so the ESTIMATES are value-checked.
_HIST_W = 1000.0
_HIST_QS = [("p50", 0.5), ("p90", 0.9), ("p99", 0.99)]


@register(
    "order_value_percentiles_approx",
    oracle=f"""
    WITH h AS (
        SELECT o_orderstatus,
               CAST(floor(o_totalprice / {_HIST_W}) AS BIGINT) AS b,
               count(*) AS c
        FROM orders GROUP BY 1, 2
    ),
    cum AS (
        SELECT o_orderstatus, b, c,
               sum(c) OVER (PARTITION BY o_orderstatus ORDER BY b) AS cum,
               sum(c) OVER (PARTITION BY o_orderstatus) AS n
        FROM h
    ),
    q AS (
        SELECT * FROM (VALUES
            ('p50', CAST(0.5 AS DOUBLE)),
            ('p90', CAST(0.9 AS DOUBLE)),
            ('p99', CAST(0.99 AS DOUBLE))) AS t(qn, q)
    ),
    pick AS (
        SELECT o_orderstatus, qn,
               CAST(b AS DOUBLE) * {_HIST_W}
                   + {_HIST_W} * (q * n - (cum - c)) / c AS est
        FROM cum, q
        WHERE (cum - c) < q * n AND cum >= q * n
    )
    SELECT o_orderstatus,
           round(max(CASE WHEN qn = 'p50' THEN est END), 4) AS p50,
           round(max(CASE WHEN qn = 'p90' THEN est END), 4) AS p90,
           round(max(CASE WHEN qn = 'p99' THEN est END), 4) AS p99
    FROM pick GROUP BY o_orderstatus
    """,
)
def order_value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate p50/p90/p99 per status from a fixed-boundary
    histogram sketch: one hash-aggregate builds per-(status, bucket)
    counts (mergeable across partitions by ADDING counts — the same
    contract t-digest offers; Spark's built-in ``percentile_approx``
    t-digest twin is bounds-asserted in test_stats), then the
    quantile is linearly interpolated inside the bucket whose
    cumulative count crosses q·n. Error is bounded by the bucket
    width; every arithmetic step is restated identically in the
    oracle, so the estimates are value-checked, not rows-only. The
    cumulative window runs over ~buckets rows per group (hundreds),
    not raw data."""
    o = table(spark, sf_dir, "orders")
    h = o.groupBy(
        "o_orderstatus",
        F.floor(F.col("o_totalprice") / _HIST_W).cast("bigint").alias("b"),
    ).agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("o_orderstatus")
    cum = h.select(
        "o_orderstatus",
        "b",
        "c",
        F.sum("c").over(w.orderBy("b")).alias("cum"),
        F.sum("c").over(w).alias("n"),
    )
    qq = F.explode(
        F.array(
            *[
                F.struct(F.lit(qn).alias("qn"), F.lit(q).alias("q"))
                for qn, q in _HIST_QS
            ]
        )
    ).alias("qq")
    sel = cum.select("*", qq).select(
        "o_orderstatus", "b", "c", "cum", "n", "qq.qn", "qq.q"
    )
    t = F.col("q") * F.col("n")
    picked = sel.filter(((F.col("cum") - F.col("c")) < t) & (F.col("cum") >= t))
    est = F.col("b").cast("double") * F.lit(_HIST_W) + F.lit(_HIST_W) * (
        t - (F.col("cum") - F.col("c"))
    ) / F.col("c")
    return picked.groupBy("o_orderstatus").agg(
        *[
            F.round(F.max(F.when(F.col("qn") == qn, est)), 4).alias(qn)
            for qn, _ in _HIST_QS
        ]
    )


@register(
    "order_value_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS bucket_min,
           round(max(o_totalprice), 2) AS bucket_max
    FROM orders
    GROUP BY 1
    """,
)
def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: one hash aggregate, no sort — the
    engine-side form of the dashboard's axis bucketing."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("bucket_min"),
            F.round(F.max("o_totalprice"), 2).alias("bucket_max"),
        )
    )


@register(
    "lineitem_moments",
    oracle="""
    SELECT l_returnflag,
           round(avg(l_quantity), 6)          AS mean_qty,
           round(stddev_samp(l_quantity), 6)  AS sd_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def lineitem_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics (Welford-style single-pass in both
    engines): stddev, correlation, covariance per return flag."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.avg("l_quantity"), 6).alias("mean_qty"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("sd_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
    )


@register(
    "customer_deciles_scalable",
    oracle="""
    WITH b AS (
        SELECT quantile_cont(c_acctbal, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs
        FROM customer
    )
    SELECT CAST(1 + len(list_filter(b.qs, q -> c.c_acctbal > q)) AS INTEGER) AS bucket,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_balance
    FROM customer c, b
    GROUP BY 1
    """,
)
def customer_deciles_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-decile bucketing WITHOUT a global window.

    ``customer_value_deciles`` (ntile) is exact equal-count but its
    global window funnels every row through ONE task — fine for a
    dashboard, a bottleneck at 100 TB. This variant computes the 9
    decile boundaries with a distributed percentile aggregate,
    broadcasts them (9 doubles), and assigns buckets with pure row-
    local arithmetic: two narrow passes, no global sort. Semantics
    differ from ntile only at exact-tie boundaries (equal-value rows
    land in the same bucket here, split across buckets by ntile).
    """
    c = table(spark, sf_dir, "customer")
    probs = [i / 10 for i in range(1, 10)]
    bounds = c.agg(
        F.percentile("c_acctbal", F.array(*[F.lit(p) for p in probs])).alias("qs")
    )
    bucket = (
        1
        + F.size(F.filter(F.col("qs"), lambda q: F.col("c_acctbal") > q))
    ).cast("int")
    return (
        c.join(F.broadcast(bounds))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
        )
    )


# Column profiling — the DESCRIBE/data-quality surface: one row per
# profiled column with row/null/distinct counts and value range. The
# unpivot explodes the four numeric measures into (column, value)
# pairs so a single grouped aggregate profiles them all in one scan.
PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "lineitem_profile",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{c}' AS column_name,
           count(*) AS n_rows,
           count(*) - count({c}) AS n_nulls,
           CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
           round(min({c}), 4) AS min_value,
           round(max({c}), 4) AS max_value
    FROM lineitem"""
        for c in PROFILE_COLS
    ),
)
def lineitem_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-column profile of lineitem: row count, null count,
    exact distinct count, min and max per measure column — the
    data-quality / catalog-statistics operator.

    Scale shape: one scan pruned to the four measures, exploded to
    (column_name, value) pairs, then a single grouped aggregate.
    The count-DISTINCT alongside min/max/count makes Spark plan an
    Expand (2x the exploded rows) — acceptable for a profiling pass
    that runs once per dataset; a hot-loop deployment would swap
    n_distinct to approx_count_distinct and lose the Expand (the
    same exact-vs-HLL trade documented for quality_report). Distinct
    counts of DOUBLE columns are well-defined cross-engine: both
    engines compare binary doubles, and min/max/counts are
    order-independent."""
    l = table(spark, sf_dir, "lineitem")
    pairs = l.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).alias("v"),
                    )
                    for c in PROFILE_COLS
                ]
            )
        ).alias("p")
    ).select("p.column_name", "p.v")
    return pairs.groupBy("column_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("v")).alias("n_nulls"),
        F.count_distinct("v").alias("n_distinct"),
        F.round(F.min("v"), 4).alias("min_value"),
        F.round(F.max("v"), 4).alias("max_value"),
    )


# Order-independent table checksum — the migration-verification
# primitive (exactly what this repo's own correctness gate does at
# query granularity, expressed as an operator users can run against
# any copy of a table). Each row contributes the md5-u32 of a
# canonical key string; integer sums are exact under any partitioning
# and merge order, so two engines (or two clusters) agree bit-for-bit
# iff the row sets match. Value columns are folded in as integer
# cents so float formatting can't enter the canonical string.
@register(
    "lineitem_checksum",
    oracle=f"""
    WITH c AS (
        SELECT md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                   CAST(l_linenumber AS VARCHAR) || ':' ||
                   CAST(CAST(round(l_extendedprice * 100, 0) AS BIGINT)
                        AS VARCHAR)) AS h
        FROM lineitem
    )
    SELECT count(*) AS n_rows,
           CAST(sum({hex_int_sql('h')}) AS BIGINT) AS checksum
    FROM c
    """,
)
def lineitem_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent checksum of lineitem (see note above): one
    narrow map (canonical string → md5 → u32) and one scalar sum —
    scales as a pure scan with map-side partial sums; the 1-row
    result is what two sides of a migration compare. The canonical
    string uses the primary key plus the price in integer cents:
    keys prove row membership, the value column proves content, and
    no float ever renders into the string."""
    l = table(spark, sf_dir, "lineitem")
    canon = F.concat_ws(
        ":",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").cast("string"),
    )
    return l.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(hex_int(F.md5(canon))).cast("bigint").alias("checksum"),
    )


# Closed-form OLS via aggregates — the distributed-ML primitive:
# slope/intercept/R² of price-vs-quantity per return flag from the
# six classical sums, computed EXACTLY. x = quantity (integral by
# TPC-H construction), y = price in integer cents: every Σ is an
# integer, carried as DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), so
# the normal-equation numerators/denominators are bit-exact under
# any partitioning; only the final three divisions run in double —
# identical scalar IEEE ops on identical inputs on both engines.
# (Float sums here would be merge-order-dependent and un-oracle-able
# — the same reason graph_pagerank runs fixed-point.)
@register(
    "lineitem_ols",
    oracle="""
    WITH b AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        FROM lineitem
    ),
    s AS (
        SELECT l_returnflag,
               count(*) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        FROM b GROUP BY l_returnflag
    ),
    d AS (
        SELECT l_returnflag, n, sx, sy,
               n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS den,
               n * syy - sy * sy AS deny
        FROM s
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS slope_cents,
           round((CAST(sy AS DOUBLE)
                  - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 4)
               AS intercept_cents,
           round(CAST(num AS DOUBLE) * CAST(num AS DOUBLE)
                 / (CAST(den AS DOUBLE) * CAST(deny AS DOUBLE)), 6) AS r2
    FROM d
    """,
)
def lineitem_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-return-flag OLS fit of extended price (cents) on quantity
    (see exact-integer note above). Scale shape: one hash aggregate
    with map-side partials — the six sums are the entire shuffle
    payload (3 groups × 6 numbers), which is why closed-form
    regression is THE scalable fit for single-feature models; the
    normal-equation arithmetic happens on the 3-row aggregate."""
    l = table(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(38,0)")
    b = l.select(
        "l_returnflag",
        F.col("l_quantity").cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("y"),
    )
    # Only Σy² can overflow BIGINT (cents² ~1e14 × rows); the other
    # five sums stay comfortably in long at any SF (x ≤ 50, y ≤ ~1e7,
    # xy ≤ 5e8 — ~1e16 total at 40×), so they aggregate as codegen'd
    # 64-bit sums and only syy pays the 128-bit decimal path
    # (measured 24.4 s → 12.0 s at the 40× scale-up). The decimal
    # widening for the normal-equation PRODUCTS below is unchanged.
    s = b.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("sx"),
        F.sum("y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(dec(F.col("y")) * dec(F.col("y"))).alias("syy"),
    )
    d = s.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        (dec(F.col("n")) * F.col("sxy") - F.col("sx") * F.col("sy")).alias("num"),
        (dec(F.col("n")) * F.col("sxx") - F.col("sx") * F.col("sx")).alias("den"),
        (dec(F.col("n")) * F.col("syy") - F.col("sy") * F.col("sy")).alias("deny"),
    )
    slope = F.col("num").cast("double") / F.col("den").cast("double")
    return d.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n_rows"),
        F.round(slope, 6).alias("slope_cents"),
        F.round(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double"),
            4,
        ).alias("intercept_cents"),
        F.round(
            F.col("num").cast("double")
            * F.col("num").cast("double")
            / (F.col("den").cast("double") * F.col("deny").cast("double")),
            6,
        ).alias("r2"),
    )


# Benford first-digit audit (r9) — the classic bulk-numeric QC /
# fraud screen: compare the first-digit distribution of order-line
# amounts against Benford's law log10(1 + 1/d). The digit comes from
# the STRING form of the exact integer cents (substring of a BIGINT
# cast — engine-identical; never log10 on doubles, which can land on
# 2.999… at power-of-10 boundaries and flip the digit). Expected
# shares are fixed literals; the per-digit z-ish deviation divides
# exact integers by a literal, rounded 6dp.
_BENFORD_P = {d: __import__("math").log10(1 + 1 / d) for d in range(1, 10)}


@register(
    "lineitem_benford_audit",
    oracle=f"""
    WITH c AS (
        SELECT CAST(substring(CAST(CAST(round(l_extendedprice * 100)
                                    AS BIGINT) AS VARCHAR), 1, 1) AS INT)
                   AS digit
        FROM lineitem WHERE l_extendedprice > 0
    ),
    m AS (
        SELECT digit, count(*) AS n FROM c WHERE digit >= 1 GROUP BY digit
    ),
    t AS (SELECT sum(n) AS tot FROM m),
    b AS (
        SELECT digit, CAST(p AS DOUBLE) AS p
        FROM (VALUES {", ".join(f"({d}, {p!r})" for d, p in _BENFORD_P.items())})
             v(digit, p)
    )
    SELECT b.digit,
           CAST(coalesce(m.n, 0) AS BIGINT) AS n,
           round(CAST(coalesce(m.n, 0) AS DOUBLE) / t.tot, 6) AS observed,
           round(b.p, 6) AS expected,
           round(CAST(coalesce(m.n, 0) AS DOUBLE) / t.tot - b.p, 6)
               AS deviation
    FROM b LEFT JOIN m ON m.digit = b.digit CROSS JOIN t
    """,
)
def lineitem_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-digit Benford audit of line amounts (see note above):
    per digit 1–9, the count, observed share, Benford expectation,
    and deviation.

    Scale shape: one scan reduced map-side to 9 groups; everything
    after is 9-row metadata. The digit extraction is a codegen'd
    string op on the exact integer cents."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") > 0
    )
    c = li.select(
        F.substring(
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint")
            .cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    # rows whose cents round to 0 (0 < price < 0.005) have digit 0:
    # excluded from the total too, so observed shares sum to 1
    m = (
        c.filter(F.col("digit") >= 1)
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = m.agg(F.sum("n").alias("tot"))
    b = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD_P.items()], "digit int, p double"
    )
    return (
        b.join(m, "digit", "left")
        .crossJoin(F.broadcast(t))
        .select(
            "digit",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            F.round(
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.col("tot"),
                6,
            ).alias("observed"),
            F.round(F.col("p"), 6).alias("expected"),
            F.round(
                F.coalesce(F.col("n"), F.lit(0)).cast("double")
                / F.col("tot")
                - F.col("p"),
                6,
            ).alias("deviation"),
        )
    )


# Rank-based group separation (r10): the Mann–Whitney U statistic
# and its effect size AUC = U/(n1·n2) — "if I draw one returned and
# one kept line at random, how often is the returned one pricier?"
# (the rank/AUC complement of the KS distance and chi2 already here;
# also exactly a binary classifier's ROC-AUC with the price as the
# score). Exactness: prices reduce to exact integer CENTS; ranks
# come from a cumulative count over the value axis — a WIDE-domain
# axis, so it rides operators/prefix_sum.sharded_cumsum (the
# lineitem_weighted_median rule, never a 1-partition window) — and
# ties use average ranks kept integral as rank×2 = 2C(v) − c(v) + 1.
# U×2 and the ×1e6 AUC are DECIMAL(38,0)/HUGEINT products
# (U×2·1e6 ≈ 4e19 at sf0.1 — int64 overflows), truncating div both
# sides. Group 1 = returned lines (l_returnflag = 'R').
@register(
    "lineitem_rank_auc",
    oracle="""
    WITH c AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS g1
        FROM lineitem
    ),
    v AS (
        SELECT cents, count(*) AS c, sum(g1) AS c1
        FROM c GROUP BY cents
    ),
    w AS (
        SELECT cents, c, c1,
               sum(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum
        FROM v
    ),
    r AS (
        SELECT CAST(sum(c1 * (2 * cum - c + 1)) AS HUGEINT) AS r1_x2,
               CAST(sum(c1) AS HUGEINT) AS n1,
               CAST(sum(c - c1) AS HUGEINT) AS n2
        FROM w
    )
    SELECT CAST(n1 AS BIGINT) AS n1,
           CAST(n2 AS BIGINT) AS n2,
           CAST(r1_x2 AS BIGINT) AS r1_x2,
           CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
           CAST((r1_x2 - n1 * (n1 + 1)) * 1000000 // (2 * n1 * n2)
                AS BIGINT) AS auc_micro
    FROM r
    """,
)
def lineitem_rank_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U / ROC-AUC of price vs returned-flag (see note
    above): one row — group sizes, the ×2 integer rank sum and U
    statistic, and AUC as a ×1e6 truncating-div integer.

    Scale shape: one scan reduced map-side to the distinct-cents
    grid; the rank cumsum is the two-level sharded prefix sum
    (parallelism grows with the grid, never a 1-partition window);
    the final statistics are one metadata-scale aggregate."""
    from ..operators.prefix_sum import sharded_cumsum

    c = table(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("g1"),
    )
    v = c.groupBy("cents").agg(
        F.count(F.lit(1)).alias("c"), F.sum("g1").alias("c1")
    )
    w = sharded_cumsum(
        v,
        [],
        "cents",
        "c",
        shard=F.expr("cents div 100000"),
    )
    r = w.agg(
        F.sum(
            F.col("c1") * (2 * F.col("cum") - F.col("c") + 1)
        )
        .cast("decimal(38,0)")
        .alias("r1_x2"),
        F.sum("c1").cast("decimal(38,0)").alias("n1"),
        F.sum(F.col("c") - F.col("c1")).cast("decimal(38,0)").alias("n2"),
    )
    return r.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("r1_x2").cast("bigint").alias("r1_x2"),
        F.expr("CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT)").alias("u1_x2"),
        F.expr(
            "CAST((r1_x2 - n1 * (n1 + 1)) * 1000000"
            " div (2 * n1 * n2) AS BIGINT)"
        ).alias("auc_micro"),
    )


# Spearman rank correlation (r10) — the monotone-association
# complement of lineitem_moments' Pearson (robust to the price
# distribution's skew): per return flag, Pearson over the two
# columns' AVERAGE ranks. Exactness stack: values reduce to exact
# integers (cents, unit quantities); per-group rank grids ride the
# sharded prefix sum with ties kept integral as rank×2 = 2C(v)−c(v)+1
# (the lineitem_rank_auc idiom, per-group); co-moments are exact
# DECIMAL(38,0)/HUGEINT integer sums (n·Σxy−ΣxΣy ≈ 4n⁴ ≈ 1e30 at
# 40× — the lineitem_correlation_matrix class), and both engines
# cast the SAME exact integers to double before the one sqrt/divide
# (IEEE-deterministic), rounded 6dp. Zero-variance groups are
# CASE-guarded to 0.0 on both sides (the ANSI/NaN rule).
@register(
    "lineitem_spearman_corr",
    oracle="""
    WITH r AS (
        SELECT l_returnflag AS g,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS x,
               CAST(round(l_quantity) AS BIGINT) AS y
        FROM lineitem
    ),
    gx AS (SELECT g, x, count(*) AS c FROM r GROUP BY g, x),
    wx AS (
        SELECT g, x,
               2 * sum(c) OVER (PARTITION BY g ORDER BY x
                                ROWS UNBOUNDED PRECEDING) - c + 1 AS r2x
        FROM gx
    ),
    gy AS (SELECT g, y, count(*) AS c FROM r GROUP BY g, y),
    wy AS (
        SELECT g, y,
               2 * sum(c) OVER (PARTITION BY g ORDER BY y
                                ROWS UNBOUNDED PRECEDING) - c + 1 AS r2y
        FROM gy
    ),
    j AS (
        SELECT r.g, CAST(wx.r2x AS HUGEINT) AS r2x,
               CAST(wy.r2y AS HUGEINT) AS r2y
        FROM r
        JOIN wx ON wx.g = r.g AND wx.x = r.x
        JOIN wy ON wy.g = r.g AND wy.y = r.y
    ),
    s AS (
        SELECT g, CAST(count(*) AS HUGEINT) AS n,
               sum(r2x) AS sx, sum(r2y) AS sy,
               sum(r2x * r2y) AS sxy,
               sum(r2x * r2x) AS sxx,
               sum(r2y * r2y) AS syy
        FROM j GROUP BY g
    )
    SELECT g AS l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                           / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                              * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
                ELSE 0.0 END AS spearman_rho
    FROM s
    """,
)
def lineitem_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of price vs quantity per return
    flag (see note above): group size and ρ rounded 6dp.

    Scale shape: two distinct-value-grid aggregates, each ranked by
    the per-group sharded prefix sum (never a |groups|-partition
    window); two grid joins back to rows (one exchange each); one
    DECIMAL co-moment aggregate per group. No float is ever summed —
    doubles appear only in the final per-group scalar expression."""
    from ..operators.prefix_sum import sharded_cumsum

    r = table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("x"),
        F.round(F.col("l_quantity")).cast("bigint").alias("y"),
    )
    gx = r.groupBy("g", "x").agg(F.count(F.lit(1)).alias("c"))
    wx = sharded_cumsum(
        gx, ["g"], "x", "c", shard=F.expr("x div 100000")
    ).select("g", "x", (2 * F.col("cum") - F.col("c") + 1).alias("r2x"))
    gy = r.groupBy("g", "y").agg(F.count(F.lit(1)).alias("c"))
    wy = sharded_cumsum(
        gy, ["g"], "y", "c", shard=F.expr("y div 8")
    ).select("g", "y", (2 * F.col("cum") - F.col("c") + 1).alias("r2y"))
    j = r.join(wx, ["g", "x"]).join(wy, ["g", "y"]).select(
        "g",
        F.col("r2x").cast("decimal(38,0)").alias("r2x"),
        F.col("r2y").cast("decimal(38,0)").alias("r2y"),
    )
    s = j.groupBy("g").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("r2x").cast("decimal(38,0)").alias("sx"),
        F.sum("r2y").cast("decimal(38,0)").alias("sy"),
        F.sum(F.col("r2x") * F.col("r2y")).cast("decimal(38,0)").alias("sxy"),
        F.sum(F.col("r2x") * F.col("r2x")).cast("decimal(38,0)").alias("sxx"),
        F.sum(F.col("r2y") * F.col("r2y")).cast("decimal(38,0)").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    rho = F.when(
        (denx > 0) & (deny > 0),
        F.round(
            num.cast("double")
            / (F.sqrt(denx.cast("double")) * F.sqrt(deny.cast("double"))),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return s.select(
        F.col("g").alias("l_returnflag"),
        F.col("n").cast("bigint").alias("n_rows"),
        rho.alias("spearman_rho"),
    )
