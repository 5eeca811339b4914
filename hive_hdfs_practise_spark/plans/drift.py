"""Drift detection and distributional profiling — the statistics a
training-data / feature pipeline monitors between snapshots: weighted
median, per-source entropy, winsorized robust means, chi-square and
KS and PSI drift tests, and the Gini inequality coefficient.

Split from plans/stats.py so the module registers early (the driver's
correctness-gate sampling budget walks registration order; see
plans/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hexdigest import hex_int
from ..operators.sampling import md5_bucket_sql
from ..sources.catalog import table, wide_table
from .registry import register




@register(
    "lineitem_weighted_median",
    oracle="""
    WITH g AS (
        SELECT l_returnflag, l_extendedprice,
               sum(CAST(trunc(l_quantity) AS BIGINT)) AS w
        FROM lineitem GROUP BY l_returnflag, l_extendedprice
    ), c AS (
        SELECT l_returnflag, l_extendedprice,
               sum(w) OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice) AS cum,
               sum(w) OVER (PARTITION BY l_returnflag) AS tot
        FROM g
    )
    SELECT l_returnflag,
           min(l_extendedprice) AS w_median_price,
           CAST(max(tot) AS BIGINT) AS total_qty
    FROM c WHERE 2 * cum >= tot
    GROUP BY l_returnflag
    """,
)
def lineitem_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag: the
    smallest price whose cumulative weight reaches half the total
    (the lower weighted median — a deterministic integer rule, no
    interpolation, so no float noise anywhere: weights are integral
    quantities summed exactly, and the median is one of the input
    price values bit-identical in both engines).

    Scale shape: the corpus collapses FIRST to the (flag, price)
    grid (map-side-combining aggregate — the only stage that reads
    lineitem). ``l_extendedprice``'s domain is wide (≈1 distinct
    price per row: 594k grid rows at sf0.1), so a per-flag ordered
    window would push the whole grid through |flags| = 3 partitions —
    the low-cardinality window trap. Instead the cumulative sum is
    TWO-LEVEL (``operators/prefix_sum.py::sharded_cumsum``): shard
    the price axis into fixed ranges, run the ordered window per
    (flag, shard) — parallelism grows with the grid — and add each
    shard's offset (the running total of all PRIOR shards, computed
    on the flags×shards metadata-scale table and broadcast back).
    Shard boundaries are monotone in price, so offset + in-shard cum
    IS the global cumulative weight, exactly, in integers. Measured
    2.6 s → 1.3 s warm at sf0.1.
    """
    from ..operators.prefix_sum import sharded_cumsum

    l = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    )
    g = l.groupBy("l_returnflag", "l_extendedprice").agg(
        F.sum(F.col("l_quantity").cast("bigint")).alias("w")
    )
    c = sharded_cumsum(
        g,
        ["l_returnflag"],
        "l_extendedprice",
        "w",
        F.floor(F.col("l_extendedprice") / F.lit(1024.0)).cast("int"),
    )
    return (
        c.filter(2 * F.col("cum") >= F.col("tot"))
        .groupBy("l_returnflag")
        .agg(
            F.min("l_extendedprice").alias("w_median_price"),
            F.max("tot").cast("bigint").alias("total_qty"),
        )
    )


@register(
    "documents_source_entropy",
    oracle=r"""
    WITH toks AS (
        SELECT source, t.word AS word
        FROM documents,
             unnest(regexp_extract_all(trim(text), '\S+')) AS t(word)
    ), wc AS (
        SELECT source, word, count(*) AS c FROM toks GROUP BY source, word
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           count(*) AS vocab_size,
           round(ln(CAST(sum(c) AS DOUBLE))
                 - sum(c * ln(CAST(c AS DOUBLE))) / sum(c), 6) AS entropy,
           round(CAST(count(*) AS DOUBLE) / sum(c), 6) AS type_token_ratio
    FROM wc GROUP BY source
    """,
)
def documents_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token diversity: Shannon entropy of the word
    distribution (nats) and type-token ratio — the curation signals
    that catch template/boilerplate-heavy sources before they skew a
    training mix.

    Entropy uses the factored form H = ln(N) − Σ c·ln(c) / N so the
    per-word term needs only that word's count — one pass over the
    (source, word) aggregate, never a p·ln(p) over per-row
    probabilities. Exact-integer counts carry the whole computation;
    the single float sum (Σ c·ln c over a saturating ~2k vocabulary)
    is rounded at 6dp on both sides.

    Scale shape: explode reduces straight into the (source, word)
    map-side-combining aggregate — the shuffle carries
    |sources|×|vocab| rows, not tokens; the per-source reduction is
    then metadata-scale.
    """
    d = wide_table(spark, sf_dir, "documents")
    from ..functions import text as tx

    wc = (
        d.select("source", F.explode(tx.tokens(F.col("text"))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return wc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.round(
            F.log(F.sum("c").cast("double"))
            - F.sum(F.col("c") * F.log(F.col("c").cast("double"))) / F.sum("c"),
            6,
        ).alias("entropy"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("c"), 6).alias(
            "type_token_ratio"
        ),
    )


@register(
    "lineitem_winsorized_stats",
    oracle="""
    WITH b AS (
        SELECT l_returnflag,
               quantile_cont(l_extendedprice, 0.01) AS lo,
               quantile_cont(l_extendedprice, 0.99) AS hi
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN l.l_extendedprice < b.lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_low,
           CAST(sum(CASE WHEN l.l_extendedprice > b.hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clipped_high,
           round(avg(l.l_extendedprice), 2) AS mean_raw,
           round(avg(least(greatest(l.l_extendedprice, b.lo), b.hi)), 2)
               AS mean_winsorized
    FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def lineitem_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-group statistics: clip extended price to its
    group's [p1, p99] and compare raw vs robust means, with clip
    counts — the outlier-capping preprocessing step of a feature
    pipeline, expressed as one exact-percentile pass plus one scan.

    Scale shape: the bounds table is |groups| rows (exact percentile
    buffers per group feed it — at 100 TB the documented swap is
    approx_percentile, same plan shape); it broadcasts back onto the
    scan, so the clip+aggregate is a single map-side-combining pass.
    Spark ``percentile`` and DuckDB ``quantile_cont`` share the
    linear-interpolation definition; means are rounded at 2dp (the
    sums reach ~2e10 — 4dp would sit inside float merge-order noise).
    """
    l = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    b = wide_table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.01)).alias("lo"),
        F.percentile("l_extendedprice", F.lit(0.99)).alias("hi"),
    )
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return (
        l.join(F.broadcast(b), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("lo"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clipped_low"),
            F.sum(
                F.when(F.col("l_extendedprice") > F.col("hi"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clipped_high"),
            F.round(F.avg("l_extendedprice"), 2).alias("mean_raw"),
            F.round(F.avg(clipped), 2).alias("mean_winsorized"),
        )
    )


@register(
    "lineitem_chi2_flag_status",
    oracle="""
    WITH ct AS (
        SELECT l_returnflag AS f, l_linestatus AS m, count(*) AS o
        FROM lineitem GROUP BY 1, 2
    ),
    grid AS (
        SELECT f, m, coalesce(o, 0) AS o FROM
        (SELECT DISTINCT f FROM ct) CROSS JOIN (SELECT DISTINCT m FROM ct)
        LEFT JOIN ct USING (f, m)
    ),
    rs AS (SELECT f, sum(o) AS r FROM grid GROUP BY f),
    cs AS (SELECT m, sum(o) AS c FROM grid GROUP BY m),
    n AS (SELECT sum(o) AS n FROM grid)
    SELECT CAST(max(n.n) AS BIGINT) AS n_rows,
           CAST((count(DISTINCT grid.f) - 1) * (count(DISTINCT grid.m) - 1)
                AS INTEGER) AS dof,
           round(sum(
               (grid.o - CAST(rs.r * cs.c AS DOUBLE) / n.n)
             * (grid.o - CAST(rs.r * cs.c AS DOUBLE) / n.n)
             / (CAST(rs.r * cs.c AS DOUBLE) / n.n)), 6) AS chi2
    FROM grid JOIN rs USING (f) JOIN cs USING (m), n
    """,
)
def lineitem_chi2_flag_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square statistic of independence for the (return flag ×
    line status) contingency table — the categorical drift test a
    data-quality monitor runs between snapshots.

    The corpus collapses to the |flags|×|statuses| contingency table in
    one map-side-combining aggregate; absent combinations are
    re-added as observed-0 cells via the dimension-grid outer join
    (they still contribute e to the statistic — dropping them
    understates chi2). Everything after the count table is
    metadata-scale; all counts integer, the ~21-term float sum is
    rounded at 6dp.
    """
    l = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus")
    ct = (
        l.groupBy(F.col("l_returnflag").alias("f"), F.col("l_linestatus").alias("m"))
        .agg(F.count(F.lit(1)).alias("o"))
    )
    fs = ct.select("f").distinct()
    ms = ct.select("m").distinct()
    grid = (
        fs.crossJoin(F.broadcast(ms))
        .join(ct, ["f", "m"], "left")
        .select("f", "m", F.coalesce(F.col("o"), F.lit(0)).alias("o"))
    )
    rs = grid.groupBy("f").agg(F.sum("o").alias("r"))
    cs = grid.groupBy("m").agg(F.sum("o").alias("c"))
    n = grid.agg(F.sum("o").alias("n"))
    e = (F.col("r") * F.col("c")).cast("double") / F.col("n")
    return (
        grid.join(F.broadcast(rs), "f")
        .join(F.broadcast(cs), "m")
        .join(F.broadcast(n))
        .agg(
            F.max("n").cast("bigint").alias("n_rows"),
            (
                (F.count_distinct(F.col("f")) - 1)
                * (F.count_distinct(F.col("m")) - 1)
            )
            .cast("int")
            .alias("dof"),
            F.round(
                F.sum((F.col("o") - e) * (F.col("o") - e) / e), 6
            ).alias("chi2"),
        )
    )


@register(
    "orders_ks_statistic",
    oracle="""
    WITH v AS (
        SELECT o_totalprice AS x,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS c1,
               CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS c2
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    g AS (SELECT x, sum(c1) AS c1, sum(c2) AS c2 FROM v GROUP BY x),
    c AS (
        SELECT x,
               sum(c1) OVER (ORDER BY x) AS k1,
               sum(c2) OVER (ORDER BY x) AS k2,
               sum(c1) OVER () AS n1,
               sum(c2) OVER () AS n2
        FROM g
    ),
    d AS (SELECT x, abs(k1 * n2 - k2 * n1) AS dnum, n1, n2 FROM c),
    mx AS (SELECT max(dnum) AS dmax FROM d)
    SELECT CAST(max(d.n1) AS BIGINT) AS n1,
           CAST(max(d.n2) AS BIGINT) AS n2,
           round(CAST(mx.dmax AS DOUBLE) / (max(d.n1) * max(d.n2)), 9)
               AS ks_stat,
           min(d.x) FILTER (WHERE d.dnum = mx.dmax) AS at_value
    FROM d, mx
    GROUP BY mx.dmax
    """,
)
def orders_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic between the order-value
    distributions of finished ('F') vs open ('O') orders — the
    numeric-drift twin of the chi-square test. EXACT: the max is
    taken over integer cross-products |k1·n2 − k2·n1| (the D
    statistic times n1·n2), so the supremum location and value carry
    no float noise; only the final display ratio is rounded (9dp).

    Scale shape: one aggregate to the value grid, then the two-level
    sharded cumulative sum (``operators/prefix_sum.py`` — the value
    domain is wide, a bare ORDER BY window would be single-task),
    then a scalar max and a broadcast join-back to locate the
    supremum deterministically (min x among ties).
    """
    from ..operators.prefix_sum import sharded_cumsum

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    v = o.select(
        F.col("o_totalprice").alias("x"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("c1"),
        F.when(F.col("o_orderstatus") == "O", 1).otherwise(0).alias("c2"),
    )
    g = v.groupBy("x").agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
    shard = F.floor(F.col("x") / F.lit(8192.0)).cast("int")
    k1 = sharded_cumsum(g, [], "x", "c1", shard, cum_name="k1", tot_name="n1")
    k = sharded_cumsum(
        k1, [], "x", "c2", shard, cum_name="k2", tot_name="n2"
    )
    d = k.select(
        "x",
        F.abs(F.col("k1") * F.col("n2") - F.col("k2") * F.col("n1")).alias(
            "dnum"
        ),
        "n1",
        "n2",
    )
    mx = d.agg(F.max("dnum").alias("dmax"))
    return (
        d.join(F.broadcast(mx))
        .groupBy("dmax")
        .agg(
            F.max("n1").cast("bigint").alias("n1"),
            F.max("n2").cast("bigint").alias("n2"),
            F.round(
                F.col("dmax").cast("double") / (F.max("n1") * F.max("n2")), 9
            ).alias("ks_stat"),
            F.min(F.when(F.col("dnum") == F.col("dmax"), F.col("x"))).alias(
                "at_value"
            ),
        )
        .select("n1", "n2", "ks_stat", "at_value")
    )


@register(
    "customer_spend_gini",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        FROM orders GROUP BY o_custkey
    ),
    g AS (SELECT cents, count(*) AS k FROM spend GROUP BY cents),
    c AS (
        SELECT cents, k,
               sum(k) OVER (ORDER BY cents) AS ck,
               sum(k) OVER () AS n,
               sum(cents * k) OVER () AS s
        FROM g
    ),
    terms AS (
        SELECT n, s,
               cents * (k * (ck - k) + k * (k + 1) // 2) AS ix
        FROM c
    )
    SELECT CAST(max(n) AS BIGINT) AS n_customers,
           CAST(max(s) AS BIGINT) AS total_cents,
           round(2.0 * sum(ix) / (max(n) * CAST(max(s) AS DOUBLE))
                 - CAST(max(n) + 1 AS DOUBLE) / max(n), 9) AS gini
    FROM terms
    """,
)
def customer_spend_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend (inequality profiling —
    the same math budget-weighted sampling uses to reason about
    domination by heavy sources). Uses the rank formula
    G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n, but NEVER ranks rows:
    customers collapse to the (cents, count) grid and each grid
    cell's Σ i·x block is closed-form from the cumulative count
    (ranks r+1..r+k contribute cents·(k·r + k(k+1)/2)). Spend is
    exact integer cents (2-dp doubles scaled per row BEFORE the
    sum), so Σ i·x is a bit-exact integer under any merge order;
    only the final ratio is rounded.

    Scale shape: one corpus aggregate to per-customer spend, one to
    the spend grid, then the two-level sharded cumsum over the grid.
    """
    from ..operators.prefix_sum import sharded_cumsum

    o = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
            "cents"
        )
    )
    g = spend.groupBy("cents").agg(F.count(F.lit(1)).alias("k"))
    c = sharded_cumsum(
        g,
        [],
        "cents",
        "k",
        F.expr("cents div 1000000").cast("int"),
        cum_name="ck",
        tot_name="n",
    )
    s = g.agg(F.sum(F.col("cents") * F.col("k")).alias("s"))
    terms = c.join(F.broadcast(s)).select(
        "n",
        "s",
        # per-row ix fits int64 comfortably, but Σix reaches ~2e19 at
        # sf10 — sum in DECIMAL(38,0) (DuckDB's sum(BIGINT) already
        # widens to HUGEINT; correlation_matrix precedent)
        (
            F.col("cents")
            * (
                F.col("k") * (F.col("ck") - F.col("k"))
                + F.expr("k * (k + 1) div 2")
            )
        )
        .cast("decimal(38,0)")
        .alias("ix"),
    )
    return terms.agg(
        F.max("n").cast("bigint").alias("n_customers"),
        F.max("s").cast("bigint").alias("total_cents"),
        F.round(
            2.0 * F.sum("ix") / (F.max("n") * F.max("s").cast("double"))
            - (F.max("n") + 1).cast("double") / F.max("n"),
            9,
        ).alias("gini"),
    )


# PSI buckets: fixed-width bins over the value domain (the industry
# convention is ~10 bins; fixed boundaries keep the metric mergeable
# and cross-engine exact, unlike quantile-derived boundaries).
_PSI_W = 25000.0


@register(
    "orders_psi_value_drift",
    oracle=f"""
    WITH v AS (
        SELECT CAST(floor(o_totalprice / {_PSI_W}) AS BIGINT) AS b,
               CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS c1,
               CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END AS c2
        FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    g AS (SELECT b, sum(c1) AS c1, sum(c2) AS c2 FROM v GROUP BY b),
    n AS (SELECT sum(c1) AS n1, sum(c2) AS n2 FROM g)
    SELECT CAST(count(*) AS INTEGER) AS n_buckets,
           CAST(max(n.n1) AS BIGINT) AS n_ref,
           CAST(max(n.n2) AS BIGINT) AS n_cur,
           round(sum(
               (CAST(g.c2 AS DOUBLE) / n.n2 - CAST(g.c1 AS DOUBLE) / n.n1)
               * ln((CAST(g.c2 AS DOUBLE) / n.n2 + 1e-9)
                    / (CAST(g.c1 AS DOUBLE) / n.n1 + 1e-9))), 9) AS psi
    FROM g, n
    """,
)
def orders_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the order-value
    distributions of finished ('F' = reference) vs open ('O' =
    current) orders — the third drift metric beside the chi-square
    (categorical) and KS (exact numeric sup) tests: PSI weights tail
    mass by log-odds, the convention risk/feature monitors alert on
    (<0.1 stable, >0.25 drifted).

    Fixed-width bins keep boundaries data-independent (mergeable
    across partitions AND snapshots — quantile bins would make the
    metric incomparable between runs); the standard 1e-9 smoothing
    guards empty-bin log(0) identically on both sides. One
    map-side-combining aggregate to the ~|domain|/width bucket grid;
    the float PSI sum spans that grid only, rounded at 9dp.
    """
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus").isin("F", "O")
    )
    g = o.groupBy(
        F.floor(F.col("o_totalprice") / _PSI_W).cast("bigint").alias("b")
    ).agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("o_orderstatus") == "O", 1).otherwise(0)).alias("c2"),
    )
    n = g.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    p1 = F.col("c1").cast("double") / F.col("n1")
    p2 = F.col("c2").cast("double") / F.col("n2")
    return (
        g.join(F.broadcast(n))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_buckets"),
            F.max("n1").cast("bigint").alias("n_ref"),
            F.max("n2").cast("bigint").alias("n_cur"),
            F.round(
                F.sum((p2 - p1) * F.log((p2 + 1e-9) / (p1 + 1e-9))), 9
            ).alias("psi"),
        )
    )


@register(
    "lineitem_jackknife_mean_se",
    oracle="""
    WITH g AS (
        SELECT date_trunc('month', l_shipdate) AS grp,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s_cents,
               count(*) AS n
        FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT sum(s_cents) AS s, sum(n) AS n, count(*) AS grps FROM g),
    thetas AS (
        SELECT CAST(tot.s - g.s_cents AS DOUBLE)
                   / (100.0 * (tot.n - g.n)) AS theta_i,
               tot.grps, tot.s, tot.n
        FROM g, tot
    )
    SELECT CAST(max(grps) AS INTEGER) AS n_groups,
           CAST(max(n) AS BIGINT) AS n_rows,
           round(CAST(max(s) AS DOUBLE) / (100.0 * max(n)), 6) AS mean_price,
           round(sqrt(
               (max(grps) - 1.0) / max(grps)
               * sum((theta_i - (SELECT avg(theta_i) FROM thetas))
                     * (theta_i - (SELECT avg(theta_i) FROM thetas)))
           ), 6) AS jackknife_se
    FROM thetas
    """,
)
def lineitem_jackknife_mean_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-GROUP jackknife standard error of the mean extended
    price, with ship-months as the deletion groups — resampling-based
    uncertainty quantification that needs NO resampling passes: each
    leave-one-out estimate theta_i = (S − s_i)/(n − n_i) is closed-form
    from per-group sums, so the whole procedure is two aggregates over
    a |groups|-row table. The grouped (block) jackknife is also the
    honest choice under within-month correlation, where the row-level
    bootstrap understates the error.

    Determinism: group sums are exact integer cents; every theta_i is
    a fixed-shape IEEE expression of those integers, and the final
    variance sums |groups| (~80) doubles — rounded at 6dp.

    Scale shape: one corpus aggregate to (month, sum, count); all
    jackknife arithmetic runs on the metadata-scale group table with
    the scalar totals broadcast.
    """
    l = table(spark, sf_dir, "lineitem").select("l_shipdate", "l_extendedprice")
    g = l.groupBy(F.date_trunc("month", F.col("l_shipdate")).alias("grp")).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")).alias(
            "s_cents"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    tot = g.agg(
        F.sum("s_cents").alias("s"),
        F.sum("n").alias("n_tot"),
        F.count(F.lit(1)).alias("grps"),
    )
    thetas = g.join(F.broadcast(tot)).select(
        (
            (F.col("s") - F.col("s_cents")).cast("double")
            / (100.0 * (F.col("n_tot") - F.col("n")))
        ).alias("theta_i"),
        "grps",
        "s",
        "n_tot",
    )
    tbar = thetas.agg(F.avg("theta_i").alias("tbar"))
    return (
        thetas.join(F.broadcast(tbar))
        .agg(
            F.max("grps").cast("int").alias("n_groups"),
            F.max("n_tot").cast("bigint").alias("n_rows"),
            F.round(
                F.max("s").cast("double") / (100.0 * F.max("n_tot")), 6
            ).alias("mean_price"),
            F.round(
                F.sqrt(
                    (F.max("grps") - 1.0)
                    / F.max("grps")
                    * F.sum(
                        (F.col("theta_i") - F.col("tbar"))
                        * (F.col("theta_i") - F.col("tbar"))
                    )
                ),
                6,
            ).alias("jackknife_se"),
        )
    )


# Correlation matrix over the four money/measure columns — the
# feature-covariance profile a training pipeline monitors between
# snapshots. Exactness design: every input is 2-dp-scalable, so each
# per-row product fits a BIGINT and every co-moment Σx, Σx², Σxy is
# an EXACT 128-bit integer sum (Spark DECIMAL(38,0) / DuckDB HUGEINT
# — int64 sums would overflow: Σprice² ≈ 6e19 already at sf0.1).
# Both engines then cast the same exact integers to double and
# evaluate the same formula, so the 9-dp-rounded Pearson r is
# engine-exact with no merge-order sensitivity anywhere.
_CORR_MEASURES = [
    ("quantity", "l_quantity"),
    ("price", "l_extendedprice"),
    ("discount", "l_discount"),
    ("tax", "l_tax"),
]


def _corr_oracle() -> str:
    scaled = ", ".join(
        f"CAST(round({src} * 100) AS BIGINT) AS v{i}"
        for i, (_, src) in enumerate(_CORR_MEASURES)
    )
    sums = ["count(*) AS n"]
    for i in range(4):
        sums.append(f"sum(v{i}) AS s{i}")
    for i in range(4):
        for j in range(i, 4):
            sums.append(f"sum(v{i} * v{j}) AS s{i}{j}")
    rows = []
    for i in range(4):
        for j in range(i, 4):
            num = f"CAST(n AS HUGEINT) * s{i}{j} - CAST(s{i} AS HUGEINT) * s{j}"
            vx = f"CAST(n AS HUGEINT) * s{i}{i} - CAST(s{i} AS HUGEINT) * s{i}"
            vy = f"CAST(n AS HUGEINT) * s{j}{j} - CAST(s{j} AS HUGEINT) * s{j}"
            rows.append(
                f"SELECT '{_CORR_MEASURES[i][0]}' AS col_x, "
                f"'{_CORR_MEASURES[j][0]}' AS col_y, n, "
                f"CASE WHEN ({vx}) > 0 AND ({vy}) > 0 THEN "
                f"round(CAST({num} AS DOUBLE) / "
                f"sqrt(CAST({vx} AS DOUBLE) * CAST({vy} AS DOUBLE)), 9) "
                f"END AS pearson_r FROM m"
            )
    union = " UNION ALL ".join(rows)
    return f"""
    WITH sc AS (SELECT {scaled} FROM lineitem),
    m AS (SELECT {', '.join(sums)} FROM sc)
    {union}
    """


@register("lineitem_correlation_matrix", oracle=_corr_oracle())
def lineitem_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the four lineitem measures
    (upper triangle incl. diagonal, 10 rows) — see the exactness note
    above the measure list. ONE map-side-combining aggregate computes
    all 15 co-moments (the narrowest possible pass: each row
    contributes 14 integer products); the 10 output rows are a
    driver-free explode over the single aggregate row. At any corpus
    size this is Θ(rows) work, one shuffle of one row."""
    cols = [
        F.round(F.col(src) * 100).cast("bigint").alias(f"v{i}")
        for i, (_, src) in enumerate(_CORR_MEASURES)
    ]
    sc = table(spark, sf_dir, "lineitem").select(*cols)
    aggs = [F.count(F.lit(1)).alias("n")]
    for i in range(4):
        aggs.append(F.sum(F.col(f"v{i}").cast("decimal(38,0)")).alias(f"s{i}"))
    for i in range(4):
        for j in range(i, 4):
            aggs.append(
                F.sum(
                    (F.col(f"v{i}") * F.col(f"v{j}")).cast("decimal(38,0)")
                ).alias(f"s{i}{j}")
            )
    m = sc.agg(*aggs)
    pairs = []
    for i in range(4):
        for j in range(i, 4):
            num = f"CAST(n AS DECIMAL(38,0)) * s{i}{j} - s{i} * s{j}"
            vx = f"CAST(n AS DECIMAL(38,0)) * s{i}{i} - s{i} * s{i}"
            vy = f"CAST(n AS DECIMAL(38,0)) * s{j}{j} - s{j} * s{j}"
            pairs.append(
                F.struct(
                    F.lit(_CORR_MEASURES[i][0]).alias("col_x"),
                    F.lit(_CORR_MEASURES[j][0]).alias("col_y"),
                    F.expr(
                        f"CASE WHEN ({vx}) > 0 AND ({vy}) > 0 THEN "
                        f"round(CAST(({num}) AS DOUBLE) / "
                        f"sqrt(CAST(({vx}) AS DOUBLE) * CAST(({vy}) AS DOUBLE)), 9) "
                        f"END"
                    ).alias("pearson_r"),
                )
            )
    return m.select(
        "n", F.explode(F.array(*pairs)).alias("p")
    ).select("p.col_x", "p.col_y", "n", "p.pearson_r")


# Lexical vocabulary drift between the two md5 halves of the corpus —
# the token-level twin of embeddings_drift_by_label: when a new dump
# lands (here: the deterministic md5 B-half standing in for it), which
# words' DOCUMENT FREQUENCY moved most? Smoothed rate ratio
# q = ((dfA+1)/(nA+2)) / ((dfB+1)/(nB+2)); the symmetric drift
# max(q, 1/q) is ranked as an exact fixed-point integer quotient
# (the LP_SCALE idiom): cross-multiplied numerators are exact BIGINT
# products, widened to DECIMAL(38,0)/HUGEINT before the ×1e6
# truncating division (Spark decimal `div` and DuckDB HUGEINT `//`
# both truncate toward zero — never DuckDB DECIMAL `//`, which
# rounds through DOUBLE). ln() never enters the check.
VOCAB_DRIFT_TOPK = 30
_VD_SCALE = 1_000_000
_VD_BUCKET = md5_bucket_sql("doc_id")


@register(
    "documents_vocab_drift",
    oracle=rf"""
    WITH d AS (
        SELECT doc_id,
               CASE WHEN {_VD_BUCKET} < 128 THEN 1 ELSE 0 END AS in_a,
               list_distinct(list_transform(
                   regexp_extract_all(trim(text), '\S+'),
                   x -> lower(x))) AS toks
        FROM documents
    ),
    n AS (
        SELECT CAST(sum(in_a) AS BIGINT) AS na,
               CAST(sum(1 - in_a) AS BIGINT) AS nb
        FROM d
    ),
    tok AS (
        SELECT in_a, unnest(toks) AS token FROM d
    ),
    df AS (
        SELECT token,
               CAST(sum(in_a) AS BIGINT) AS df_a,
               CAST(sum(1 - in_a) AS BIGINT) AS df_b
        FROM tok GROUP BY token
    ),
    s AS (
        SELECT token, df_a, df_b,
               (df_a + 1) * (nb + 2) AS n1,
               (df_b + 1) * (na + 2) AS n2
        FROM df, n
    )
    SELECT token, df_a, df_b,
           CAST((CAST(greatest(n1, n2) AS HUGEINT) * {_VD_SCALE})
                // CAST(least(n1, n2) AS HUGEINT) AS BIGINT) AS drift_fp,
           CASE WHEN n1 > n2 THEN 'A' WHEN n2 > n1 THEN 'B'
                ELSE '=' END AS direction
    FROM s
    ORDER BY drift_fp DESC, token
    LIMIT {VOCAB_DRIFT_TOPK}
    """,
)
def documents_vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k tokens by document-frequency drift between the md5
    corpus halves (see note above): token, per-half df, the ×1e6
    fixed-point symmetric rate ratio, and which half over-represents
    it.

    Scale shape: one corpus scan (distinct lowercase tokens per doc,
    codegen'd array exprs), one map-side-combining token aggregate
    (vocabulary-sized output), a broadcast one-row half-size join,
    then a vocabulary-scale top-k sort. No per-pair work, no window
    over the corpus."""
    from ..functions import text as tx

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(hex_int(F.md5(F.col("doc_id").cast("string")), 1, 2) < 128, 1)
        .otherwise(0)
        .alias("in_a"),
        F.array_distinct(
            F.transform(tx.tokens(F.col("text")), F.lower)
        ).alias("toks"),
    )
    n = d.agg(
        F.sum("in_a").cast("bigint").alias("na"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("nb"),
    )
    df = (
        d.select("in_a", F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(
            F.sum("in_a").cast("bigint").alias("df_a"),
            F.sum(1 - F.col("in_a")).cast("bigint").alias("df_b"),
        )
    )
    s = df.crossJoin(F.broadcast(n)).select(
        "token",
        "df_a",
        "df_b",
        ((F.col("df_a") + 1) * (F.col("nb") + 2)).alias("n1"),
        ((F.col("df_b") + 1) * (F.col("na") + 2)).alias("n2"),
    )
    return (
        s.select(
            "token",
            "df_a",
            "df_b",
            F.expr(
                f"CAST(CAST(greatest(n1, n2) AS DECIMAL(38,0)) * {_VD_SCALE}"
                " div CAST(least(n1, n2) AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("drift_fp"),
            F.when(F.col("n1") > F.col("n2"), "A")
            .when(F.col("n2") > F.col("n1"), "B")
            .otherwise("=")
            .alias("direction"),
        )
        .orderBy(F.col("drift_fp").desc(), "token")
        .limit(VOCAB_DRIFT_TOPK)
    )
