"""Relational read-path parity queries (SURVEY.md §2.2/2.3/2.6).

Each query re-expresses one operator of the reference's HTTP/ORM
workload (``Codes/MovieShoppingServer/DatabaseAccessor.py``,
``Server.py``) against the driver testdata tables:

- movie list  (LIKE substring + sort + paginate)  → part
- order list  (temporal LIKE prefix + sort desc)  → orders
- recommend   (NOT NULL + top-K by score)         → customer
- movie detail (FK equi-join + nested reviews)    → orders ⋈ lineitem
- JSON projection (information doc)               → events.props

Pagination note: the reference pushes LIMIT/OFFSET into the engine
(``DatabaseAccessor.py:101,108,115``). Spark ≥3.4 has a native
``DataFrame.offset`` that Catalyst plans as a global limit — fine
for page-sized offsets; deep pagination at 100 TB should use keyset
pagination (WHERE key > last_seen ORDER BY key LIMIT n), which stays
a pushed-down range scan. Both forms are provided in
``operators/pagination.py``; these plans use the LIMIT/OFFSET form
for bit-parity with the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import table
from .registry import register


@register(
    "part_list_search",
    oracle="""
    SELECT p_partkey, p_name, p_brand, p_type, p_size,
           round(p_retailprice, 2) AS p_retailprice
    FROM part
    WHERE p_name LIKE '%ge%'
    ORDER BY p_partkey
    LIMIT 50 OFFSET 10
    """,
)
def part_list_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """movie_list analog: S1→P4(LIKE '%key%')→O2(sort asc, paginate).

    Reference: ``Server.py:15-24`` + ``DatabaseAccessor.py:98-103``
    (empty search key → match-all '%%', same semantics here).
    """
    p = table(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_name").like("%ge%"))
        .select(
            "p_partkey",
            "p_name",
            "p_brand",
            "p_type",
            "p_size",
            F.round("p_retailprice", 2).alias("p_retailprice"),
        )
        .orderBy("p_partkey")
        .offset(10)
        .limit(50)
    )


@register(
    "order_list_time_filtered",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 2) AS o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS create_time
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') LIKE '1997-03%'
    ORDER BY create_time DESC, o_orderkey DESC
    LIMIT 100 OFFSET 5
    """,
)
def order_list_time_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """order_list analog: S1→P5(LIKE 'yyyy-mm%' on the formatted
    string)→O3(sort desc, paginate).

    Reference: ``Server.py:32-39``, ``DatabaseAccessor.py:105-110``;
    the frontend assembles '%'-wildcard patterns per date component
    (``OrderList.vue:126``). The string-LIKE form is kept for
    bit-parity; at scale the same predicate should be expressed on
    the typed timestamp (see ``sales_by_year_month``) so it prunes
    partitions — LIKE on a formatted string defeats pushdown.
    """
    o = table(spark, sf_dir, "orders")
    ct = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            ct.alias("create_time"),
        )
        .filter(F.col("create_time").like("1997-03%"))
        .orderBy(F.desc("create_time"), F.desc("o_orderkey"))
        .offset(5)
        .limit(100)
    )


@register(
    "recommend_top15",
    oracle="""
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal, c_mktsegment
    FROM customer
    WHERE c_acctbal IS NOT NULL
    ORDER BY c_acctbal DESC, c_custkey
    LIMIT 15
    """,
)
def recommend_top15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recommend_movie_list analog: S1→P6(IS NOT NULL)→O1(top-K by
    score desc, K=15 as the frontend requests).

    Reference: ``DatabaseAccessor.py:112-117``, ``Boarding.vue:30-38``.
    Top-K is a TakeOrderedAndProject in Spark — no full sort, each
    partition keeps K rows then the driver merges (scales to any
    row count at fixed K).
    """
    c = table(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_acctbal").isNotNull())
        .select(
            "c_custkey",
            "c_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            "c_mktsegment",
        )
        .orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
        .limit(15)
    )


@register(
    "order_detail_flat",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_orderdate,
           l.l_linenumber, l.l_partkey,
           round(l.l_quantity, 2) AS l_quantity,
           round(l.l_extendedprice, 2) AS l_extendedprice
    FROM orders o
    LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey BETWEEN 1000 AND 1100
    """,
)
def order_detail_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query_movie detail analog, flat form: P3 equality/range filter
    + J1 FK left equi-join (order → its lineitems ≙ movie → its
    reviews, ``DatabaseAccessor.py:92-96``)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey").between(1000, 1100))
    li = table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderdate",
            "l_linenumber",
            "l_partkey",
            F.round("l_quantity", 2).alias("l_quantity"),
            F.round("l_extendedprice", 2).alias("l_extendedprice"),
        )
    )


@register(
    "order_detail_nested",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_orderdate,
           CAST(to_json(list(json_object(
                 'l_linenumber', l.l_linenumber,
                 'l_partkey', l.l_partkey,
                 'l_quantity', CAST(CAST(l.l_quantity AS DECIMAL(12,2)) AS VARCHAR),
                 'l_extendedprice', CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) AS VARCHAR)
               ) ORDER BY l.l_linenumber, l.l_partkey,
                          CAST(CAST(l.l_quantity AS DECIMAL(12,2)) AS VARCHAR),
                          CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) AS VARCHAR)
              )) AS VARCHAR) AS lines,
           CAST(count(*) AS INTEGER) AS n_lines
    FROM orders o
    LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey BETWEEN 1000 AND 1100
    GROUP BY o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_orderdate
    """,
)
def order_detail_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checked form of the nested order detail: the ordered line
    array is emitted as a compact JSON string so the row is hashable
    by the driver canonicalizer AND value-checkable against DuckDB.

    Cross-engine JSON parity rules (empirically pinned):
    - prices go through DECIMAL(12,2)→string inside the struct —
      Spark and DuckDB format raw doubles differently (1.0E20 vs
      100000000000000000000.0) but decimals identically ("24386.67");
    - Spark ``to_json`` drops null fields by default while DuckDB
      ``json_object`` keeps them → ``ignoreNullFields=false``;
    - array order: ``array_sort`` compares structs lexicographically
      over ALL fields, and the driver testdata has duplicate
      l_linenumber within an order — the DuckDB ordered-aggregate
      mirrors the full (linenumber, partkey, qty-str, price-str) key.
    """
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey").between(1000, 1100))
    li = table(spark, sf_dir, "lineitem")
    lines = F.array_sort(
        F.collect_list(
            F.struct(
                "l_linenumber",
                "l_partkey",
                F.col("l_quantity").cast("decimal(12,2)").cast("string").alias("l_quantity"),
                F.col("l_extendedprice")
                .cast("decimal(12,2)")
                .cast("string")
                .alias("l_extendedprice"),
            )
        )
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate")
        .agg(lines.alias("lines_arr"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_orderdate",
            F.to_json(F.col("lines_arr"), {"ignoreNullFields": "false"}).alias("lines"),
            F.size("lines_arr").alias("n_lines"),
        )
    )


@register(
    "next_order_id",
    oracle="SELECT max(o_orderkey) + 1 AS next_order_id FROM orders",
)
def next_order_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """insert path's id generation: A1 scalar MAX + A2 max+1
    (``DatabaseAccessor.py:119-136``; the reference linearizes this
    under a mutex — single-writer semantics documented in
    ``operators/write.py``)."""
    o = table(spark, sf_dir, "orders")
    return o.agg((F.max("o_orderkey") + F.lit(1)).alias("next_order_id"))


@register(
    "events_json_extract",
    oracle="""
    SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    WHERE event_type = 'purchase'
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/F6 analog: JSON-document column projected via path
    extraction, the engine-side form of the reference's per-row
    ``json.loads(information)`` (``DatabaseAccessor.py:43``).

    ``get_json_object`` stays JVM-side (no Python UDF); for full
    document shredding see ``functions/json_doc.py`` which uses
    ``from_json`` with an explicit schema.
    """
    e = table(spark, sf_dir, "events")
    return (
        e.filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
        )
    )


@register(
    "customer_projection",
    oracle="""
    SELECT c_custkey AS id, c_name AS name,
           round(c_acctbal, 2) AS balance,
           upper(c_mktsegment) AS segment
    FROM customer
    """,
)
def customer_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: projection + rename (the reference's ``get_dict``
    per-entity projections, ``DatabaseAccessor.py:24-26,41-48``);
    unselected columns are pruned from the parquet scan by Catalyst
    (the engine-side form of ``noload``, ``DatabaseAccessor.py:100``).
    """
    c = table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.round("c_acctbal", 2).alias("balance"),
        F.upper("c_mktsegment").alias("segment"),
    )


@register(
    "orders_snapshot_diff",
    oracle="""
    WITH now AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                 FROM orders WHERE o_orderkey % 103 <> 0),
    prev AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 97 = 0 AND o_orderstatus = 'O'
                    THEN 'P' ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 89 = 0
                    THEN round(o_totalprice + 10.0, 2)
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 101 <> 0
    ),
    d AS (
        SELECT coalesce(n.o_orderkey, p.o_orderkey) AS k,
               CASE
                 WHEN p.o_orderkey IS NULL THEN 'added'
                 WHEN n.o_orderkey IS NULL THEN 'removed'
                 WHEN n.o_orderstatus <> p.o_orderstatus
                   OR n.o_totalprice <> p.o_totalprice THEN 'changed'
                 ELSE 'unchanged'
               END AS kind,
               CASE WHEN n.o_orderkey IS NOT NULL AND p.o_orderkey IS NOT NULL
                     AND n.o_orderstatus <> p.o_orderstatus
                    THEN 1 ELSE 0 END AS status_changed,
               CASE WHEN n.o_orderkey IS NOT NULL AND p.o_orderkey IS NOT NULL
                     AND n.o_totalprice <> p.o_totalprice
                    THEN 1 ELSE 0 END AS price_changed
        FROM now n FULL OUTER JOIN prev p ON n.o_orderkey = p.o_orderkey
    )
    SELECT kind, count(*) AS n_rows,
           CAST(sum(status_changed) AS BIGINT) AS n_status_changed,
           CAST(sum(price_changed) AS BIGINT) AS n_price_changed
    FROM d GROUP BY kind
    """,
)
def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation: classify every key across two table
    versions as added / removed / changed / unchanged, with
    per-column change counts — the row-level complement of
    lineitem_checksum's order-independent digest (the checksum says
    THAT snapshots differ; the diff says WHERE). The 'previous'
    snapshot is derived deterministically from the current one
    (status flip on keys ≡0 mod 97, +10.00 price on ≡0 mod 89,
    absent-from-prev on ≡0 mod 101 → 'added', absent-from-now on
    ≡0 mod 103 → 'removed') so the query is self-contained, every
    diff kind occurs, and the oracle restates the derivation.

    Scale shape: one FULL OUTER hash join co-partitioned on the key
    (both sides shuffle once on o_orderkey), then a map-side-combining
    aggregate to the 4-kind summary. Comparisons are exact (status
    string; price doubles compared for identity, not arithmetic —
    both sides read the same parquet bits, and the +10.00 derivation
    is a single deterministic IEEE add in both engines).
    """
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    now = o.filter(F.col("o_orderkey") % 103 != 0)
    prev = o.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        F.when(
            (F.col("o_orderkey") % 97 == 0) & (F.col("o_orderstatus") == "O"),
            F.lit("P"),
        )
        .otherwise(F.col("o_orderstatus"))
        .alias("p_status"),
        F.when(
            F.col("o_orderkey") % 89 == 0,
            F.round(F.col("o_totalprice") + 10.0, 2),
        )
        .otherwise(F.col("o_totalprice"))
        .alias("p_price"),
    )
    n = now.select(
        F.col("o_orderkey").alias("n_key"), "o_orderstatus", "o_totalprice"
    )
    p = prev.select(F.col("o_orderkey").alias("p_key"), "p_status", "p_price")
    d = n.join(p, n.n_key == p.p_key, "full_outer")
    both = F.col("n_key").isNotNull() & F.col("p_key").isNotNull()
    kind = (
        F.when(F.col("p_key").isNull(), "added")
        .when(F.col("n_key").isNull(), "removed")
        .when(
            (F.col("o_orderstatus") != F.col("p_status"))
            | (F.col("o_totalprice") != F.col("p_price")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        d.select(
            kind.alias("kind"),
            F.when(
                both & (F.col("o_orderstatus") != F.col("p_status")), 1
            )
            .otherwise(0)
            .alias("status_changed"),
            F.when(both & (F.col("o_totalprice") != F.col("p_price")), 1)
            .otherwise(0)
            .alias("price_changed"),
        )
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("status_changed").cast("bigint").alias("n_status_changed"),
            F.sum("price_changed").cast("bigint").alias("n_price_changed"),
        )
    )
