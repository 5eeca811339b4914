"""URL synthesis + canonicalization, registration-free.

The canonicalizer (strip fragment → lowercase → strip scheme → strip
www. → strip default port → drop tracking params → sort surviving
params → strip trailing path slashes) is the CCNet/RefinedWeb
metadata-dedup key; the synthetic URL builder exists because the
corpus carries no URL column (md5-nibble noise gives each doc its own
cosmetic variants; docs sharing (source, doc_id div 100) collide
after canonicalization). Shared by the batch query
(plans/dedup.py::documents_url_dedup) and its streaming twin
(plans/streaming_plans.py::stream_url_dedup) — both the Spark column
pipeline and the SQL CTE restatement live here so the two registered
queries cannot drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hexdigest import hex_int, hex_int_sql


def url_nib_sql(k: int) -> str:
    return hex_int_sql("md5(CAST(doc_id AS VARCHAR))", k, 1)


URL_SYNTH_SQL = f"""
        CASE WHEN {url_nib_sql(1)} % 2 = 0 THEN 'HTTP' ELSE 'https' END
        || '://'
        || CASE WHEN {url_nib_sql(2)} % 2 = 0 THEN 'WWW.' ELSE '' END
        || source || '.Example.COM'
        || CASE WHEN {url_nib_sql(3)} % 2 = 0
                THEN CASE WHEN {url_nib_sql(1)} % 2 = 0 THEN ':80' ELSE ':443' END
                ELSE '' END
        || '/Docs/' || CAST(doc_id // 100 AS VARCHAR)
        || CASE WHEN {url_nib_sql(4)} % 2 = 0 THEN '/' ELSE '' END
        || CASE {url_nib_sql(5)} % 3
               WHEN 0 THEN '?x=1&utm_source=feed'
               WHEN 1 THEN '?utm_campaign=z&x=1'
               ELSE '?x=1' END
        || CASE WHEN {url_nib_sql(6)} % 2 = 0 THEN '#Sec2' ELSE '' END
"""


def url_canon_ctes(src: str) -> str:
    """CTE chain ``raw → base → noscheme → parts → keys`` over
    ``src`` (doc_id, source): keys(doc_id, canonical_url). No
    capture-group replacements anywhere — Java regex says $1 where
    RE2 says \\1, so replacements stay literal."""
    return f"""raw AS (
        SELECT doc_id, {URL_SYNTH_SQL} AS url FROM {src}
    ),
    base AS (
        SELECT doc_id,
               lower(regexp_replace(url, '#.*$', '')) AS u
        FROM raw
    ),
    noscheme AS (
        SELECT doc_id, regexp_replace(u, '^https?://', '') AS u FROM base
    ),
    tails AS (
        SELECT doc_id,
               split_part(u, '/', 1) AS hostport,
               substring(u, len(split_part(u, '/', 1)) + 1) AS tail
        FROM noscheme
    ),
    parts AS (
        SELECT doc_id,
               regexp_replace(
                   regexp_replace(hostport, '^www\\.', ''),
                   ':(80|443)$', ''
               ) AS host,
               regexp_replace(split_part(tail, '?', 1), '/+$', '') AS path,
               -- params come from the segment between the TAIL's
               -- first and second '?' on BOTH engines (a host-only
               -- URL's '?…' sits in hostport and yields none;
               -- multi-'?' tails keep only the first segment) —
               -- round-7 review drift fix
               CASE WHEN contains(tail, '?')
                    THEN array_to_string(
                        list_sort(list_filter(
                            string_split(split_part(tail, '?', 2), '&'),
                            p -> NOT (p LIKE 'utm\\_%' ESCAPE '\\'
                                      OR p LIKE 'fbclid=%'
                                      OR p LIKE 'gclid=%')
                        )), '&')
                    ELSE '' END AS q
        FROM tails
    ),
    keys AS (
        SELECT doc_id,
               host || path
               || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canonical_url
        FROM parts
    )"""


def synth_url_col() -> Column:
    """Spark twin of URL_SYNTH_SQL (expects doc_id + source cols)."""
    nib = lambda k: hex_int(F.md5(F.col("doc_id").cast("string")), k, 1)  # noqa: E731
    scheme = F.when(nib(1) % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    www = F.when(nib(2) % 2 == 0, F.lit("WWW.")).otherwise(F.lit(""))
    port = F.when(
        nib(3) % 2 == 0,
        F.when(nib(1) % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
    ).otherwise(F.lit(""))
    slash = F.when(nib(4) % 2 == 0, F.lit("/")).otherwise(F.lit(""))
    q_noise = (
        F.when(nib(5) % 3 == 0, F.lit("?x=1&utm_source=feed"))
        .when(nib(5) % 3 == 1, F.lit("?utm_campaign=z&x=1"))
        .otherwise(F.lit("?x=1"))
    )
    frag = F.when(nib(6) % 2 == 0, F.lit("#Sec2")).otherwise(F.lit(""))
    return F.concat(
        scheme,
        F.lit("://"),
        www,
        F.col("source"),
        F.lit(".Example.COM"),
        port,
        F.lit("/Docs/"),
        F.expr("CAST(doc_id div 100 AS STRING)"),
        slash,
        q_noise,
        frag,
    )


def canonical_urls(df: DataFrame) -> DataFrame:
    """(doc_id, url) → (doc_id, canonical_url): the Spark twin of
    ``url_canon_ctes``. Separate selects per derived column — a
    single select list would lateral-resolve later expressions
    against earlier aliases (the quantize-int8 shadowing lesson)."""
    base = df.select(
        "doc_id",
        F.lower(F.regexp_replace("url", r"#.*$", "")).alias("u"),
    )
    noscheme = base.select(
        "doc_id", F.regexp_replace("u", r"^https?://", "").alias("u")
    )
    hosted = noscheme.select(
        "doc_id", "u", F.substring_index("u", "/", 1).alias("hostport")
    )
    split_q = hosted.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("hostport", r"^www\.", ""), r":(80|443)$", ""
        ).alias("host"),
        F.expr("substring(u, length(hostport) + 1)").alias("tail"),
    )
    # segment between the tail's first and second '?' — F.get is
    # NULL-safe out of bounds (no '?': the when() below falls to '')
    # and matches DuckDB's split_part(tail, '?', 2) exactly, where
    # substring_index(…, -1) took everything after the LAST '?'
    # (round-7 review drift fix)
    q = F.get(F.split("tail", "[?]"), 1)
    params = F.array_join(
        F.array_sort(
            F.filter(
                F.split(q, "&"),
                lambda p: ~(
                    p.startswith("utm_")
                    | p.startswith("fbclid=")
                    | p.startswith("gclid=")
                ),
            )
        ),
        "&",
    )
    return split_q.select(
        "doc_id",
        F.concat(
            F.col("host"),
            F.regexp_replace(
                F.substring_index("tail", "?", 1), r"/+$", ""
            ),
            F.when(
                F.col("tail").contains("?") & (params != ""),
                F.concat(F.lit("?"), params),
            ).otherwise(F.lit("")),
        ).alias("canonical_url"),
    )
