"""Text-analysis column expressions.

All pure ``pyspark.sql.functions`` compositions — JVM-side,
codegen-friendly, no Python UDFs in any hot path. Where a function
must be oracle-checkable cross-engine, it is built only from
primitives with identical semantics in Spark SQL and DuckDB
(md5 hex, instr, substring, regexp counts).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tokenization ----------------------------------------------------------------

TOKEN_SPLIT_RE = r"\s+"
# BPE-ish word/number/punctuation segmentation (public GPT-2-style shape:
# letter runs, digit runs, single non-space symbols).
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text (empty string → [''] guard:
    filter zero-length tokens)."""
    return F.filter(F.split(F.trim(col), TOKEN_SPLIT_RE), lambda t: F.length(t) > 0)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Count of BPE-ish segments — a cheap, deterministic proxy for
    LLM token counts (regexp_count is JVM-side)."""
    return F.regexp_count(col, F.lit(BPE_ISH_RE))


# Shingles --------------------------------------------------------------------
#
# The one definition of "a doc's shingle set" and "Jaccard over two of
# them", in a Spark form and a SQL form each (the SQL text is valid in
# DuckDB, where the oracles run):
#
# - the set: ``char_shingles`` (one array per doc) and
#   ``shingle_postings`` (distinct (doc, s) rows) / ``shingle_set_sql``;
# - the counts: ``shingle_overlap`` materializes |a∩b| and |a∪b| per
#   pair / ``shingle_overlap_sql`` states them as select items;
# - the ratio: ``jaccard`` / ``jaccard_sql``, 6 decimals, NULL on an
#   empty union (ANSI mode raises on 0/0, so the guard is a CASE).


def char_shingles(col: Column, k: int = 5) -> Column:
    """Distinct character k-grams via transform over an index
    sequence — no explode, stays one row per document.

    NB: texts shorter than k yield an EMPTY array. The guard is
    required because Spark's ``sequence(1, 0)`` produces the
    DESCENDING sequence [1, 0] (DuckDB's generate_series(1,0) is
    empty) — without it short texts get phantom shingles."""
    n = F.length(col) - F.lit(k - 1)
    return F.when(
        n >= 1,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(col, i, k))
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_set_sql(text: str = "text", k: int = 5) -> str:
    """SQL twin of ``char_shingles``: the distinct k-grams of the SQL
    expression ``text`` (``generate_series(1, 0)`` is empty in DuckDB,
    so short texts need no guard there)."""
    return (
        f"list_distinct([substring({text}, x, {k}) for x in "
        f"generate_series(1, greatest(len({text}) - {k - 1}, 0))])"
    )


def shingle_positions(df: DataFrame, cols: Sequence[str], k: int = 5) -> DataFrame:
    """``cols`` + one row per k-gram position ``s`` of ``df.text`` —
    an explode of codegen'd ``substring`` calls, not the interpreted
    ``transform`` of ``char_shingles``, for corpus-sized passes. The
    length guard stands in for Spark's descending ``sequence(1, 0)``."""
    return (
        df.where(F.length("text") >= k)
        .select(
            *cols,
            F.explode(F.sequence(F.lit(1), F.length("text") - F.lit(k - 1))).alias("i"),
            "text",
        )
        .select(*cols, F.expr(f"substring(text, i, {k})").alias("s"))
    )


def shingle_postings(df: DataFrame, cols: Sequence[str], k: int = 5) -> DataFrame:
    """Distinct (``cols``, ``s``) shingle postings of ``df.text``: the
    exploded form of ``char_shingles``."""
    return shingle_positions(df, cols, k).distinct()


def shingle_overlap(pairs: DataFrame, a: Column, b: Column) -> DataFrame:
    """(doc_a, doc_b, ni, sab) — ni = |a∩b| and sab = |a| + |b| of the
    shingle arrays ``a`` and ``b`` on every row of ``pairs``; the
    union is ``sab - ni``.

    The counts go through a Generate node (explode of a one-element
    array): a later filter on an alias of ``array_intersect`` is
    otherwise pushed into the join condition below it with the
    intersect inlined once per reference (three per pair)."""
    c = pairs.select(
        "doc_a",
        "doc_b",
        F.explode(
            F.array(
                F.struct(
                    F.size(F.array_intersect(a, b)).alias("ni"),
                    (F.size(a) + F.size(b)).alias("sab"),
                )
            )
        ).alias("_c"),
    )
    return c.select("doc_a", "doc_b", F.col("_c.ni").alias("ni"), F.col("_c.sab").alias("sab"))


def jaccard(ni: Column, nu: Column) -> Column:
    """ni / nu rounded to 6 decimals; NULL when the union is empty."""
    return F.when(nu > 0, F.round(ni.cast("double") / nu, 6))


def jaccard_sql(ni: str, nu: str) -> str:
    """SQL twin of ``jaccard``."""
    return f"CASE WHEN {nu} > 0 THEN round(CAST({ni} AS DOUBLE) / {nu}, 6) END"


def shingle_overlap_sql(a: str, b: str) -> str:
    """SQL form of ``shingle_overlap``: the select items ``ni`` =
    |a∩b| and ``nu`` = |a∪b| of the shingle lists ``a`` and ``b``
    (BIGINT in DuckDB)."""
    ni = f"len(list_intersect({a}, {b}))"
    return f"{ni} AS ni, len({a}) + len({b}) - {ni} AS nu"


# Quality / stats -------------------------------------------------------------

# Public-domain-style English stopword core (used for quality ratio + lang id).
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "be", "this",
)


def punct_ratio(col: Column) -> Column:
    return F.when(F.length(col) > 0, F.regexp_count(col, F.lit(r"[^\w\s]")) / F.length(col)).otherwise(F.lit(0.0))


def digit_ratio(col: Column) -> Column:
    return F.when(F.length(col) > 0, F.regexp_count(col, F.lit(r"[0-9]")) / F.length(col)).otherwise(F.lit(0.0))


def stopword_ratio(col: Column) -> Column:
    """Fraction of whitespace tokens that are core English stopwords."""
    toks = tokens(F.lower(col))
    sw = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    return F.when(F.size(toks) > 0, sw / F.size(toks)).otherwise(F.lit(0.0))


def mean_token_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column) -> Column:
    """Composite [0,1] quality heuristic in the Gopher/C4-rule
    spirit: penalize extreme punctuation/digit density, reward
    plausible mean token length and stopword presence. Deterministic
    arithmetic only — oracle-expressible."""
    mtl = mean_token_len(col)
    len_ok = F.when((mtl >= 2.0) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    sw_ok = F.when(stopword_ratio(col) >= 0.01, F.lit(1.0)).otherwise(F.lit(0.0))
    return F.round(
        0.4 * len_ok
        + 0.2 * sw_ok
        + 0.2 * (1.0 - F.least(punct_ratio(col) * 5.0, F.lit(1.0)))
        + 0.2 * (1.0 - F.least(digit_ratio(col) * 5.0, F.lit(1.0))),
        4,
    )


# Language ID -----------------------------------------------------------------

# Tiny marker lexicons per language — an n-gram/stopword heuristic in the
# fastText/CLD spirit, sized for determinism not accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "with", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "los", "las", "es", "una"),
    "fr": ("le", "la", "les", "est", "une", "dans"),
}
CJK_RE = r"[一-鿿]"


def _in_set(markers: tuple[str, ...]):
    # NB: a closure factory, not a default-arg lambda — F.filter counts a
    # lambda's parameters, and a default arg would make it look like the
    # 2-arg (element, index) form.
    return lambda t: t.isin(*markers)


def lang_scores(col: Column) -> dict[str, Column]:
    toks = tokens(F.lower(col))
    scores = {
        lang: F.size(F.filter(toks, _in_set(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    # zh scored on CJK codepoint presence, weighted to dominate when present.
    scores["zh"] = F.regexp_count(col, F.lit(CJK_RE)) * F.lit(3)
    return scores


# Deterministic argmax priority on score ties (checked in this order).
LANG_PRIORITY = ("zh", "en", "de", "es", "fr")


def lang_id(col: Column) -> Column:
    """argmax over marker scores via chained CASE — all-zero → 'und';
    score ties resolve by LANG_PRIORITY order. The chained-CASE form
    (rather than an array/struct argmax) is deliberately chosen so
    the DuckDB oracle can state the identical expression."""
    scores = lang_scores(col)
    top = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        expr = F.when(scores[lang] == top, F.lit(lang)).otherwise(expr)
    return F.when(top > 0, expr).otherwise(F.lit("und"))


# Fingerprinting --------------------------------------------------------------


def minhash_fingerprint(col: Column, k: int = 5) -> Column:
    """Document fingerprint: min md5 over character k-gram shingles —
    a 1-permutation MinHash. Two documents sharing their lowest
    shingle hash are near-dup candidates; also a stable content
    fingerprint robust to rotation. md5 is identical cross-engine →
    oracle-checkable."""
    return F.array_min(F.transform(char_shingles(col, k), F.md5))


def content_hash(col: Column, normalize: bool = True) -> Column:
    """Exact-dup key: md5 of (optionally whitespace/case-normalized)
    text."""
    c = col
    if normalize:
        c = F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")
    return F.md5(c)
