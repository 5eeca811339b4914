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

# Tokens ----------------------------------------------------------------------
#
# The one definition of a whitespace token, a non-empty line, a word
# n-gram and the normalized-text key, in a Spark form and a SQL form
# each (the SQL text runs in DuckDB, where the oracles run). Whitespace
# is Java's ``\s``: the six ASCII characters space, \t, \n, \v, \f, \r.
# RE2's ``\s`` has no \v and DuckDB's ``trim`` also strips Unicode
# spaces (NBSP, U+2003, U+3000), so the SQL forms spell the class out
# (``WS_SQL``) and trim ASCII space only. ``lower`` is the one
# primitive the engines still disagree on (see ``tokens_sql``).

TOKEN_SPLIT_RE = r"\s+"
WS_SQL = r" \t\n\v\f\r"
# BPE-ish word/number/punctuation segmentation (public GPT-2-style shape:
# letter runs, digit runs, single non-space symbols).
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
BPE_ISH_SQL = rf"[A-Za-z]+|[0-9]+|[^A-Za-z0-9{WS_SQL}]"
# Punctuation: neither a word character nor whitespace.
PUNCT_RE = r"[^\w\s]"
PUNCT_SQL = rf"[^\w{WS_SQL}]"


def tokens(col: Column) -> Column:
    """Whitespace tokens of trimmed text (empty string → [''] guard:
    filter zero-length tokens)."""
    return F.filter(F.split(F.trim(col), TOKEN_SPLIT_RE), lambda t: F.length(t) > 0)


def tokens_sql(text: str = "text", lower: bool = False) -> str:
    """SQL twin of ``tokens`` (with ``lower``: of
    ``tokens(F.lower(col))``): the maximal runs of non-whitespace.

    Input contract: ``lower`` differs between the engines outside
    simple case mappings. Java maps a word-final capital sigma to 'ς'
    and 'İ' to 'i' + U+0307; DuckDB maps them to 'σ' and 'i' ('ΟΔΟΣ'
    → 'οδος' in Spark, 'οδοσ' in DuckDB). Lowered tokens agree only on
    text without such characters."""
    src = f"lower({text})" if lower else text
    return f"regexp_extract_all({src}, '[^{WS_SQL}]+')"


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def bpe_ish_token_count(col: Column) -> Column:
    """Count of BPE-ish segments — a cheap, deterministic proxy for
    LLM token counts (regexp_count is JVM-side)."""
    return F.regexp_count(col, F.lit(BPE_ISH_RE))


def lines(col: Column) -> Column:
    """The non-empty '\\n'-separated lines, in order."""
    return F.array_remove(F.split(col, "\n"), "")


def lines_sql(text: str = "text") -> str:
    """SQL twin of ``lines``."""
    return f"list_filter(string_split({text}, chr(10)), x -> x <> '')"


def word_ngrams(toks: Column, n: int) -> Column:
    """The space-joined word n-grams of the token array ``toks``, in
    order: empty below n tokens (the range is guarded because Spark's
    ``sequence(1, 0)`` counts down), NULL on NULL. ``toks`` is bound
    once through a one-element transform, so a tokenizer expression
    passed in runs once per row, not once per n-gram. Each gram is
    one ``concat`` of n ``element_at``s: no per-gram array, unlike
    ``array_join(slice(..))``, which measured 28% (n = 8) to 52%
    (n = 2) slower over 40,000 documents on 4 cores."""

    def gram(w: Column, i: Column) -> Column:
        parts = [F.element_at(w, i)]
        for k in range(1, n):
            parts += [F.lit(" "), F.element_at(w, i + k)]
        return F.concat(*parts)

    def grams(w: Column) -> Column:
        return F.when(
            F.size(w) >= n,
            F.transform(F.sequence(F.lit(1), F.size(w) - (n - 1)), lambda i: gram(w, i)),
        ).when(w.isNotNull(), F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(toks), grams), 1)


def word_ngrams_sql(toks: str, n: int) -> str:
    """SQL twin of ``word_ngrams`` over the SQL list ``toks``
    (``generate_series(1, 0)`` is empty in DuckDB)."""
    return (
        f"[array_to_string({toks}[x:x + {n - 1}], ' ') "
        f"for x in generate_series(1, len({toks}) - {n - 1})]"
    )


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


# Quality and language ID -----------------------------------------------------
#
# Each score is written once per engine: ``quality`` / ``lang_pred``
# map per-doc counts to the score (the per-row scorers below and the
# batch explode pass, ``plans/text.py::_token_agg``, feed them), and
# ``quality_sql`` / ``lang_id_sql`` state the whole query over
# ``documents`` for the oracles. Both count over the LOWERED tokens.

# Public-domain-style English stopword core (used for quality ratio + lang id).
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for",
    "on", "with", "as", "was", "at", "by", "be", "this",
)


def quality(
    n_chars: Column,
    n_tokens: Column,
    sum_len: Column,
    n_stop: Column,
    n_punct: Column,
    n_digit: Column,
) -> Column:
    """Composite [0,1] quality heuristic in the Gopher/C4-rule
    spirit, rounded to 4 dp: reward a plausible mean token length
    (``sum_len / n_tokens`` in [2, 12]) and stopword presence, penalize
    extreme punctuation/digit density (per character). Deterministic
    arithmetic only — oracle-expressible."""
    mtl = F.when(n_tokens > 0, sum_len.cast("double") / n_tokens).otherwise(F.lit(0.0))
    sw_ratio = F.when(n_tokens > 0, n_stop.cast("double") / n_tokens).otherwise(F.lit(0.0))
    p_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    d_ratio = F.when(n_chars > 0, n_digit / n_chars).otherwise(F.lit(0.0))
    return F.round(
        0.4 * F.when((mtl >= 2.0) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
        + 0.2 * F.when(sw_ratio >= 0.01, F.lit(1.0)).otherwise(F.lit(0.0))
        + 0.2 * (1.0 - F.least(p_ratio * 5.0, F.lit(1.0)))
        + 0.2 * (1.0 - F.least(d_ratio * 5.0, F.lit(1.0))),
        4,
    )


def quality_score(col: Column) -> Column:
    """``quality`` of one text column, row by row (the stateless form
    a stream can run)."""
    toks = tokens(F.lower(col))
    return quality(
        F.length(col),
        F.size(toks),
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)),
        F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS))),
        F.regexp_count(col, F.lit(PUNCT_RE)),
        F.regexp_count(col, F.lit(r"[0-9]")),
    )


def quality_sql() -> str:
    """SQL twin of ``quality``: (doc_id, quality) over ``documents``."""
    stop_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return f"""
    WITH toks AS (
        SELECT doc_id,
               {tokens_sql(lower=True)} AS tokens,
               len(text) AS n,
               len(regexp_extract_all(text, '{PUNCT_SQL}')) AS n_punct,
               len(regexp_extract_all(text, '[0-9]')) AS n_digit
        FROM documents
    ), feat AS (
        SELECT doc_id,
               CASE WHEN len(tokens) > 0
                    THEN CAST(coalesce(list_sum([len(t) for t in tokens]), 0) AS DOUBLE) / len(tokens)
                    ELSE 0.0 END AS mtl,
               CASE WHEN len(tokens) > 0
                    THEN CAST(len(list_filter(tokens, t -> t IN ({stop_list}))) AS DOUBLE) / len(tokens)
                    ELSE 0.0 END AS sw_ratio,
               CASE WHEN n > 0 THEN CAST(n_punct AS DOUBLE) / n ELSE 0.0 END AS p_ratio,
               CASE WHEN n > 0 THEN CAST(n_digit AS DOUBLE) / n ELSE 0.0 END AS d_ratio
        FROM toks
    )
    SELECT doc_id,
           round(0.4 * (CASE WHEN mtl >= 2.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END)
               + 0.2 * (CASE WHEN sw_ratio >= 0.01 THEN 1.0 ELSE 0.0 END)
               + 0.2 * (1.0 - least(p_ratio * 5.0, 1.0))
               + 0.2 * (1.0 - least(d_ratio * 5.0, 1.0)), 4) AS quality
    FROM feat
    """


# Tiny marker lexicons per language — an n-gram/stopword heuristic in the
# fastText/CLD spirit, sized for determinism not accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "with", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht"),
    "es": ("el", "la", "los", "las", "es", "una"),
    "fr": ("le", "la", "les", "est", "une", "dans"),
}
CJK_RE = r"[一-鿿]"
# Deterministic argmax priority on score ties (checked in this order).
LANG_PRIORITY = ("zh", "en", "de", "es", "fr")


def _in_set(markers: tuple[str, ...]):
    # NB: a closure factory, not a default-arg lambda — F.filter counts a
    # lambda's parameters, and a default arg would make it look like the
    # 2-arg (element, index) form.
    return lambda t: t.isin(*markers)


def lang_pred(scores: dict[str, Column]) -> Column:
    """argmax over the marker scores (one per LANG_MARKERS language,
    then 'zh' = 3 × CJK code points) via chained CASE — all-zero →
    'und'; ties resolve by LANG_PRIORITY order. The chained-CASE form
    (rather than an array/struct argmax) is the one the SQL oracle
    can state identically."""
    top = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(LANG_PRIORITY):
        pred = F.when(scores[lang] == top, F.lit(lang)).otherwise(pred)
    return F.when(top > 0, pred).otherwise(F.lit("und"))


def lang_id(col: Column) -> Column:
    """``lang_pred`` of one text column, row by row."""
    toks = tokens(F.lower(col))
    scores = {
        lang: F.size(F.filter(toks, _in_set(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    scores["zh"] = F.regexp_count(col, F.lit(CJK_RE)) * F.lit(3)
    return lang_pred(scores)


def lang_id_sql() -> str:
    """SQL twin of ``lang_pred``: (doc_id, lang_label, lang_pred) over
    ``documents``."""
    score_sql = {
        lang: "len(list_filter(ltokens, t -> t IN ({})))".format(
            ", ".join(f"'{w}'" for w in markers)
        )
        for lang, markers in LANG_MARKERS.items()
    }
    score_sql["zh"] = f"len(regexp_extract_all(text, '{CJK_RE}')) * 3"
    cols = ",\n               ".join(f"{sql} AS s_{lang}" for lang, sql in score_sql.items())
    case = "'und'"
    for lang in reversed(LANG_PRIORITY):
        case = f"CASE WHEN s_{lang} = top THEN '{lang}' ELSE {case} END"
    return f"""
    WITH toks AS (
        SELECT doc_id, lang, text, {tokens_sql(lower=True)} AS ltokens
        FROM documents
    ), scores AS (
        SELECT doc_id, lang AS lang_label,
               {cols}
        FROM toks
    ), top AS (
        SELECT *, greatest({', '.join(f"s_{lang}" for lang in score_sql)}) AS top FROM scores
    )
    SELECT doc_id, lang_label,
           CASE WHEN top > 0 THEN {case} ELSE 'und' END AS lang_pred
    FROM top
    """


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


def content_hash_sql(text: str = "text") -> str:
    """SQL twin of ``content_hash(col)`` (normalized): Spark's ``trim``
    strips ASCII space only, and so does this one."""
    return f"md5(regexp_replace(lower(trim({text}, ' ')), '[{WS_SQL}]+', ' ', 'g'))"
