"""Text-analysis queries over ``documents`` (training-data-pipeline
surface: token stats, quality scoring, language ID, fingerprinting,
word frequencies).

Every expression is a JVM-side built-in composition from
``functions/text.py``; the oracle strings restate the identical
computation in DuckDB (both engines implement md5, instr, regexp
counts and higher-order list functions with matching semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from ..functions import text as tx
from ..functions.hexdigest import hex_int_sql
from ..sources.catalog import table, wide_table
from .constants import SHINGLE_K
from .registry import register


@register(
    "text_token_stats",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, n_chars, len(text) AS text_len,
               {tx.tokens_sql()} AS tokens
        FROM documents
    )
    SELECT doc_id, text_len, n_chars,
           len(tokens) AS n_tokens,
           round(CAST(coalesce(list_sum([len(t) for t in tokens]), 0) AS DOUBLE)
                 / greatest(len(tokens), 1), 4) AS mean_token_len
    FROM toks
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics (whitespace tokenization)."""
    d = wide_table(spark, sf_dir, "documents")
    toks = tx.tokens(F.col("text"))
    total_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return d.select(
        "doc_id",
        F.length("text").alias("text_len"),
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.round(
            total_len.cast("double") / F.greatest(F.size(toks), F.lit(1)), 4
        ).alias("mean_token_len"),
    )


@register(
    "text_token_counts_bpe",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{tx.BPE_ISH_SQL}')) AS INTEGER)
               AS n_bpe_tokens,
           CAST(len({tx.tokens_sql()}) AS INTEGER) AS n_ws_tokens
    FROM documents
    """,
)
def text_token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, whitespace + BPE-ish segmentation (letter
    runs / digit runs / single symbols) — the cheap LLM-token-count
    proxy, one regexp_count scan."""
    d = wide_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.bpe_ish_token_count(F.col("text")).cast("int").alias("n_bpe_tokens"),
        tx.token_count(F.col("text")).cast("int").alias("n_ws_tokens"),
    )


def _token_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fast path for the per-token features: explode tokens
    once and aggregate with codegen'd scalar expressions. Spark
    interprets higher-order array lambdas (the form
    ``functions/text.py`` exposes and the oracle states), which
    costs ~4× on full-corpus scans — same math, faster plan. Doc-
    level regexp features are computed BEFORE the explode (once per
    document) and carried via first()."""
    d = wide_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        F.regexp_count("text", F.lit(tx.PUNCT_RE)).alias("n_punct"),
        F.regexp_count("text", F.lit(r"[0-9]")).alias("n_digit"),
        F.regexp_count("text", F.lit(tx.CJK_RE)).alias("n_cjk"),
    )
    toks = d.select(
        "doc_id",
        "n",
        "n_punct",
        "n_digit",
        "n_cjk",
        F.explode_outer(tx.tokens(F.lower(F.col("text")))).alias("t"),
    )
    marker_sums = [
        F.sum(F.when(F.col("t").isin(*markers), 1).otherwise(0)).alias(f"s_{lang}")
        for lang, markers in tx.LANG_MARKERS.items()
    ]
    return toks.groupBy("doc_id").agg(
        F.first("n").alias("n"),
        F.first("n_punct").alias("n_punct"),
        F.first("n_digit").alias("n_digit"),
        F.first("n_cjk").alias("n_cjk"),
        F.count("t").alias("n_tokens"),
        F.coalesce(F.sum(F.length("t")), F.lit(0)).alias("sum_len"),
        F.sum(F.when(F.col("t").isin(*tx.EN_STOPWORDS), 1).otherwise(0)).alias("n_stop"),
        *marker_sums,
    )


def _quality_col() -> F.Column:
    """``tx.quality`` over the _token_agg feature frame — shared by
    text_quality_score and documents_filter_cascade (one feature
    pass)."""
    return tx.quality(*map(F.col, ("n", "n_tokens", "sum_len", "n_stop", "n_punct", "n_digit")))


def _langpred_col() -> F.Column:
    """``tx.lang_pred`` over the _token_agg feature frame — shared
    by text_lang_id and documents_filter_cascade."""
    scores = {lang: F.col(f"s_{lang}").cast("long") for lang in tx.LANG_MARKERS}
    scores["zh"] = (F.col("n_cjk") * 3).cast("long")
    return tx.lang_pred(scores)


@register("text_quality_score", oracle=tx.quality_sql())
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality heuristic (Gopher/C4-rule spirit): mean
    token length window + stopword presence + punctuation/digit
    density penalties → [0,1]. (Column-expression form:
    ``functions/text.py::quality_score`` — this plan uses the
    explode fast path, same values.)"""
    f = _token_agg(spark, sf_dir)
    return f.select("doc_id", _quality_col().alias("quality"))


def _survivors_quality_oracle() -> str:
    # module-order note: dedup is already imported by plans/__init__
    # BEFORE text (alphabetical), so this import cannot reorder the
    # registry
    from .dedup import _clusters_walk_body

    return f"""
    WITH RECURSIVE {_clusters_walk_body()},
    cl AS (SELECT u AS doc_id, min(m) AS cluster_id FROM walk GROUP BY u),
    q AS (SELECT * FROM ({tx.quality_sql()}))
    SELECT cl.doc_id, cl.cluster_id, q.quality,
           (row_number() OVER (
                PARTITION BY cl.cluster_id
                ORDER BY q.quality DESC, cl.doc_id
            ) = 1) AS is_survivor
    FROM cl JOIN q USING (doc_id)
    """


@register("dedup_survivors_quality", oracle=_survivors_quality_oracle())
def dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster canonicalization by QUALITY: the same
    LSH-verified connected components as ``dedup_clusters_lsh``, but
    the survivor of each cluster is its highest-quality member
    (text_quality_score, doc_id tiebreak) instead of the min-id —
    the decision a curation pipeline actually makes ("among these
    near-copies, keep the cleanest one", à la the RefinedWeb/FineWeb
    dedup stage). Both halves are existing oracled machinery: the
    recursive-CTE closure and the quality CTE compose, and the
    argmax is one per-cluster window on the already-rounded 4dp
    quality (engine-identical values, unique tiebreak).

    Scale shape: pair generation + closure are dedup_clusters_lsh's
    (banded, never all-pairs; per-round checkpointed CC); quality is
    one corpus scan; the argmax window partitions by cluster —
    cluster-count parallelism. Builder runs jobs at plan time
    (signature/shingle/CC checkpoints): BUILD_EXECUTES."""
    from ..dedup.clusters import connected_components
    from .dedup import _lsh_verified_pairs

    cl = connected_components(_lsh_verified_pairs(spark, sf_dir))
    q = text_quality_score(spark, sf_dir)
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), "doc_id")
    return (
        cl.join(q, "doc_id")
        .select(
            "doc_id",
            "cluster_id",
            "quality",
            (F.row_number().over(w) == 1).alias("is_survivor"),
        )
    )


@register("dedup_survivors_indexed", oracle=_survivors_quality_oracle())
def dedup_survivors_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_survivors_quality riding a MATERIALIZED lang-blocked
    band index instead of recomputing signatures — the family-reuse
    answer to the r8 verdict's item 5. The measured 40× story
    (SCALING.md round-9): reading the 128-long signature ARRAYS back
    from parquet LOSES to recomputing them (35.7 s vs 23.4 s — wide
    array decode beats nothing), but reading the BANDS table (16
    short rows/doc, no signature payload) wins 2.4× (9.9 s vs
    23.4 s for the identical 85,688-pair front end). So the index
    shape that matters for the LSH family is the banded one:
    write once (extra_cols=('lang',) carries the blocking column),
    then every family member's candidate stage is a bucketed-table
    groupBy — exchange-free by layout — plus the shared
    full-shingle verify. This registered form pays the index WRITE
    inside (the green row certifies the written index, the
    dedup_minhash_indexed convention); the amortized win applies
    from the second family member on. Same oracle as
    dedup_survivors_quality — output is IDENTICAL by construction
    (parity-pinned in test_dedup). Builder writes the index at plan
    time: BUILD_EXECUTES."""
    from ..dedup import minhash as mh
    from ..dedup.clusters import connected_components
    from ..operators.confscope import build_with_conf
    from .dedup import _verify_pairs_full_shingles

    family = mh.minhash_family(sf_dir)
    d = wide_table(spark, sf_dir, "documents")
    mh.write_minhash_index(
        spark,
        d.select("doc_id", "lang", "text"),
        "minhash_fam_idx",
        downsample=1,
        family=family,
        extra_cols=("lang",),
    )

    def _probe() -> DataFrame:
        banded = spark.table("minhash_fam_idx_bands")
        cand = mh.pairs_within_buckets(
            banded, "doc_id", ["lang", "band", "band_key"]
        )
        pairs = _verify_pairs_full_shingles(d, cand)
        cl = connected_components(pairs)
        q = text_quality_score(spark, sf_dir)
        w = Window.partitionBy("cluster_id").orderBy(
            F.desc("quality"), "doc_id"
        )
        return cl.join(q, "doc_id").select(
            "doc_id",
            "cluster_id",
            "quality",
            (F.row_number().over(w) == 1).alias("is_survivor"),
        )

    return build_with_conf(
        spark,
        {"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"},
        _probe,
    )


@register("text_lang_id", oracle=tx.lang_id_sql())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via marker-stopword/CJK-codepoint scoring with a
    deterministic argmax (chained CASE, tie priority zh>en>de>es>fr)
    — the n-gram-heuristic stand-in for a real fastText model, kept
    oracle-expressible. (Column form: ``functions/text.py::lang_id``;
    this plan uses the shared explode fast path.)"""
    f = _token_agg(spark, sf_dir)
    labels = wide_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("lang_label")
    )
    return f.join(labels, "doc_id").select(
        "doc_id", "lang_label", _langpred_col().alias("lang_pred")
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {tx.content_hash_sql()} AS content_md5,
           list_min([md5(s) for s in {tx.shingle_set_sql("text", SHINGLE_K)}]) AS min_shingle_md5
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: normalized content hash + min-shingle
    hash (1-permutation MinHash — robust to local edits the way a
    rolling-hash winnow is)."""
    d = wide_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        tx.content_hash(F.col("text")).alias("content_md5"),
        tx.minhash_fingerprint(F.col("text"), SHINGLE_K).alias("min_shingle_md5"),
    )


@register(
    "word_freq_topk",
    oracle=rf"""
    SELECT word, n
    FROM (
        SELECT t.word AS word, count(*) AS n,
               row_number() OVER (ORDER BY count(*) DESC, t.word) AS rn
        FROM documents, unnest({tx.tokens_sql(lower=True)}) AS t(word)
        GROUP BY t.word
    )
    WHERE rn <= 20
    """,
)
def word_freq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level word frequencies, top 20 (explode → two-stage
    hash aggregate; partial aggregation caps the shuffle at
    |vocab| × partitions, not |tokens|)."""
    d = wide_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


def _repetition_oracle() -> str:
    """DuckDB restatement of the per-doc repetition signals — a
    function so documents_filter_cascade can embed it as a subquery
    (the ``tx.quality_sql`` precedent)."""
    return rf"""
    WITH ln AS (
        SELECT doc_id,
               {tx.lines_sql()} AS ls
        FROM documents
    ),
    lagg AS (
        SELECT doc_id,
               CAST(len(ls) AS BIGINT) AS n_lines,
               CAST(len(list_distinct(ls)) AS BIGINT) AS n_uniq
        FROM ln
    ),
    toks AS (
        SELECT doc_id, {tx.tokens_sql()} AS t FROM documents
    ),
    big AS (
        SELECT doc_id,
               unnest({tx.word_ngrams_sql('t', 2)}) AS bg
        FROM toks
    ),
    cnt AS (SELECT doc_id, bg, count(*) AS c FROM big GROUP BY doc_id, bg),
    bga AS (SELECT doc_id, max(c) AS mx, sum(c) AS tot FROM cnt GROUP BY doc_id)
    SELECT d.doc_id,
           coalesce(lagg.n_lines, 0) AS n_lines,
           round(CASE WHEN lagg.n_lines > 0
                      THEN 1.0 - CAST(lagg.n_uniq AS DOUBLE) / lagg.n_lines
                      ELSE 0.0 END, 6) AS dup_line_frac,
           round(CASE WHEN bga.tot > 0
                      THEN CAST(bga.mx AS DOUBLE) / bga.tot
                      ELSE 0.0 END, 6) AS top_bigram_share
    FROM documents d
    LEFT JOIN lagg ON lagg.doc_id = d.doc_id
    LEFT JOIN bga ON bga.doc_id = d.doc_id
    """


@register("text_repetition_stats", oracle=_repetition_oracle())
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher-rule shapes): fraction
    of duplicate non-empty lines and the share of the most frequent
    word bigram. High values flag boilerplate/spam for the curation
    pipeline. Lines and bigrams explode into two independent
    hash-aggregate branches (map-side partial agg caps both
    shuffles); empty docs come back via left joins with 0.0 scores."""
    d = wide_table(spark, sf_dir, "documents")
    lines = d.select("doc_id", F.explode(tx.lines(F.col("text"))).alias("line"))
    lagg = lines.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("line").alias("n_uniq"),
    )
    bigrams = tx.word_ngrams(tx.tokens(F.col("text")), 2)
    bg = d.select("doc_id", F.explode(bigrams).alias("bg"))
    bga = (
        bg.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
    )
    return (
        d.select("doc_id")
        .join(lagg, "doc_id", "left")
        .join(bga, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_lines"), F.lit(0).cast("bigint")).alias("n_lines"),
            F.round(
                F.when(
                    F.col("n_lines") > 0,
                    1.0 - F.col("n_uniq").cast("double") / F.col("n_lines"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_line_frac"),
            F.round(
                F.when(
                    F.col("tot") > 0, F.col("mx").cast("double") / F.col("tot")
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("top_bigram_share"),
        )
    )


@register(
    "text_char_bigram_logprob",
    oracle=r"""
    WITH bg AS (
        SELECT doc_id,
               unnest([substring(text, x, 2)
                       for x in generate_series(1, len(text) - 1)]) AS b
        FROM documents
    ),
    model AS (SELECT b, count(*) AS c FROM bg GROUP BY b),
    tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM model),
    scored AS (
        SELECT bg.doc_id,
               count(*) AS n_bigrams,
               avg(ln(CAST(model.c AS DOUBLE) / tot.n)) AS lp
        FROM bg JOIN model ON model.b = bg.b, tot
        GROUP BY bg.doc_id
    )
    SELECT d.doc_id,
           coalesce(s.n_bigrams, 0) AS n_bigrams,
           round(coalesce(s.lp, 0.0), 6) AS avg_logprob
    FROM documents d
    LEFT JOIN scored s ON s.doc_id = d.doc_id
    """,
)
def text_char_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring, the TRAIN-THEN-SCORE shape:
    phase 1 fits a char-bigram model on the corpus (one groupBy —
    the model is |charset²|-sized, dimension-small); phase 2
    broadcasts the model back over the corpus and scores each doc by
    its mean bigram log-probability. Low scores flag gibberish/
    unnatural text — the cheap stand-in for KenLM-perplexity
    filtering, same dataflow (fit small state on the whole corpus,
    broadcast, apply). Out-of-vocabulary lookups cannot occur (the
    model is fit on the scored corpus); a held-out split would add
    smoothing."""
    d = wide_table(spark, sf_dir, "documents")
    n = F.length("text") - F.lit(1)
    pos = F.explode(
        F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )
    )
    bg = d.select("doc_id", F.col("text"), pos.alias("_i")).select(
        "doc_id", F.col("text").substr(F.col("_i"), F.lit(2)).alias("b")
    )
    # checkpoint the (tiny, |charset²|) model: scoring joins bg back
    # against it, and without materialization the bigram explode
    # replays once for the model, once for the total, and once for
    # the probe side (the never-self-join-a-derived-pipeline rule)
    model = (
        bg.groupBy("b").agg(F.count(F.lit(1)).alias("c")).localCheckpoint(eager=True)
    )
    tot = model.agg(F.sum("c").cast("double").alias("n"))
    scored = (
        bg.join(F.broadcast(model), "b")
        .join(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(F.log(F.col("c").cast("double") / F.col("n"))).alias("lp"),
        )
    )
    return (
        d.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_bigrams"), F.lit(0).cast("bigint")).alias("n_bigrams"),
            F.round(F.coalesce(F.col("lp"), F.lit(0.0)), 6).alias("avg_logprob"),
        )
    )


@register(
    "text_sentences_udtf",
    oracle="""
    SELECT doc_id,
           CAST(x - 1 AS INTEGER) AS idx,
           parts[x] AS sentence
    FROM (
        SELECT doc_id, parts,
               unnest(generate_series(1, len(parts))) AS x
        FROM (SELECT doc_id, string_split(text, '. ') AS parts FROM documents)
    )
    WHERE parts[x] <> ''
    """,
)
def text_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence fan-out through a Python UDTF in SQL LATERAL
    position (``functions/udtfs.py``) — the user-defined TABLE
    function surface (Spark 4). The split semantics are restated in
    plain SQL by the oracle, so the UDTF hop itself is
    value-checked. Hot-path splitting stays on ``explode(split())``
    (JVM); the UDTF exists for fan-outs that need imperative row
    generation."""
    from ..functions.udtfs import register_udtfs

    register_udtfs(spark)
    wide_table(spark, sf_dir, "documents").createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.idx, s.sentence
        FROM _udtf_docs d, LATERAL split_sentences(d.text) s
        """
    )


# Count-min sketch: depth 4 × width 256. Row j's position is the
# j-th byte of md5(word) (two hex nibbles → 0..255, no modulo) —
# the same cross-engine md5 idiom as SimHash/Bloom, so the WHOLE
# sketch (build + probe) is restatable in SQL and exactly checked.
CMS_DEPTH = 4
CMS_WIDTH = 256


def _cms_pos(j: int, h: str) -> str:
    """Dialect-neutral SQL: byte j of md5-hex expression ``h``."""
    return hex_int_sql(h, 2 * j + 1, 2)


@register(
    "word_freq_cms_topk",
    oracle=f"""
    WITH w AS (
        SELECT unnest({tx.tokens_sql(lower=True)}) AS word
        FROM documents
    ),
    pos AS (
        SELECT word, unnest(generate_series(0, {CMS_DEPTH - 1})) AS j FROM w
    ),
    cells AS (
        SELECT j,
               CASE {' '.join(f"WHEN j = {j} THEN {_cms_pos(j, 'md5(word)')}" for j in range(CMS_DEPTH))} END AS p,
               count(*) AS c
        FROM pos GROUP BY 1, 2
    ),
    top AS (
        SELECT word, count(*) AS n_exact,
               row_number() OVER (ORDER BY count(*) DESC, word) AS rn
        FROM w GROUP BY word
    ),
    probes AS (
        SELECT t.word, t.n_exact, j.j,
               CASE {' '.join(f"WHEN j.j = {j} THEN {_cms_pos(j, 'md5(t.word)')}" for j in range(CMS_DEPTH))} END AS p
        FROM (SELECT word, n_exact FROM top WHERE rn <= 20) t,
             generate_series(0, {CMS_DEPTH - 1}) AS j(j)
    )
    SELECT probes.word, probes.n_exact, min(cells.c) AS n_cms
    FROM probes JOIN cells ON cells.j = probes.j AND cells.p = probes.p
    GROUP BY probes.word, probes.n_exact
    """,
)
def word_freq_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation, demonstrated on the
    known top-20 words: the sketch is 4×256 counters (8 KB for any
    corpus size — the mergeable fixed-size state that replaces a
    |vocab|-sized exact count at 100 TB); estimate = min over rows.
    CMS guarantees n_cms ≥ n_exact with bounded overestimate; the
    md5-byte hash rows make the whole sketch exactly reconstructible
    in SQL, so even this 'approximate' operator is value-checked."""
    d = wide_table(spark, sf_dir, "documents")
    words = d.select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("word"))
    pos_cols = [F.expr(_cms_pos(j, "md5(word)")) for j in range(CMS_DEPTH)]
    # both sketch and exact-top derive from the same token explode;
    # materialize the tiny results (1024 cells / 20 words) so the
    # probe join below doesn't replay the corpus scan a third time
    cells = (
        words.select("word", F.posexplode(F.array(*pos_cols)).alias("j", "p"))
        .groupBy("j", "p")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    top = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("word"))
        .limit(20)
        .localCheckpoint(eager=True)
    )
    probes = top.select(
        "word", "n_exact", F.posexplode(F.array(*pos_cols)).alias("j", "p")
    )
    return (
        probes.join(F.broadcast(cells), ["j", "p"])
        .groupBy("word", "n_exact")
        .agg(F.min("c").alias("n_cms"))
    )


# Count sketch (AMS / signed CMS): depth 5 × width 256. Positions
# come from md5 bytes 0..4, signs from the parity of md5 bytes
# 5..9. Where CMS only ever over-estimates (collisions add), the
# signed counter makes collision noise ZERO-MEAN — colliding words
# cancel in expectation — and the median over an odd number of rows
# turns that into a two-sided bound. Same fixed 10 KB mergeable
# state, same exact SQL restatability via the md5 byte family.
CS_DEPTH = 5


def _cs_sign(j: int, h: str) -> str:
    """Dialect-neutral SQL: ±1 from the parity of md5 byte 5+j."""
    return f"(1 - 2 * ({_cms_pos(j + CS_DEPTH, h)} % 2))"


@register(
    "word_freq_countsketch_topk",
    oracle=f"""
    WITH w AS (
        SELECT unnest({tx.tokens_sql(lower=True)}) AS word
        FROM documents
    ),
    pos AS (
        SELECT word, unnest(generate_series(0, {CS_DEPTH - 1})) AS j FROM w
    ),
    cells AS (
        SELECT j,
               CASE {' '.join(f"WHEN j = {j} THEN {_cms_pos(j, 'md5(word)')}" for j in range(CS_DEPTH))} END AS p,
               sum(CASE {' '.join(f"WHEN j = {j} THEN {_cs_sign(j, 'md5(word)')}" for j in range(CS_DEPTH))} END) AS c
        FROM pos GROUP BY 1, 2
    ),
    top AS (
        SELECT word, count(*) AS n_exact,
               row_number() OVER (ORDER BY count(*) DESC, word) AS rn
        FROM w GROUP BY word
    ),
    probes AS (
        SELECT t.word, t.n_exact, j.j,
               CASE {' '.join(f"WHEN j.j = {j} THEN {_cms_pos(j, 'md5(t.word)')}" for j in range(CS_DEPTH))} END AS p,
               CASE {' '.join(f"WHEN j.j = {j} THEN {_cs_sign(j, 'md5(t.word)')}" for j in range(CS_DEPTH))} END AS sgn
        FROM (SELECT word, n_exact FROM top WHERE rn <= 20) t,
             generate_series(0, {CS_DEPTH - 1}) AS j(j)
    )
    SELECT probes.word, probes.n_exact,
           CAST(median(probes.sgn * cells.c) AS DOUBLE) AS n_cs
    FROM probes JOIN cells ON cells.j = probes.j AND cells.p = probes.p
    GROUP BY probes.word, probes.n_exact
    """,
)
def word_freq_countsketch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-sketch frequency estimation on the known top-20 words:
    each token votes ±1 (md5-parity sign) into one cell per row;
    estimate = median over rows of sign·cell. The signed votes make
    collision error zero-mean (vs CMS's one-sided overcount) at the
    price of variance — the classic CMS/count-sketch trade.
    Deterministic md5 position+sign family ⇒ the estimate itself is
    value-checked cross-engine, like the CMS twin above."""
    d = wide_table(spark, sf_dir, "documents")
    words = d.select(F.explode(tx.tokens(F.lower(F.col("text")))).alias("word"))
    pos_cols = [F.expr(_cms_pos(j, "md5(word)")) for j in range(CS_DEPTH)]
    sgn_cols = [F.expr(_cs_sign(j, "md5(word)")) for j in range(CS_DEPTH)]
    cells = (
        words.select(
            "word",
            F.posexplode(F.array(*pos_cols)).alias("j", "p"),
        )
        .select(
            "j",
            "p",
            F.element_at(F.array(*sgn_cols), F.col("j") + 1).alias("sgn"),
        )
        .groupBy("j", "p")
        .agg(F.sum("sgn").alias("c"))
        .localCheckpoint(eager=True)
    )
    top = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .orderBy(F.desc("n_exact"), F.asc("word"))
        .limit(20)
        .localCheckpoint(eager=True)
    )
    probes = top.select(
        "word",
        "n_exact",
        F.posexplode(F.array(*pos_cols)).alias("j", "p"),
    ).select(
        "word",
        "n_exact",
        "j",
        "p",
        F.element_at(F.array(*sgn_cols), F.col("j") + 1).alias("sgn"),
    )
    return (
        probes.join(F.broadcast(cells), ["j", "p"])
        .groupBy("word", "n_exact")
        .agg(F.median(F.col("sgn") * F.col("c")).alias("n_cs"))
    )


# Sequence packing: concat-and-chunk (GPT-style pretraining batch
# prep). Documents are laid head-to-tail in a deterministic order
# and cut into fixed token-budget sequences; each doc learns which
# sequence it starts in and at what offset.
PACK_BUDGET = 2048
N_PACK_SHARDS = 32


@register(
    "documents_pack_sequences",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, doc_id % {N_PACK_SHARDS} AS shard,
               CAST(len({tx.tokens_sql()}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                    - n_tokens AS BIGINT) AS off
        FROM t
    )
    SELECT doc_id, shard, n_tokens,
           off // {PACK_BUDGET} AS seq_id,
           off % {PACK_BUDGET} AS offset_in_seq
    FROM c
    """,
)
def documents_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every document a (shard, seq_id, offset) under
    concat-and-chunk packing: within a shard (doc_id mod
    N_PACK_SHARDS), docs are laid head-to-tail in doc_id order and
    cut into PACK_BUDGET-token training sequences.

    Scale shape: the cumulative sum runs per SHARD — 32 independent
    window partitions (a real pipeline shards by input file), so no
    global single-task window; the shuffle moves only (doc_id,
    n_tokens) pairs, never text. All-integer arithmetic, so the
    oracle is bit-exact."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % N_PACK_SHARDS).alias("shard"),
        tx.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    c = t.withColumn("off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return c.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.expr(f"off div {PACK_BUDGET}").alias("seq_id"),
        (F.col("off") % PACK_BUDGET).alias("offset_in_seq"),
    )


@register(
    "documents_pack_efficiency",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id, doc_id % {N_PACK_SHARDS} AS shard,
               CAST(len({tx.tokens_sql()}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, n_tokens,
               CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id)
                    - n_tokens AS BIGINT) AS off
        FROM t
    ),
    s AS (
        SELECT shard, doc_id, n_tokens, off,
               CASE WHEN n_tokens > 0
                    AND off // {PACK_BUDGET}
                        <> (off + n_tokens - 1) // {PACK_BUDGET}
                    THEN (off + n_tokens - 1) // {PACK_BUDGET}
                         - off // {PACK_BUDGET}
                    ELSE 0 END AS n_cuts
        FROM c
    )
    SELECT shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST((sum(n_tokens) + {PACK_BUDGET - 1}) // {PACK_BUDGET}
                AS BIGINT) AS n_seqs,
           CAST(sum(CASE WHEN n_cuts > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_split_docs,
           CAST(sum(n_cuts) AS BIGINT) AS n_cuts,
           round(CAST(CAST(sum(CASE WHEN n_cuts > 0 THEN 1 ELSE 0 END)
                           AS BIGINT) AS DOUBLE) / count(*), 6)
               AS split_frac,
           round(CASE WHEN sum(n_tokens) > 0
                      THEN CAST(CAST(sum(n_tokens) AS BIGINT) AS DOUBLE)
                           / (CAST((sum(n_tokens) + {PACK_BUDGET - 1})
                                   // {PACK_BUDGET} AS BIGINT)
                              * {PACK_BUDGET})
                      ELSE 0.0 END, 6) AS fill_rate
    FROM s
    GROUP BY shard
    """,
)
def documents_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-quality audit of the concat-and-chunk layout
    (``documents_pack_sequences``), per shard: docs, token mass,
    sequences used, docs CUT by a sequence boundary (the cross-doc
    attention-contamination / split-loss metric a pretraining team
    tracks), total cuts, split fraction, and fill rate (concat-and-
    chunk wastes only each shard's final partial sequence — the
    audit makes that trade against doc-splitting visible). Same
    sharded cumulative sum as the packing query; all counts exact
    integers, the two ratios divide exact int64 sums."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.col("doc_id") % N_PACK_SHARDS).alias("shard"),
        tx.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    c = t.withColumn("off", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    n_cuts = F.when(
        (F.col("n_tokens") > 0)
        & (
            F.expr(f"off div {PACK_BUDGET}")
            != F.expr(f"(off + n_tokens - 1) div {PACK_BUDGET}")
        ),
        F.expr(
            f"(off + n_tokens - 1) div {PACK_BUDGET} - off div {PACK_BUDGET}"
        ),
    ).otherwise(F.lit(0))
    s = c.select("shard", "n_tokens", n_cuts.alias("n_cuts"))
    agg = s.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum(F.when(F.col("n_cuts") > 0, 1).otherwise(0)).alias(
            "n_split_docs"
        ),
        F.sum("n_cuts").alias("n_cuts"),
    )
    n_seqs = F.expr(f"(total_tokens + {PACK_BUDGET - 1}) div {PACK_BUDGET}")
    return agg.select(
        "shard",
        "n_docs",
        "total_tokens",
        n_seqs.cast("bigint").alias("n_seqs"),
        F.col("n_split_docs").cast("bigint").alias("n_split_docs"),
        F.col("n_cuts").cast("bigint").alias("n_cuts"),
        F.round(
            F.col("n_split_docs").cast("double") / F.col("n_docs"), 6
        ).alias("split_frac"),
        # CASE guard, not a filter: an all-empty-token shard is a legal
        # corpus (adversarial-corpus class) and n_seqs would be 0
        F.round(
            F.when(
                F.col("total_tokens") > 0,
                F.col("total_tokens").cast("double")
                / (n_seqs.cast("bigint") * PACK_BUDGET),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("fill_rate"),
    )


# Overlapping token-window chunking: the RAG/long-context prep twin
# of packing — each document splits into fixed-size token windows
# with stride < window so consecutive chunks overlap.
CHUNK_TOKENS = 512
CHUNK_STRIDE = 384


@register(
    "documents_chunk_overlap",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({tx.tokens_sql()}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tokens,
               unnest(generate_series(0, (n_tokens - 1) // {CHUNK_STRIDE})) AS chunk_id
        FROM t WHERE n_tokens > 0
    )
    SELECT doc_id, chunk_id,
           chunk_id * {CHUNK_STRIDE} AS start_tok,
           least(chunk_id * {CHUNK_STRIDE} + {CHUNK_TOKENS}, n_tokens) AS end_tok
    FROM c
    """,
)
def documents_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into CHUNK_TOKENS-token windows at
    CHUNK_STRIDE spacing (consecutive chunks overlap by
    CHUNK_TOKENS−CHUNK_STRIDE tokens) — the retrieval/long-context
    preparation step. Emits (doc_id, chunk_id, start_tok, end_tok)
    bounds; pure per-row arithmetic + an explode, no shuffle at all,
    so it scales as a narrow map over the corpus. Zero-token docs
    produce no chunks, and the sequence is guarded on n_tokens > 0
    (Spark's sequence(0, -1) would count DOWN). All-integer → the
    oracle is bit-exact."""
    d = table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", tx.token_count(F.col("text")).cast("bigint").alias("n_tokens")
    )
    c = t.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        "n_tokens",
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"),
                F.expr(f"(n_tokens - 1) div {CHUNK_STRIDE}"),
            )
        ).alias("chunk_id"),
    )
    return c.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * CHUNK_STRIDE).alias("start_tok"),
        F.least(
            F.col("chunk_id") * CHUNK_STRIDE + CHUNK_TOKENS, F.col("n_tokens")
        ).alias("end_tok"),
    )


# PII scrubbing: the redaction pass a training pipeline runs before
# text ships — emails, bare IPv4s, and international-format phone
# numbers masked with typed placeholders. Patterns are deliberately
# conservative and dialect-portable (no lookarounds, no lazy
# quantifiers): Java regex (Spark) and RE2 (DuckDB) agree on
# character classes, {m,n} repetition and \b word boundaries, which
# is what makes the oracle value-exact. Replacement runs as a
# sequential cascade (email → ip → phone) and each pattern's
# redaction count is taken on the text THAT pass saw, so counts and
# replacements can never disagree on overlapping matches (an
# IP-lookalike inside an already-masked email is neither counted nor
# replaced). The corpus itself is PII-free, so at oracle scale the
# value check pins the identity transform + zero counts over every
# row; planted-PII behavior is pinned in test_text (Spark) and the
# same patterns are exercised through DuckDB there too.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d{8,15}"


@register(
    "documents_pii_scrub",
    oracle=rf"""
    WITH s1 AS (
        SELECT doc_id, text,
               regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g') AS t1,
               len(regexp_extract_all(text, '{PII_EMAIL}')) AS n1
        FROM documents
    ),
    s2 AS (
        SELECT doc_id, t1,
               regexp_replace(t1, '{PII_IPV4}', '<IP>', 'g') AS t2,
               n1, len(regexp_extract_all(t1, '{PII_IPV4}')) AS n2
        FROM s1
    )
    SELECT doc_id,
           regexp_replace(t2, '\+\d{{8,15}}', '<PHONE>', 'g') AS text_scrubbed,
           CAST(n1 + n2 + len(regexp_extract_all(t2, '\+\d{{8,15}}')) AS INT)
               AS n_redactions
    FROM s2
    """,
)
def documents_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mask emails / IPv4s / international phone numbers and count
    redactions per document (see PII pattern notes above). Narrow
    per-row map, no shuffle — scales as a pure scan."""
    d = table(spark, sf_dir, "documents")
    t1 = F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>")
    n1 = F.regexp_count(F.col("text"), F.lit(PII_EMAIL))
    t2 = F.regexp_replace(t1, PII_IPV4, "<IP>")
    n2 = F.regexp_count(t1, F.lit(PII_IPV4))
    t3 = F.regexp_replace(t2, PII_PHONE, "<PHONE>")
    n3 = F.regexp_count(t2, F.lit(PII_PHONE))
    # Cheap gate before the cascade: every pattern needs an '@' or a
    # digit, so text without either skips all six regex evaluations
    # (and their projection-collapse duplication — t1 is inlined into
    # t2/t3/n2/n3, so the email regex otherwise runs ~4x per row).
    # Output-invariant: replacing non-matching text is the identity,
    # the gate only skips work.
    gate = F.col("text").rlike("[@0-9]")
    return d.select(
        "doc_id",
        F.when(gate, t3).otherwise(F.col("text")).alias("text_scrubbed"),
        F.when(gate, (n1 + n2 + n3).cast("int"))
        .otherwise(F.lit(0))
        .alias("n_redactions"),
    )


# Quality-filter CASCADE (C4/Gopher/RefinedWeb shape): the rules run
# in a fixed order and each doc is attributed to the FIRST rule that
# drops it, giving the per-stage funnel a pipeline owner actually
# reads (which rule costs how much corpus). Thresholds are
# corpus-calibrated (sf0.01: quality p10 ≈ 0.975, top_bigram_share
# p97 ≈ 0.1, 118/500 docs lang-'und') and compare the 4dp/6dp
# ROUNDED scores, so the predicates are engine-exact.
CASCADE_MIN_QUALITY = 0.98
CASCADE_MAX_TOP_BIGRAM = 0.07
CASCADE_MAX_DUP_LINE = 0.3


def _filter_cascade_oracle() -> str:
    return f"""
    WITH l AS (SELECT * FROM ({tx.lang_id_sql()})),
    q AS (SELECT * FROM ({tx.quality_sql()})),
    r AS (SELECT * FROM ({_repetition_oracle()})),
    f AS (
        SELECT l.doc_id,
               CASE WHEN l.lang_pred = 'und' THEN 1 ELSE 0 END AS d1,
               CASE WHEN l.lang_pred <> 'und'
                         AND q.quality < {CASCADE_MIN_QUALITY}
                    THEN 1 ELSE 0 END AS d2,
               CASE WHEN l.lang_pred <> 'und'
                         AND q.quality >= {CASCADE_MIN_QUALITY}
                         AND (r.top_bigram_share > {CASCADE_MAX_TOP_BIGRAM}
                              OR r.dup_line_frac > {CASCADE_MAX_DUP_LINE})
                    THEN 1 ELSE 0 END AS d3
        FROM l JOIN q ON q.doc_id = l.doc_id JOIN r ON r.doc_id = l.doc_id
    ),
    a AS (
        SELECT count(*) AS n,
               CAST(sum(d1) AS BIGINT) AS n1,
               CAST(sum(d2) AS BIGINT) AS n2,
               CAST(sum(d3) AS BIGINT) AS n3
        FROM f
    )
    SELECT CAST(s.stage AS INT) AS stage, s.rule,
           CAST(CASE s.stage WHEN 1 THEN a.n
                             WHEN 2 THEN a.n - a.n1
                             ELSE a.n - a.n1 - a.n2 END AS BIGINT) AS n_in,
           CAST(CASE s.stage WHEN 1 THEN a.n1
                             WHEN 2 THEN a.n2
                             ELSE a.n3 END AS BIGINT) AS n_dropped,
           CAST(CASE s.stage WHEN 1 THEN a.n - a.n1
                             WHEN 2 THEN a.n - a.n1 - a.n2
                             ELSE a.n - a.n1 - a.n2 - a.n3
                END AS BIGINT) AS n_out
    FROM (VALUES (1, 'langid'), (2, 'quality'), (3, 'repetition'))
         AS s(stage, rule), a
    """


@register("documents_filter_cascade", oracle=_filter_cascade_oracle())
def documents_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-filter FUNNEL with first-fail attribution
    (see note above): one row per stage — langid → quality →
    repetition — with docs entering, dropped by this rule, and
    surviving. Composes the three oracled per-doc scorers; every
    count is an exact integer.

    Scale shape: langid and quality derive from ONE shared
    _token_agg feature pass (two separate scorer calls would rebuild
    the identical tokenize/explode/aggregate — AQE exchange reuse
    does not dedupe identical heavy subtrees, the r6 lesson);
    repetition is its own two-branch scan. The funnel itself is one
    doc-keyed join + a single global aggregate + a 3-row literal
    cross join — nothing beyond the scorers grows with the
    corpus."""
    feats = _token_agg(spark, sf_dir).select(
        "doc_id",
        _langpred_col().alias("lang_pred"),
        _quality_col().alias("quality"),
    )
    rep = text_repetition_stats(spark, sf_dir).select(
        "doc_id", "dup_line_frac", "top_bigram_share"
    )
    j = feats.join(rep, "doc_id")
    d1 = F.when(F.col("lang_pred") == "und", 1).otherwise(0)
    d2 = F.when(
        (F.col("lang_pred") != "und")
        & (F.col("quality") < CASCADE_MIN_QUALITY),
        1,
    ).otherwise(0)
    d3 = F.when(
        (F.col("lang_pred") != "und")
        & (F.col("quality") >= CASCADE_MIN_QUALITY)
        & (
            (F.col("top_bigram_share") > CASCADE_MAX_TOP_BIGRAM)
            | (F.col("dup_line_frac") > CASCADE_MAX_DUP_LINE)
        ),
        1,
    ).otherwise(0)
    a = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d1).alias("n1"),
        F.sum(d2).alias("n2"),
        F.sum(d3).alias("n3"),
    )
    return _cascade_funnel(spark, a)


def _cascade_funnel(spark: SparkSession, a: DataFrame) -> DataFrame:
    """The 3-row funnel presentation over a 1-row (n, n1, n2, n3)
    first-fail counts frame — shared by the batch cascade and its
    streaming twin so the funnel arithmetic cannot drift."""
    stages = spark.createDataFrame(
        [(1, "langid"), (2, "quality"), (3, "repetition")],
        "stage int, rule string",
    )
    n_in = (
        F.when(F.col("stage") == 1, F.col("n"))
        .when(F.col("stage") == 2, F.col("n") - F.col("n1"))
        .otherwise(F.col("n") - F.col("n1") - F.col("n2"))
    )
    n_drop = (
        F.when(F.col("stage") == 1, F.col("n1"))
        .when(F.col("stage") == 2, F.col("n2"))
        .otherwise(F.col("n3"))
    )
    return stages.crossJoin(F.broadcast(a)).select(
        "stage",
        "rule",
        n_in.cast("bigint").alias("n_in"),
        n_drop.cast("bigint").alias("n_dropped"),
        (n_in - n_drop).cast("bigint").alias("n_out"),
    )


# BPE merge induction: the first BPE_ROUNDS byte-pair-encoding merges
# learned from the corpus — the tokenizer-training primitive. Classic
# formulation: work on the DISTINCT-word table weighted by word
# frequency (the standard BPE optimization — corpus size only affects
# the word-count aggregate), start from character symbols, and per
# round (1) count adjacent symbol pairs, (2) take the most frequent
# (ties: lexicographically smallest pair — both engines compare ASCII
# binary), (3) apply the merge greedily left-to-right to every word.
# The greedy application is a LEFT FOLD: append the symbol, except
# when the accumulator ends with `l` and the symbol is `r`, replace
# the tail with the merged symbol — the fold naturally prevents
# overlapping re-merges ('aaa' + (a,a) → ['aa','a']). Spark runs the
# fold with F.aggregate (explicit empty-array init); DuckDB's
# list_reduce has no init parameter, so the oracle prepends an empty
# accumulator element to a wrapped element list. All counts are
# integers and all symbols strings, so the learned merge table is
# bit-exact cross-engine.
BPE_ROUNDS = 3


def _bpe_fold_sql(syms: str) -> str:
    """DuckDB greedy merge fold of `syms` under scalars l, r."""
    return (
        f"list_reduce([[]::VARCHAR[]] || list_transform({syms}, x -> [x]), "
        f"(acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = l "
        f"AND x[1] = r THEN list_append(acc[1:len(acc)-1], l || r) "
        f"ELSE list_append(acc, x[1]) END)"
    )


def _bpe_ctes() -> tuple[list[str], str]:
    """Shared unrolled-training CTE chain: word counts → char symbols
    → BPE_ROUNDS × (pair count, argmax, greedy fold). Returns the CTE
    list and the name of the final symbol table."""
    parts = [
        rf"""
    WITH w AS (
        SELECT word, count(*) AS wc
        FROM (SELECT unnest({tx.tokens_sql()}) AS word
              FROM documents)
        GROUP BY word
    ),
    s0 AS (
        SELECT word, wc,
               list_transform(generate_series(1, length(word)),
                              i -> substring(word, i, 1)) AS syms
        FROM w
    )"""
    ]
    prev = "s0"
    for k in range(1, BPE_ROUNDS + 1):
        parts.append(
            f"""p{k} AS (
        SELECT syms[i] AS l, syms[i + 1] AS r, sum(wc) AS freq
        FROM (SELECT wc, syms, unnest(generate_series(1, len(syms) - 1)) AS i
              FROM {prev})
        GROUP BY syms[i], syms[i + 1]
    ),
    b{k} AS (
        SELECT l, r, CAST(freq AS BIGINT) AS freq
        FROM p{k} ORDER BY freq DESC, l, r LIMIT 1
    ),
    s{k} AS (
        SELECT word, wc, {_bpe_fold_sql('syms')} AS syms
        FROM {prev}, b{k}
    )"""
        )
        prev = f"s{k}"
    return parts, prev


def _bpe_oracle() -> str:
    parts, _ = _bpe_ctes()
    selects = " UNION ALL ".join(
        f"SELECT {k} AS round, l AS left_sym, r AS right_sym, freq FROM b{k}"
        for k in range(1, BPE_ROUNDS + 1)
    )
    return ",\n    ".join(parts) + "\n    " + selects


def _bpe_learn(spark: SparkSession, sf_dir: str):
    """Unrolled BPE training loop shared by text_bpe_merges and
    text_bpe_apply: returns (syms, best_frames) — the distinct-word
    table's segmentation after BPE_ROUNDS merges, and the per-round
    winning merge (1-row frames)."""
    d = table(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(tx.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    syms = w.select(
        "word",
        "wc",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("syms"),
    ).localCheckpoint(eager=True)

    best_frames = []
    for k in range(1, BPE_ROUNDS + 1):
        # element_at (1-based) — Spark's [] subscript is 0-based while
        # DuckDB's is 1-based; and the size >= 2 guard keeps Spark's
        # sequence(1, 0) (which counts DOWN) out of the transform.
        pairs = syms.where(F.size("syms") >= 2).select(
            "wc",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1), "
                    "i -> struct(element_at(syms, i) AS l, "
                    "element_at(syms, i + 1) AS r))"
                )
            ).alias("p"),
        )
        best = (
            pairs.groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("wc").alias("freq"))
            .orderBy(F.desc("freq"), F.asc("l"), F.asc("r"))
            .limit(1)
        )
        merged = syms.crossJoin(F.broadcast(best)).select(
            "word",
            "wc",
            F.expr(
                "aggregate(syms, CAST(array() AS array<string>), "
                "(acc, x) -> CASE WHEN size(acc) > 0 "
                "AND element_at(acc, -1) = l AND x = r "
                "THEN concat(slice(acc, 1, size(acc) - 1), array(l || r)) "
                "ELSE concat(acc, array(x)) END)"
            ).alias("syms"),
        )
        syms = merged.localCheckpoint(eager=True)
        best_frames.append(
            best.select(
                F.lit(k).alias("round"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.col("freq"),
            )
        )
    return syms, best_frames


@register("text_bpe_merges", oracle=_bpe_oracle())
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first BPE_ROUNDS BPE merges from the corpus (see
    note above). Scale shape: after the one word-count aggregate
    (the only stage that touches corpus-sized data), every round
    operates on the DISTINCT-word table — pairs explode to
    (|word|-1) rows per distinct word, the argmax is a 1-row
    TakeOrdered broadcast back onto the fold (never a driver
    collect), and each round's symbol table is localCheckpointed
    (the iterative-loop invariant; the frame is |distinct words|
    rows). Vocabulary, not corpus, bounds the per-round cost —
    exactly why classic BPE trainers pre-aggregate words."""
    _, best_frames = _bpe_learn(spark, sf_dir)
    out = best_frames[0]
    for bf in best_frames[1:]:
        out = out.unionByName(bf)
    return out


def _bpe_apply_oracle() -> str:
    parts, last = _bpe_ctes()
    parts.append(
        rf"""dw AS (
        SELECT doc_id, unnest({tx.tokens_sql()}) AS word
        FROM documents
    )"""
    )
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT dw.doc_id,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(s.word)) AS BIGINT) AS n_chars,
           CAST(sum(len(s.syms)) AS BIGINT) AS n_tokens
    FROM dw JOIN {last} s USING (word)
    GROUP BY dw.doc_id
    """
    )


@register("text_bpe_apply", oracle=_bpe_apply_oracle())
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the learned BPE merges: per document,
    the word / character / BPE-token counts under the BPE_ROUNDS-merge
    vocabulary — the compression measurement a tokenizer-training
    pipeline runs to pick its merge budget. The greedy left-to-right
    application is the training fold itself: the distinct-word table
    already carries each word's final segmentation, so applying the
    tokenizer to the corpus is a join from exploded (doc_id, word)
    back to the ≤|vocab|-row segmentation table (hash join on word;
    the vocab side is the small one at any corpus size) and an
    integer-sum aggregate per document — no per-document fold ever
    runs, and every count is integer-exact cross-engine."""
    syms, _ = _bpe_learn(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    dw = d.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("word"))
    seg = syms.select("word", F.length("word").alias("wlen"), F.size("syms").alias("ntok"))
    return (
        dw.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("wlen").alias("n_chars"),
            F.sum("ntok").alias("n_tokens"),
        )
    )


def _fertility_oracle() -> str:
    parts, last = _bpe_ctes()
    parts.append(
        rf"""dw AS (
        SELECT doc_id, unnest({tx.tokens_sql()}) AS word
        FROM documents
    ),
    perdoc AS (
        SELECT dw.doc_id,
               count(*) AS n_words,
               CAST(sum(length(s.word)) AS BIGINT) AS n_chars,
               CAST(sum(len(s.syms)) AS BIGINT) AS n_tokens
        FROM dw JOIN """
        + last
        + """ s USING (word)
        GROUP BY dw.doc_id
    )"""
    )
    return (
        ",\n    ".join(parts)
        + """
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(p.n_words) AS BIGINT) AS n_words,
           CAST(sum(p.n_chars) AS BIGINT) AS n_chars,
           CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens,
           round(CAST(CAST(sum(p.n_tokens) AS BIGINT) AS DOUBLE)
                 / CAST(sum(p.n_words) AS BIGINT), 6) AS tokens_per_word,
           round(CAST(CAST(sum(p.n_tokens) AS BIGINT) AS DOUBLE)
                 / CAST(sum(p.n_chars) AS BIGINT), 6) AS tokens_per_char
    FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.source
    """
    )


@register("documents_tokenizer_fertility", oracle=_fertility_oracle())
def documents_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY audit per source: tokens/word and
    tokens/char under the learned BPE_ROUNDS-merge vocabulary — the
    standard multi-source tokenizer health check (a source whose
    fertility is far above the corpus mean is being shredded into
    char-level pieces; its effective context shrinks and its training
    cost per character balloons). Rides text_bpe_apply's join-back
    idiom: per-word segmentation lengths come from the ≤|vocab|-row
    table, per-doc integer partials aggregate first (Expand-free
    n_docs: the second-level count(*) over the per-doc grid replaces
    a combined count(DISTINCT) that would double the exploded scan),
    then one tiny per-source rollup. Ratios divide two exact int64
    sums — bit-identical cross-engine before the 6dp round."""
    syms, _ = _bpe_learn(spark, sf_dir)
    d = table(spark, sf_dir, "documents")
    dw = d.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("word"))
    seg = syms.select(
        "word", F.length("word").alias("wlen"), F.size("syms").alias("ntok")
    )
    perdoc = (
        dw.join(seg, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("wlen").alias("n_chars"),
            F.sum("ntok").alias("n_tokens"),
        )
    )
    return (
        perdoc.join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_words",
            "n_chars",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_words"), 6
            ).alias("tokens_per_word"),
            F.round(
                F.col("n_tokens").cast("double") / F.col("n_chars"), 6
            ).alias("tokens_per_char"),
        )
    )


# Boilerplate detection: word n-grams shared by many DISTINCT
# documents (headers, footers, license blurbs, navigation chrome) —
# the cross-document counterpart of text_repetition_score's
# intra-document repetition. A training pipeline strips or
# down-weights high-boilerplate documents; the per-doc fraction here
# is the decision input. N/T are corpus-tuned knobs (real pipelines
# run longer grams; the synthetic corpus's short docs share 3-grams).
BP_N = 3
BP_MIN_DOCS = 5


@register(
    "documents_boilerplate_ngrams",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, {tx.tokens_sql()} AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id, unnest({tx.word_ngrams_sql('w', BP_N)}) AS g FROM toks
    ),
    dfreq AS (
        SELECT g, count(DISTINCT doc_id) AS dfreq FROM grams GROUP BY g
    )
    SELECT grams.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN dfreq.dfreq >= {BP_MIN_DOCS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_boilerplate,
           round(CAST(sum(CASE WHEN dfreq.dfreq >= {BP_MIN_DOCS}
                          THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS bp_fraction
    FROM grams JOIN dfreq ON grams.g = dfreq.g
    GROUP BY grams.doc_id
    """,
)
def documents_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate fraction: the share of word
    {BP_N}-gram instances whose gram occurs in ≥ BP_MIN_DOCS distinct
    documents (see note above).

    Scale shape: grams explode to ~|words| rows per doc, but both
    heavy stages reduce map-side — the doc-frequency aggregate
    partial-collapses each partition's (gram, doc) repeats before the
    exchange (two-phase distinct-count, no Expand: it is the only
    aggregate in its group), and the gram→dfreq join back is a hash
    join keyed on the gram whose probe side collapses into the
    per-doc sum immediately. At deployment scale the join key would
    be a 64-bit gram hash instead of the string (smaller exchange,
    same result modulo engineered collisions); the oracle-checked
    form keeps the string so the restatement stays exact. The
    fraction divides two small per-doc integers — bit-identical
    cross-engine before the 6dp round."""
    # wide_table: tokenize + gram explode is compute-dense per row
    # and the documents file is small enough to scan as ONE partition
    d = wide_table(spark, sf_dir, "documents")
    grams = d.select(
        "doc_id",
        F.explode(tx.word_ngrams(tx.tokens(F.col("text")), BP_N)).alias("g"),
    )
    dfreq = grams.groupBy("g").agg(
        F.count_distinct("doc_id").alias("dfreq")
    )
    is_bp = F.when(F.col("dfreq") >= BP_MIN_DOCS, 1).otherwise(0)
    return (
        grams.join(dfreq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(is_bp).alias("n_boilerplate"),
            F.round(
                F.sum(is_bp).cast("double") / F.count(F.lit(1)), 6
            ).alias("bp_fraction"),
        )
    )


def _curriculum_oracle() -> str:
    return f"""
    WITH q AS (SELECT * FROM ({tx.quality_sql()})),
    j AS (
        SELECT q.doc_id, q.quality, d.n_chars
        FROM q JOIN documents d ON q.doc_id = d.doc_id
    ),
    b AS (
        SELECT doc_id, quality, n_chars,
               CAST(ntile(10) OVER (ORDER BY quality, doc_id) AS INT)
                   AS bucket
        FROM j
    )
    SELECT bucket,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(min(quality), 4) AS min_quality,
           round(max(quality), 4) AS max_quality,
           round(round(sum(quality), 4) / count(*), 6) AS avg_quality
    FROM b GROUP BY bucket
    """


@register("documents_curriculum_deciles", oracle=_curriculum_oracle())
def documents_curriculum_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum binning: documents decile-bucketed by quality score
    (easy→hard ordering for curriculum training schedules), with
    per-bucket doc and character budgets — what a data-mixing config
    consumes. Reuses the oracle-checked quality pipeline; the decile
    ordering carries the doc_id tiebreak (quality is 4dp and heavily
    tied), and avg_quality snaps the 4dp sum before the division so
    both engines divide identical doubles.

    Scale shape (r12 — the r11 verdict's de-ntile item): the decile
    rides ``operators/prefix_sum.py::sharded_ntile`` (grid prefix sum
    + per-value tiebreak window + ntile's closed form) over an exact
    integer rank key (quality is 4dp, so quality×10000 rounds to an
    exact BIGINT whose order IS the quality order) — the corpus-scale
    single-partition ntile sort is gone; output bit-identical to the
    window ntile, oracle unchanged (plan-pinned in test_prefix_sum)."""
    from ..operators.prefix_sum import sharded_ntile

    q = text_quality_score(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = q.join(d, "doc_id").withColumn(
        "qk", F.round(F.col("quality") * 10000).cast("bigint")
    )
    b = sharded_ntile(
        j, "qk", "doc_id", 10,
        shard=F.floor(F.col("qk") / 256), out_name="bucket",
    ).select("doc_id", "quality", "n_chars", "bucket")
    return b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(F.min("quality"), 4).alias("min_quality"),
        F.round(F.max("quality"), 4).alias("max_quality"),
        F.round(F.round(F.sum("quality"), 4) / F.count(F.lit(1)), 6).alias(
            "avg_quality"
        ),
    )


@register(
    "word_freq_zipf_slope",
    oracle=rf"""
    WITH wf AS (
        SELECT word, count(*) AS c
        FROM (SELECT unnest({tx.tokens_sql()}) AS word
              FROM documents)
        GROUP BY word
    ),
    ranked AS (
        SELECT c, row_number() OVER (ORDER BY c DESC, word) AS r FROM wf
    ),
    pts AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
            FROM ranked)
    SELECT CAST(count(*) AS BIGINT) AS n_words,
           round((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (count(*) * sum(x * x) - sum(x) * sum(x)), 6) AS zipf_slope,
           round((sum(y) - ((count(*) * sum(x * y) - sum(x) * sum(y))
                 / (count(*) * sum(x * x) - sum(x) * sum(x))) * sum(x))
                 / count(*), 6) AS intercept
    FROM pts
    """,
)
def word_freq_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus word-frequency distribution: OLS
    slope of ln(frequency) on ln(rank) — a natural-text corpus sits
    near −1; templated/boilerplate corpora flatten toward 0. The
    corpus-profiling scalar a curation pipeline tracks per source mix.

    Scale shape: one corpus explode→(word) aggregate (map-side
    combining into the saturating vocabulary), ranking and the OLS
    sums on the |vocab| grid. The float sums span ~|vocab| ln-scale
    terms (≤ ~50 each), rounded at 6dp.
    """
    from ..functions import text as tx

    d = wide_table(spark, sf_dir, "documents")
    wf = (
        d.select(F.explode(tx.tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = wf.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("c"), F.asc("word")))
    )
    pts = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    n = F.count(F.lit(1))
    slope = (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    return pts.agg(
        n.cast("bigint").alias("n_words"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.sum("y") - slope * F.sum("x")) / n, 6).alias("intercept"),
    )


# Naive-Bayes source classifier trained on the corpus and evaluated
# by classifying it back (the confusion matrix is the output) — the
# model-in-the-loop curation operator class: the same machinery a
# quality/domain classifier uses to route or filter training data.
# Exactness design: the per-(source, token) Laplace log-likelihood
# ln((c+1)/(n_s+V)) is rounded ONCE to a 1e-6-scaled BIGINT, so every
# per-doc score is an INTEGER sum — merge-order-exact in any engine —
# and the argmax is an integer comparison with a unique (score desc,
# source asc) tiebreak. The only float step is ln() of identical
# IEEE-divided doubles (the k-means round-then-compare precedent).
_NB_SCALE = 1_000_000


@register(
    "documents_source_classifier",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, source,
               unnest({tx.tokens_sql(lower=True)}) AS word
        FROM documents
    ),
    c AS (SELECT source, word, count(*) AS c FROM tok GROUP BY source, word),
    ns AS (SELECT source, count(*) AS n_tok FROM tok GROUP BY source),
    vocab AS (SELECT DISTINCT word FROM tok),
    vn AS (SELECT count(*) AS v FROM vocab),
    ds AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    dn AS (SELECT count(*) AS d FROM documents),
    grid AS (
        SELECT g.source, g.word,
               CAST(round(ln((coalesce(c.c, 0) + 1) / (g.n_tok + g.v))
                          * {_NB_SCALE}) AS BIGINT) AS llr
        FROM (SELECT ns.source, ns.n_tok, vocab.word, vn.v
              FROM ns, vocab, vn) AS g
        LEFT JOIN c ON c.source = g.source AND c.word = g.word
    ),
    prior AS (
        SELECT ds.source,
               CAST(round(ln(ds.n_docs / dn.d) * {_NB_SCALE}) AS BIGINT) AS p
        FROM ds, dn
    ),
    tok_scores AS (
        SELECT t.doc_id, g.source, sum(g.llr) AS s
        FROM tok t JOIN grid g ON g.word = t.word
        GROUP BY t.doc_id, g.source
    ),
    scored AS (
        SELECT d.doc_id, d.source AS true_source, pr.source AS cand,
               pr.p + coalesce(ts.s, 0) AS score
        FROM documents d
        CROSS JOIN prior pr
        LEFT JOIN tok_scores ts
          ON ts.doc_id = d.doc_id AND ts.source = pr.source
    ),
    pred AS (
        SELECT doc_id, true_source, cand AS pred_source,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand) AS rn
        FROM scored
    )
    SELECT true_source, pred_source, count(*) AS n_docs
    FROM pred WHERE rn = 1
    GROUP BY true_source, pred_source
    """,
)
def documents_source_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-evaluate naive Bayes over (source | tokens): Laplace
    token log-odds per source, integer-scaled (see note above), docs
    classified by integer-sum argmax, confusion matrix out.

    Scale shape: token counts are ONE map-side-combining aggregate;
    the (source × vocab) score grid is metadata-scale and BROADCAST
    into the scoring join, so the corpus-sized token stream shuffles
    once — on (doc, source) for the score sum (|S|× the token
    stream; a 100 TB deployment caps it with the hashing trick,
    same plumbing). Priors join in at doc grain; the dense
    (doc × source) base keeps token-less docs classified by prior
    alone instead of silently dropping them."""
    d = wide_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    tok = d.select(
        "doc_id",
        "source",
        F.explode(tx.tokens(F.lower(F.col("text")))).alias("word"),
    )
    tok.persist()
    c = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    ns = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n_tok"))
    vocab = tok.select("word").distinct()
    vn = vocab.agg(F.count(F.lit(1)).alias("v"))
    ds = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    dn = d.agg(F.count(F.lit(1)).alias("d"))
    grid = (
        ns.join(vocab)
        .join(F.broadcast(vn))
        .join(c, ["source", "word"], "left")
        .select(
            "source",
            "word",
            F.round(
                F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1)
                    / (F.col("n_tok") + F.col("v"))
                )
                * _NB_SCALE
            )
            .cast("bigint")
            .alias("llr"),
        )
    )
    prior = (
        ds.join(F.broadcast(dn))
        .select(
            "source",
            F.round(F.log(F.col("n_docs") / F.col("d")) * _NB_SCALE)
            .cast("bigint")
            .alias("p"),
        )
    )
    # drop tok's TRUE source before the grid join: the grid's source
    # is the CANDIDATE class being scored, a different axis
    tok_scores = (
        tok.select("doc_id", "word")
        .join(F.broadcast(grid), "word")
        .groupBy("doc_id", F.col("source").alias("cand"))
        .agg(F.sum("llr").alias("s"))
    )
    scored = (
        d.select("doc_id", F.col("source").alias("true_source"))
        .join(F.broadcast(prior.select(F.col("source").alias("cand"), "p")))
        .join(tok_scores, ["doc_id", "cand"], "left")
        .select(
            "doc_id",
            "true_source",
            "cand",
            (F.col("p") + F.coalesce(F.col("s"), F.lit(0))).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("cand"))
    pred = scored.select(
        "true_source",
        F.col("cand").alias("pred_source"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") == 1)
    return pred.groupBy("true_source", "pred_source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# Word-pair PMI collocations (the r6-queue item): adjacent-bigram
# association strength over the whole corpus. What usually blocks a
# value check here is the log: ln() is libm-dependent and PMI
# ordering on computed doubles has engine-specific near-ties. Both
# fall away by ranking on the exact integer fixed-point LIFT
# quotient c_xy*N*SCALE div (c_x*c_y) (PMI = ln(lift) is monotone in
# it), with the display lift computed from the same exact integers
# in the same IEEE order on both sides. Min-count floor keeps
# singleton noise out (classic collocation practice) and also caps
# the quotient at MINCOUNT*N*SCALE/MINCOUNT^2 — int64-safe at any
# corpus size where N*SCALE/MINCOUNT fits, i.e. to ~4e13 tokens.
PMI_SCALE = 1_000_000
PMI_MIN_COUNT = 5
PMI_TOP = 25


@register(
    "word_pair_pmi",
    oracle=rf"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, {tx.tokens_sql(lower=True)} AS t
        FROM documents
    ),
    uni AS MATERIALIZED (
        SELECT t.word, count(*) AS c
        FROM toks, unnest(toks.t) AS t(word)
        GROUP BY t.word
    ),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
    bi AS (
        SELECT w1, w2, count(*) AS c_xy FROM (
            SELECT doc_id, t[x] AS w1, t[x + 1] AS w2
            FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(x)
        ) GROUP BY w1, w2
        HAVING count(*) >= {PMI_MIN_COUNT}
    )
    SELECT bi.w1, bi.w2, bi.c_xy,
           u1.c AS c_w1, u2.c AS c_w2,
           CAST((CAST(bi.c_xy AS HUGEINT) * n.n * {PMI_SCALE})
                // (u1.c * u2.c) AS BIGINT) AS lift_fp,
           round(CAST(bi.c_xy AS DOUBLE) * CAST(n.n AS DOUBLE)
                 / (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)), 6) AS lift
    FROM bi
    JOIN uni u1 ON u1.word = bi.w1
    JOIN uni u2 ON u2.word = bi.w2, n
    ORDER BY lift_fp DESC, bi.w1, bi.w2
    LIMIT {PMI_TOP}
    """,
)
def word_pair_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP} adjacent-word collocations by PMI lift (see
    exactness note above — ranking runs on the exact integer
    quotient, the 6-dp double is display-only; PMI itself is
    ln(lift), monotone, left to the consumer).

    Scale shape: tokens explode once and feed BOTH count families —
    unigrams (two-stage hash agg, shuffle capped at |vocab| x
    partitions) and bigrams (adjacent pairs via arrays_zip of two
    slices — codegen'd array ops, no per-element lambda, no window
    over the corpus). The unigram side joins back BROADCAST (vocab
    is dimension-sized), the corpus-total N is the repo's 1-row
    scalar-join pattern, and the min-count HAVING floor prunes the
    bigram tail before the join. TakeOrderedAndProject keeps
    {PMI_TOP} rows per partition — no global sort."""
    d = wide_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", tx.tokens(F.lower(F.col("text"))).alias("t")
    )
    uni = (
        toks.select(F.explode("t").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_df = uni.agg(F.sum("c").cast("bigint").alias("n"))
    bi = (
        toks.select(
            F.explode(
                F.arrays_zip(
                    # greatest(.., 0): slice raises on negative
                    # length in ANSI mode — an empty-token doc has
                    # size(t) = 0 (the adversarial-corpus class)
                    F.expr("slice(t, 1, greatest(size(t) - 1, 0))"),
                    F.expr("slice(t, 2, greatest(size(t) - 1, 0))"),
                )
            ).alias("p")
        )
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= PMI_MIN_COUNT)
    )
    u1 = uni.select(F.col("word").alias("w1"), F.col("c").alias("c_w1"))
    u2 = uni.select(F.col("word").alias("w2"), F.col("c").alias("c_w2"))
    return (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .join(F.broadcast(n_df))
        .select(
            "w1",
            "w2",
            "c_xy",
            "c_w1",
            "c_w2",
            F.expr(
                f"cast((cast(c_xy as decimal(38,0)) * n * {PMI_SCALE})"
                " div (c_w1 * c_w2) as bigint)"
            ).alias("lift_fp"),
            F.round(
                F.col("c_xy").cast("double")
                * F.col("n").cast("double")
                / (F.col("c_w1").cast("double") * F.col("c_w2").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift_fp"), "w1", "w2")
        .limit(PMI_TOP)
    )


# Kneser-Ney-smoothed bigram LM quality score (the CCNet filter: a
# 5-gram KenLM perplexity ranks documents for curation — Wenzek et
# al. 2020; this is the same statistic from a bigram model trained
# on the corpus itself). Interpolated KN with discount D = 3/4:
#   p(w|v) = (max(c(vw) − D, 0) + D·N1+(v·)·p_cont(w)) / c(v·)
#   p_cont(w) = N1+(·w) / |distinct bigrams|
# With D = 3/4 every probability is the ratio of two EXACT int64
# products — (max(4c−3, 0)·B + 3·N1p(v)·N1w(w)) / (4·cv·B) — so the
# single double division is bit-identical across engines; each
# bigram's ln() is rounded ONCE to a 1e-6-scaled BIGINT (the
# documents_source_classifier / DSIR precedent) so per-doc scores
# are exact integer sums. Each doc is scored under a '<s>' start
# context; because the model trains on the corpus it scores, every
# scored bigram has c >= 1 and every token has N1+(·w) >= 1 — no
# zero-probability branch can raise. Output avg_neg_logprob is
# ln(perplexity): low = fluent/common, high = noise — the curation
# cutoff variable.
KN_SCALE = 1_000_000


def _kn_ppl_oracle() -> str:
    return rf"""
    WITH tk AS (
        SELECT doc_id, {tx.tokens_sql()} AS toks
        FROM documents
    ),
    strm AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN i = 1 THEN '<s>' ELSE toks[i - 1] END AS v,
               toks[i] AS w
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks))) AS i
              FROM tk)
    ),
    bg AS MATERIALIZED (SELECT v, w, count(*) AS c FROM strm GROUP BY v, w),
    cv AS MATERIALIZED (
        SELECT v, CAST(sum(c) AS BIGINT) AS cv, count(*) AS n1p
        FROM bg GROUP BY v
    ),
    nw AS MATERIALIZED (SELECT w, count(*) AS n1w FROM bg GROUP BY w),
    bt AS (SELECT count(*) AS btot FROM bg),
    sbg AS MATERIALIZED (
        SELECT bg.v, bg.w,
               CAST(round(ln(
                   (greatest(4 * bg.c - 3, 0) * bt.btot
                    + 3 * cv.n1p * nw.n1w)
                   / (4 * cv.cv * bt.btot)
               ) * {KN_SCALE}) AS BIGINT) AS lp_micro
        FROM bg JOIN cv USING (v) JOIN nw USING (w), bt
    )
    SELECT s.doc_id,
           count(*) AS n_tokens,
           CAST(sum(sbg.lp_micro) AS BIGINT) AS logprob_micro,
           round(CAST(-CAST(sum(sbg.lp_micro) AS BIGINT) AS DOUBLE)
                 / (count(*) * {KN_SCALE}), 6) AS avg_neg_logprob
    FROM strm s JOIN sbg ON sbg.v = s.v AND sbg.w = s.w
    GROUP BY s.doc_id
    """


@register("documents_kn_perplexity", oracle=_kn_ppl_oracle())
def documents_kn_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Kneser-Ney bigram negative log-likelihood (see
    note above) — the CCNet-style LM quality score, exact-integer
    end to end (counts → one exact double division per DISTINCT
    bigram → 1e-6 BIGINT micro-logs → integer doc sums).

    Scale shape: the token stream explodes once (the toks array is
    materialized through a Generate so the per-position element_at
    cannot re-run the tokenizer per row — the CollapseProject
    lesson); bigram counting is one map-side-combining aggregate;
    the model tables (bigram/context/continuation counts) are
    BIGRAM-vocabulary-sized, so ln() runs once per distinct bigram,
    not per token; scoring is one join of the token stream against
    the scored-bigram table and one per-doc sum. The bigram table is
    checkpointed — it feeds four aggregates and the scoring join.
    Builder runs jobs at plan time: BUILD_EXECUTES."""
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    # explode(array(...)) materializes the tokenizer output through a
    # Generate node — v/w below index into it per OUTPUT row
    arr = d.select(
        "doc_id", F.explode(F.array(tx.tokens(F.col("text")))).alias("toks")
    )
    tok = arr.select("doc_id", "toks", F.posexplode("toks").alias("i", "w"))
    strm = tok.select(
        "doc_id",
        F.when(F.col("i") == 0, F.lit("<s>"))
        .otherwise(F.element_at("toks", F.col("i")))
        .alias("v"),
        "w",
    )
    bg = (
        strm.groupBy("v", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    cv = bg.groupBy("v").agg(
        F.sum("c").alias("cv"), F.count(F.lit(1)).alias("n1p")
    )
    nw = bg.groupBy("w").agg(F.count(F.lit(1)).alias("n1w"))
    bt = bg.agg(F.count(F.lit(1)).alias("btot"))
    p = (
        F.greatest(4 * F.col("c") - 3, F.lit(0)) * F.col("btot")
        + 3 * F.col("n1p") * F.col("n1w")
    ) / (4 * F.col("cv") * F.col("btot"))
    sbg = (
        bg.join(cv, "v")
        .join(nw, "w")
        .crossJoin(F.broadcast(bt))
        .select(
            "v",
            "w",
            F.round(F.log(p) * KN_SCALE).cast("bigint").alias("lp_micro"),
        )
    )
    return (
        strm.join(sbg, ["v", "w"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("logprob_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logprob_micro",
            F.round(
                (-F.col("logprob_micro")).cast("double")
                / (F.col("n_tokens") * F.lit(KN_SCALE)),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


# CCNet's actual curation ACTION on the perplexity score (Wenzek et
# al. 2020 §4.3): per language (here: per SOURCE), rank documents by
# LM perplexity and cut into head / middle / tail TERCILES — head
# (lowest perplexity) is kept, middle sampled, tail usually dropped.
# Exactness: the per-token score is the exact integer rational
# (-logprob_micro · 1e6) / n_tokens, ranked as a DECIMAL(38,0)
# product // divide (pico-nat resolution; logprob_micro · 1e6 can
# reach ~2e19 on book-length docs, past int64) with doc_id
# tiebreak, so ntile boundaries are exact integer rank thresholds —
# the established ntile-on-integer idiom (customer deciles / RFM).
@register(
    "documents_perplexity_buckets",
    oracle=f"""
    WITH ppl AS (SELECT * FROM ({{KN_PPL}})),
    r AS (
        SELECT p.doc_id, d.source, p.n_tokens,
               CAST((CAST(-p.logprob_micro AS HUGEINT) * 1000000)
                    // p.n_tokens AS BIGINT) AS ppl_fp
        FROM ppl p JOIN documents d USING (doc_id)
    ),
    b AS (
        SELECT r.*,
               CAST(ntile(3) OVER (
                   PARTITION BY source ORDER BY ppl_fp, doc_id
               ) AS INTEGER) AS tercile
        FROM r
    )
    SELECT doc_id, source, n_tokens, ppl_fp,
           CASE tercile WHEN 1 THEN 'head'
                        WHEN 2 THEN 'middle'
                        ELSE 'tail' END AS bucket,
           CAST(sum(n_tokens) OVER (PARTITION BY source, tercile)
                AS BIGINT) AS bucket_tokens
    FROM b
    """.replace("{KN_PPL}", _kn_ppl_oracle()),
)
def documents_perplexity_buckets(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet head/middle/tail assignment (see note above): per-source
    perplexity terciles over the exact-integer KN doc scores, each
    doc labeled with its bucket plus the bucket's total token mass
    (what a sampling loader consumes). Zero-token docs carry no LM
    evidence and are absent (exactly the kn query's domain).

    Scale shape: rides documents_kn_perplexity (one corpus token
    pass + vocabulary-sized model tables); the tercile window
    partitions by source over DOC-cardinality rows — the heavy text
    never enters the window; token mass is one integer window sum
    on the same partitioning. Builder runs jobs at plan time
    (the KN bigram checkpoint): BUILD_EXECUTES."""
    ppl = documents_kn_perplexity(spark, sf_dir)
    src = wide_table(spark, sf_dir, "documents").select("doc_id", "source")
    r = ppl.join(src, "doc_id").select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr(
            "cast((cast(-logprob_micro as decimal(38,0)) * 1000000)"
            " div n_tokens as bigint)"
        ).alias("ppl_fp"),
    )
    w = Window.partitionBy("source").orderBy("ppl_fp", "doc_id")
    b = r.withColumn("tercile", F.ntile(3).over(w))
    wb = Window.partitionBy("source", "tercile")
    return b.select(
        "doc_id",
        "source",
        "n_tokens",
        "ppl_fp",
        F.when(F.col("tercile") == 1, F.lit("head"))
        .when(F.col("tercile") == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
        F.sum("n_tokens").over(wb).cast("bigint").alias("bucket_tokens"),
    )


# Trigram Kneser-Ney with the RECURSIVE backoff (r8, verdict item 4
# — the LM depth a CCNet-style filter actually runs; KenLM is a
# 5-gram of this exact structure). Interpolated KN, D = 3/4 at both
# levels:
#   p(w|u,v) = (max(c(uvw)−D, 0) + D·N1+(uv·)·p_kn(w|v)) / c(uv·)
#   p_kn(w|v) = (max(N1+(·vw)−D, 0) + D·N1+(v·)·p_cont(w)) / N1+(·v·)
#   p_cont(w) = N1+(·w) / |distinct (v,w) types|
# where the MIDDLE layer uses CONTINUATION counts (distinct-u counts
# of trigram types), which is what makes it Kneser-Ney rather than
# Katz. Exactness: the middle layer collapses to ONE exact-int64
# ratio — (max(4·N1vw−3,0)·B + 3·N1vdot·n1w) / (4·Nmid·B) — and the
# top level is then the FIXED IEEE sequence d1 + d2·d3 with
# d1 = max(4c3−3,0)/(4·cuv), d2 = 3·N1puv/(4·cuv), d3 = the middle
# ratio: identical parenthesization on identical exact-int inputs in
# both engines (nesting everything into one integer quotient would
# need the triple product 16·cuv·Nmid·B — int64-overflow-prone where
# the staged form is not). ln() rounds ONCE per DISTINCT trigram to
# a 1e-6 BIGINT; doc scores are exact integer sums. Trained on the
# corpus it scores, so every scored trigram has c3 >= 1 — the
# greatest() guards are formula fidelity, not live branches.


def _kn_trigram_oracle() -> str:
    return rf"""
    WITH tk AS (
        SELECT doc_id, {tx.tokens_sql()} AS toks
        FROM documents
    ),
    strm AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN i <= 2 THEN '<s>' ELSE toks[i - 2] END AS u,
               CASE WHEN i = 1 THEN '<s>' ELSE toks[i - 1] END AS v,
               toks[i] AS w
        FROM (SELECT doc_id, toks,
                     unnest(generate_series(1, len(toks))) AS i
              FROM tk)
    ),
    tg AS MATERIALIZED (
        SELECT u, v, w, count(*) AS c3 FROM strm GROUP BY u, v, w
    ),
    cuv AS MATERIALIZED (
        SELECT u, v, CAST(sum(c3) AS BIGINT) AS cuv, count(*) AS n1puv
        FROM tg GROUP BY u, v
    ),
    mvw AS MATERIALIZED (SELECT v, w, count(*) AS n1vw FROM tg GROUP BY v, w),
    mv AS MATERIALIZED (
        SELECT v, CAST(sum(n1vw) AS BIGINT) AS nmid, count(*) AS n1vdot
        FROM mvw GROUP BY v
    ),
    nw AS MATERIALIZED (SELECT w, count(*) AS n1w FROM mvw GROUP BY w),
    bt AS (SELECT count(*) AS btot FROM mvw),
    stg AS MATERIALIZED (
        SELECT tg.u, tg.v, tg.w,
               CAST(round(ln(
                   CAST(greatest(4 * tg.c3 - 3, 0) AS DOUBLE)
                       / (4 * cuv.cuv)
                   + (CAST(3 * cuv.n1puv AS DOUBLE) / (4 * cuv.cuv))
                     * (CAST(greatest(4 * mvw.n1vw - 3, 0) * bt.btot
                             + 3 * mv.n1vdot * nw.n1w AS DOUBLE)
                        / (4 * mv.nmid * bt.btot))
               ) * {KN_SCALE}) AS BIGINT) AS lp_micro
        FROM tg
        JOIN cuv ON cuv.u = tg.u AND cuv.v = tg.v
        JOIN mvw ON mvw.v = tg.v AND mvw.w = tg.w
        JOIN mv ON mv.v = tg.v
        JOIN nw ON nw.w = tg.w, bt
    )
    SELECT s.doc_id,
           count(*) AS n_tokens,
           CAST(sum(stg.lp_micro) AS BIGINT) AS logprob_micro,
           round(CAST(-CAST(sum(stg.lp_micro) AS BIGINT) AS DOUBLE)
                 / (count(*) * {KN_SCALE}), 6) AS avg_neg_logprob
    FROM strm s
    JOIN stg ON stg.u = s.u AND stg.v = s.v AND stg.w = s.w
    GROUP BY s.doc_id
    """


@register("documents_kn_trigram_perplexity", oracle=_kn_trigram_oracle())
def documents_kn_trigram_perplexity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document trigram Kneser-Ney negative log-likelihood with
    the recursive continuation-count backoff (see note above) — the
    bigram filter's LM-depth extension, exact-integer inputs and a
    fixed IEEE op sequence end to end.

    Scale shape: same as the bigram twin — one token-stream explode,
    map-side-combining n-gram aggregates, model tables sized by the
    TRIGRAM type vocabulary (ln() once per distinct trigram, never
    per token), one scoring join + per-doc integer sum. tg is
    checkpointed (feeds five consumers); mvw persists (feeds three).
    Builder runs jobs at plan time: BUILD_EXECUTES."""
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    arr = d.select(
        "doc_id", F.explode(F.array(tx.tokens(F.col("text")))).alias("toks")
    )
    tok = arr.select("doc_id", "toks", F.posexplode("toks").alias("i", "w"))
    strm = tok.select(
        "doc_id",
        F.when(F.col("i") <= 1, F.lit("<s>"))
        .otherwise(F.element_at("toks", F.col("i") - 1))
        .alias("u"),
        F.when(F.col("i") == 0, F.lit("<s>"))
        .otherwise(F.element_at("toks", F.col("i")))
        .alias("v"),
        "w",
    )
    tg = (
        strm.groupBy("u", "v", "w")
        .agg(F.count(F.lit(1)).alias("c3"))
        .localCheckpoint(eager=True)
    )
    cuv = tg.groupBy("u", "v").agg(
        F.sum("c3").alias("cuv"), F.count(F.lit(1)).alias("n1puv")
    )
    mvw = tg.groupBy("v", "w").agg(F.count(F.lit(1)).alias("n1vw"))
    mvw.persist()
    mv = mvw.groupBy("v").agg(
        F.sum("n1vw").alias("nmid"), F.count(F.lit(1)).alias("n1vdot")
    )
    nw = mvw.groupBy("w").agg(F.count(F.lit(1)).alias("n1w"))
    bt = mvw.agg(F.count(F.lit(1)).alias("btot"))
    d3 = (
        F.greatest(4 * F.col("n1vw") - 3, F.lit(0)) * F.col("btot")
        + 3 * F.col("n1vdot") * F.col("n1w")
    ).cast("double") / (4 * F.col("nmid") * F.col("btot"))
    ptri = (
        F.greatest(4 * F.col("c3") - 3, F.lit(0)).cast("double")
        / (4 * F.col("cuv"))
        + ((3 * F.col("n1puv")).cast("double") / (4 * F.col("cuv"))) * d3
    )
    stg = (
        tg.join(cuv, ["u", "v"])
        .join(mvw, ["v", "w"])
        .join(mv, "v")
        .join(nw, "w")
        .crossJoin(F.broadcast(bt))
        .select(
            "u",
            "v",
            "w",
            F.round(F.log(ptri) * KN_SCALE).cast("bigint").alias("lp_micro"),
        )
    )
    return (
        strm.join(stg, ["u", "v", "w"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lp_micro").alias("logprob_micro"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "logprob_micro",
            F.round(
                (-F.col("logprob_micro")).cast("double")
                / (F.col("n_tokens") * F.lit(KN_SCALE)),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


# The Gopher quality-rule battery (Rae et al. 2021, Table A1) as a
# per-doc audit with PER-RULE flags — the raw rule outcomes a
# curation team tunes against, complementing documents_filter_cascade
# (which composes a funnel) and text_quality_score (which composes a
# scalar). All ratio thresholds compare via INTEGER
# cross-multiplication (sum_len >= 3·n_words, 10·n_symbol <=
# n_words, …), so no float ever reaches a boundary; zero-denominator
# docs pass ratio rules vacuously (no evidence either way) while the
# absolute word-count bound still fails them. Bounds are Gopher's
# canonical 50..100,000 words — most synthetic docs fail rule 1,
# which is the honest report, not a defect.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_REQ_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_oracle() -> str:
    req = ", ".join(f"'{w}'" for w in GOPHER_REQ_STOPWORDS)
    return rf"""
    WITH t AS (
        SELECT doc_id,
               {tx.tokens_sql()} AS toks,
               {tx.lines_sql()} AS ls,
               len(regexp_extract_all(text, '[#…]')) AS n_symbol
        FROM documents
    ),
    m AS (
        SELECT doc_id, n_symbol,
               len(toks) AS n_words,
               CAST(coalesce(list_sum(list_transform(toks, x -> len(x))), 0)
                    AS BIGINT) AS sum_len,
               len(list_filter(toks, x -> regexp_matches(x, '[a-zA-Z]')))
                   AS n_alpha,
               len(list_distinct(list_filter(
                   list_transform(toks, x -> lower(x)),
                   x -> x IN ({req})))) AS n_req,
               len(ls) AS n_lines,
               len(list_filter(ls, x -> regexp_matches(x, '^[{tx.WS_SQL}]*[-*•]')))
                   AS n_bullet,
               len(list_filter(ls, x -> regexp_matches(x, '(\.\.\.|…)[{tx.WS_SQL}]*$')))
                   AS n_ell
        FROM t
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           n_words >= {GOPHER_MIN_WORDS} AND n_words <= {GOPHER_MAX_WORDS}
               AS r_word_count,
           sum_len >= 3 * n_words AND sum_len <= 10 * n_words
               AS r_mean_word_len,
           10 * n_symbol <= n_words AS r_symbol_ratio,
           10 * n_bullet <= 9 * n_lines AS r_bullet_lines,
           10 * n_ell <= 3 * n_lines AS r_ellipsis_lines,
           10 * n_alpha >= 8 * n_words AS r_alpha_words,
           n_req >= 2 AS r_stopwords,
           CAST((CASE WHEN n_words >= {GOPHER_MIN_WORDS}
                           AND n_words <= {GOPHER_MAX_WORDS}
                      THEN 0 ELSE 1 END)
              + (CASE WHEN sum_len >= 3 * n_words
                           AND sum_len <= 10 * n_words
                      THEN 0 ELSE 1 END)
              + (CASE WHEN 10 * n_symbol <= n_words THEN 0 ELSE 1 END)
              + (CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 0 ELSE 1 END)
              + (CASE WHEN 10 * n_ell <= 3 * n_lines THEN 0 ELSE 1 END)
              + (CASE WHEN 10 * n_alpha >= 8 * n_words THEN 0 ELSE 1 END)
              + (CASE WHEN n_req >= 2 THEN 0 ELSE 1 END) AS INT)
               AS n_failed
    FROM m
    """


@register("documents_gopher_rules", oracle=_gopher_oracle())
def documents_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc Gopher rule flags (see note above): word-count bounds,
    mean-word-length 3..10, #/… symbol ratio ≤ 0.1, bullet-line
    fraction ≤ 0.9, ellipsis-line fraction ≤ 0.3, alpha-word
    fraction ≥ 0.8, ≥ 2 distinct required stopwords — plus the
    failed-rule count. pass_all is n_failed = 0 by construction
    (derivable; kept out to keep columns orthogonal).

    Scale shape: ONE corpus scan; every feature is a codegen'd array
    expression over the doc's own tokens/lines (no explode, no
    shuffle — output is doc-cardinality with integer features), and
    every threshold is an integer comparison."""
    return gopher_flags(wide_table(spark, sf_dir, "documents"))


def gopher_flags(d: DataFrame) -> DataFrame:
    """The per-row Gopher rule flags over a (doc_id, text) frame —
    every feature a stateless column expression, so the SAME helper
    scores a batch table and an arriving stream
    (documents_gopher_rules / stream_gopher_rules — the twins cannot
    drift)."""
    toks = tx.tokens(F.col("text"))
    ls = tx.lines(F.col("text"))
    req_lit = [F.lit(w) for w in GOPHER_REQ_STOPWORDS]
    m = d.select(
        "doc_id",
        F.size(toks).alias("n_words"),
        F.coalesce(
            F.aggregate(
                toks,
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + F.length(x),
            ),
            F.lit(0).cast("bigint"),
        ).alias("sum_len"),
        F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))).alias(
            "n_alpha"
        ),
        F.size(
            F.array_distinct(
                F.filter(
                    F.transform(toks, F.lower),
                    lambda x: x.isin(*GOPHER_REQ_STOPWORDS),
                )
            )
        ).alias("n_req"),
        F.regexp_count(F.col("text"), F.lit("[#…]")).alias("n_symbol"),
        F.size(ls).alias("n_lines"),
        F.size(
            F.filter(ls, lambda x: x.rlike(r"^\s*[-*•]"))
        ).alias("n_bullet"),
        F.size(
            F.filter(ls, lambda x: x.rlike(r"(\.\.\.|…)\s*$"))
        ).alias("n_ell"),
    )
    r1 = (F.col("n_words") >= GOPHER_MIN_WORDS) & (
        F.col("n_words") <= GOPHER_MAX_WORDS
    )
    r2 = (F.col("sum_len") >= 3 * F.col("n_words")) & (
        F.col("sum_len") <= 10 * F.col("n_words")
    )
    r3 = 10 * F.col("n_symbol") <= F.col("n_words")
    r4 = 10 * F.col("n_bullet") <= 9 * F.col("n_lines")
    r5 = 10 * F.col("n_ell") <= 3 * F.col("n_lines")
    r6 = 10 * F.col("n_alpha") >= 8 * F.col("n_words")
    r7 = F.col("n_req") >= 2
    fails = sum(
        F.when(r, 0).otherwise(1) for r in (r1, r2, r3, r4, r5, r6, r7)
    )
    return m.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        r1.alias("r_word_count"),
        r2.alias("r_mean_word_len"),
        r3.alias("r_symbol_ratio"),
        r4.alias("r_bullet_lines"),
        r5.alias("r_ellipsis_lines"),
        r6.alias("r_alpha_words"),
        r7.alias("r_stopwords"),
        fails.cast("int").alias("n_failed"),
    )


# Heaps-law vocabulary growth audit (r9): how fast does the corpus
# stop yielding NEW word types as it grows? The curve a crawl
# pipeline watches to decide when another dump stops paying for
# itself (diminishing novel-vocabulary returns). Docs are split into
# 10 arrival-order prefix checkpoints by the exact rank law over
# doc_id (sharded prefix sum — no global sort); each type is
# credited to the checkpoint of its FIRST claiming doc (min bucket —
# the documents_ngram_novelty first-claimer idiom on word types
# instead of 8-grams); the cumulative sums run over the 10-row
# metadata-scale frame (integer sums — combine-order-proof).
HEAPS_BUCKETS = 10


@register(
    "documents_heaps_vocab_growth",
    oracle=rf"""
    WITH d AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   {tx.tokens_sql()},
                   x -> lower(x))) AS toks,
               len({tx.tokens_sql()}) AS n_toks
        FROM documents
    ),
    r AS (
        SELECT doc_id, toks, n_toks,
               row_number() OVER (ORDER BY doc_id) AS rnk,
               count(*) OVER () AS n
        FROM d
    ),
    b AS (
        SELECT doc_id, toks, n_toks,
               CAST((rnk - 1) * {HEAPS_BUCKETS} // n AS INT) + 1 AS bucket
        FROM r
    ),
    fb AS (
        SELECT tk, min(bucket) AS bucket
        FROM (SELECT bucket, unnest(toks) AS tk FROM b) GROUP BY tk
    ),
    nv AS (SELECT bucket, count(*) AS new_types FROM fb GROUP BY bucket),
    dm AS (
        SELECT bucket, count(*) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS tok_mass
        FROM b GROUP BY bucket
    )
    SELECT dm.bucket,
           CAST(sum(dm.n_docs) OVER w AS BIGINT) AS cum_docs,
           CAST(sum(dm.tok_mass) OVER w AS BIGINT) AS cum_tokens,
           CAST(sum(coalesce(nv.new_types, 0)) OVER w AS BIGINT)
               AS cum_vocab
    FROM dm LEFT JOIN nv ON nv.bucket = dm.bucket
    WINDOW w AS (ORDER BY dm.bucket ROWS UNBOUNDED PRECEDING)
    """,
)
def documents_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative vocabulary-growth curve (see note above): per
    arrival-order checkpoint, cumulative docs, token mass, and
    distinct word types seen so far.

    Scale shape: one corpus scan; the rank rides the two-level
    sharded prefix sum (no global sort), the type explode reduces
    map-side to (type, min bucket) — vocabulary-sized — and every
    window runs on the 10-row checkpoint frame. Integer end to
    end."""
    from ..operators.prefix_sum import sharded_cumsum

    # explode(array(..)) materializes the token split as a Generate
    # output attribute (always exactly one row per doc), so the regex
    # split runs ONCE per row — CollapseProject would otherwise inline
    # it into both downstream references (r7 semdedup lesson).
    d = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(F.array(tx.tokens(F.col("text")))).alias("raw_toks"),
        )
        .select(
            "doc_id",
            F.array_distinct(
                F.transform(F.col("raw_toks"), F.lower)
            ).alias("toks"),
            F.size(F.col("raw_toks")).alias("n_toks"),
        )
    )
    r = sharded_cumsum(
        d.withColumn("one", F.lit(1)),
        [],
        "doc_id",
        "one",
        shard=F.floor(F.col("doc_id") / F.lit(4096)),
    )
    b = r.select(
        "toks",
        "n_toks",
        (
            F.expr(f"CAST((cum - 1) * {HEAPS_BUCKETS} div tot AS INT)") + 1
        ).alias("bucket"),
    )
    fb = (
        b.select("bucket", F.explode("toks").alias("tk"))
        .groupBy("tk")
        .agg(F.min("bucket").alias("bucket"))
    )
    nv = fb.groupBy("bucket").agg(F.count(F.lit(1)).alias("new_types"))
    dm = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("tok_mass"),
    )
    w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        dm.join(nv, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_docs").over(w).cast("bigint").alias("cum_docs"),
            F.sum("tok_mass").over(w).cast("bigint").alias("cum_tokens"),
            F.sum(F.coalesce(F.col("new_types"), F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("cum_vocab"),
        )
    )


# Language-ID CONFUSION matrix (r9) — the scorer-validation report a
# filtering pipeline reads before trusting a language gate: predicted
# vs labeled language counts plus each cell's share of its label row.
# On this synthetic corpus the marker heuristic collapses to en/und —
# the audit's job is to EXPOSE that (the knn_recall_audit honesty
# contract), which is exactly what a real pipeline needs to see
# before it drops 4/5 of its non-English data. Rides the ONE shared
# _token_agg feature pass + _langpred_col (the r8 shared-scorer
# rule); the oracle nests the full text_lang_id restatement so the
# two can never drift.


@register(
    "documents_langid_confusion",
    oracle=f"""
    WITH per_doc AS ({tx.lang_id_sql()}),
    m AS (
        SELECT lang_label, lang_pred, count(*) AS n
        FROM per_doc GROUP BY lang_label, lang_pred
    )
    SELECT lang_label, lang_pred, CAST(n AS BIGINT) AS n_docs,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY lang_label), 6) AS row_frac
    FROM m
    """,
)
def documents_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the language-ID heuristic against the
    labeled lang column (see note above): one row per (label, pred)
    cell with the count and its within-label share.

    Scale shape: the shared single feature pass, one
    map-side-combining ≤|langs|² aggregate, and a window over that
    metadata-scale matrix. The share divides two exact integers."""
    f = _token_agg(spark, sf_dir)
    labels = wide_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("lang_label")
    )
    m = (
        f.join(labels, "doc_id")
        .select("lang_label", _langpred_col().alias("lang_pred"))
        .groupBy("lang_label", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wl = Window.partitionBy("lang_label")
    return m.select(
        "lang_label",
        "lang_pred",
        F.col("n").cast("bigint").alias("n_docs"),
        F.round(F.col("n").cast("double") / F.sum("n").over(wl), 6).alias(
            "row_frac"
        ),
    )


# Greedy bigram-LM decoding (r11) — the DECODE half of the language-
# modeling family (KN perplexity scores text; this GENERATES it):
# train a bigram table over the corpus, then greedy-decode
# DECODE_STEPS tokens from the most frequent start token, each step
# taking the argmax-count successor (lexicographically smallest on
# count ties). The LM restricts to the DECODE_VOCAB most frequent
# tokens so the successor table is metadata-scale BY CONSTRUCTION
# (≤ vocab rows after the per-token argmax) — the bounded-vocab demo
# LM, not a production tokenizer (the BPE family owns that). A
# bigram is a RAW-stream-adjacent token pair with BOTH sides in
# vocab (an OOV between two vocab tokens does NOT bridge them).
# Everything is integer counts + string tiebreaks, so the whole
# train+decode — an autoregressive GENERATION loop — is exactly
# SQL-restatable: the oracle unrolls the walk as DECODE_STEPS
# scalar-subquery CTEs over the MATERIALIZED successor table (the
# knn_mmr_rerank unroll precedent). Greedy walks may cycle; that is
# the algorithm, identically on both sides.
DECODE_VOCAB = 512
DECODE_STEPS = 16


def _decode_oracle() -> str:
    parts = [
        rf"""WITH toks AS (
        SELECT {tx.tokens_sql()} AS ts FROM documents
    ),
    tok AS (SELECT unnest(ts) AS t FROM toks),
    vocab AS MATERIALIZED (
        SELECT t, cnt, row_number() OVER (ORDER BY cnt DESC, t) AS vrank
        FROM (SELECT t, count(*) AS cnt FROM tok WHERE t <> '' GROUP BY t)
        QUALIFY row_number() OVER (ORDER BY cnt DESC, t) <= {DECODE_VOCAB}
    ),
    pairs AS (
        SELECT unnest([{{'a': ts[i], 'b': ts[i + 1]}}
                       for i in generate_series(1, len(ts) - 1)]) AS p
        FROM toks
    ),
    bg AS (
        SELECT p.a AS w1, p.b AS w2, count(*) AS cnt
        FROM pairs
        WHERE p.a IN (SELECT t FROM vocab) AND p.b IN (SELECT t FROM vocab)
        GROUP BY p.a, p.b
    ),
    succ AS MATERIALIZED (
        SELECT w1, w2, cnt FROM (
            SELECT w1, w2, cnt,
                   row_number() OVER (PARTITION BY w1
                                      ORDER BY cnt DESC, w2) AS rn
            FROM bg
        ) WHERE rn = 1
    ),
    s1 AS (SELECT CAST(1 AS INT) AS step, t AS token,
                  CAST(0 AS BIGINT) AS pair_cnt
           FROM vocab WHERE vrank = 1)"""
    ]
    for k in range(2, DECODE_STEPS + 1):
        parts.append(
            f"""s{k} AS (
        SELECT CAST({k} AS INT) AS step,
               (SELECT w2 FROM succ WHERE w1 = s.token) AS token,
               (SELECT cnt FROM succ WHERE w1 = s.token) AS pair_cnt
        FROM s{k - 1} s WHERE s.token IS NOT NULL
    )"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT step, token, pair_cnt FROM s{k}"
        for k in range(1, DECODE_STEPS + 1)
    )
    return (
        ",\n    ".join(parts)
        + f"\n    SELECT step, token, CAST(pair_cnt AS BIGINT) AS pair_cnt"
        f" FROM ({union}) WHERE token IS NOT NULL"
    )


@register("text_bigram_greedy_decode", oracle=_decode_oracle())
def text_bigram_greedy_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Greedy bigram-LM decode (design note above): (step, token,
    pair_cnt) for the {DECODE_STEPS}-token greedy generation from
    the corpus's most frequent token.

    Scale shape: ONE corpus-scale token explode feeds two mergeable
    hash aggregates (unigram counts → top-{DECODE_VOCAB} vocab;
    in-vocab bigram counts); the per-token argmax successor table is
    ≤ vocab rows, collected to the driver (metadata-scale by the
    vocab bound — the events_markov_stationary precedent) where the
    inherently sequential {DECODE_STEPS}-step walk runs on Python
    ints/strings; a walk is one dict lookup per step, never a join.
    The vocab cut is orderBy+limit (TakeOrdered — per-partition
    top-{DECODE_VOCAB} heaps, never a single-partition sort of the
    full distinct-token table; r11 advice closed — an unpartitioned
    row_number window cannot WindowGroupLimit-prune).
    Collects at plan time: BUILD_EXECUTES."""
    d = wide_table(spark, sf_dir, "documents")
    toks = d.select(tx.tokens(F.col("text")).alias("ts"))
    tok = toks.select(F.explode("ts").alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "t")
        .limit(DECODE_VOCAB)
        .localCheckpoint(eager=True)
    )
    pairs = toks.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("ts"), 1, F.greatest(F.size("ts") - 1, F.lit(0))),
                F.slice(F.col("ts"), 2, F.greatest(F.size("ts") - 1, F.lit(0))),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("p")
    ).select(F.col("p.a").alias("w1"), F.col("p.b").alias("w2"))
    va = vocab.select(F.col("t").alias("w1"))
    vb = vocab.select(F.col("t").alias("w2"))
    bg = (
        pairs.join(F.broadcast(va), "w1")
        .join(F.broadcast(vb), "w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ws = Window.partitionBy("w1").orderBy(F.desc("cnt"), "w2")
    succ = {
        r.w1: (r.w2, r.cnt)
        for r in bg.select(
            "w1", "w2", "cnt", F.row_number().over(ws).alias("rn")
        )
        .where(F.col("rn") == 1)
        .collect()
    }
    # localCheckpoint doesn't guarantee row order — re-derive the
    # start token (global argmax) from the 512-row checkpointed table
    start = vocab.orderBy(F.desc("cnt"), "t").limit(1).collect()
    out = []
    if start:
        cur = start[0].t
        out.append((1, cur, 0))
        for k in range(2, DECODE_STEPS + 1):
            nxt = succ.get(cur)
            if nxt is None:
                break
            cur = nxt[0]
            out.append((k, cur, nxt[1]))
    return spark.createDataFrame(
        out, "step int, token string, pair_cnt long"
    )


# Mutual-information feature selection (r11) — the feature-ranking
# companion of documents_source_classifier (Manning/Raghavan/Schütze
# IR ch. 13.5): per token, the MI between "doc contains token" and
# "doc source", over the 2×|sources| presence/absence table. The
# curation read: which tokens most identify a source (leakage
# detectors, boilerplate fingerprints, domain markers). Exactness
# rides the NB family's micro-log idiom: every cell probability
# ratio N·n_cell/(n_row·n_col) is a division of EXACT integers, its
# ln() is rounded ONCE to a 1e-6 BIGINT, and the per-token score is
# the integer Σ n_cell·L_cell (true MI × N×1e6) — integer rank,
# token tiebreak. Zero cells contribute 0 (the 0·ln0 limit), CASE-
# guarded so the n_row=0 division of an everywhere-token's absent
# row is never evaluated (ANSI).
MI_DF_MIN = 3
MI_TOP = 20
_MI_SCALE = 1_000_000


def _token_mi_oracle() -> str:
    def term(c: str, row: str, col: str) -> str:
        return (
            f"CASE WHEN {c} > 0 THEN {c} * CAST(round(ln("
            f"(cells.n * {c}) / (({row}) * ({col}))) * {_MI_SCALE})"
            f" AS BIGINT) ELSE 0 END"
        )

    return rf"""
    WITH tokd AS (
        SELECT DISTINCT doc_id, source, word FROM (
            SELECT doc_id, source,
                   unnest({tx.tokens_sql(lower=True)})
                       AS word
            FROM documents
        )
    ),
    nd AS (SELECT count(*) AS n FROM documents),
    nc AS (SELECT source, count(*) AS n_c FROM documents GROUP BY source),
    nt AS (
        SELECT word, count(*) AS df FROM tokd GROUP BY word
        HAVING count(*) >= {MI_DF_MIN}
    ),
    ntc AS (
        SELECT word, source, count(*) AS c FROM tokd GROUP BY word, source
    ),
    cells AS (
        SELECT nt.word, nt.df, coalesce(ntc.c, 0) AS c1,
               nc.n_c - coalesce(ntc.c, 0) AS c0, nc.n_c, nd.n
        FROM nt CROSS JOIN nc CROSS JOIN nd
        LEFT JOIN ntc ON ntc.word = nt.word AND ntc.source = nc.source
    ),
    mi AS (
        SELECT word, df,
               sum({term('c1', 'df', 'n_c')}
                   + {term('c0', 'cells.n - df', 'n_c')}) AS mi_fp
        FROM cells GROUP BY word, df
    )
    SELECT word AS token, CAST(df AS BIGINT) AS df,
           CAST(mi_fp AS BIGINT) AS mi_fp
    FROM mi
    ORDER BY mi_fp DESC, token
    LIMIT {MI_TOP}
    """


@register("documents_token_mi", oracle=_token_mi_oracle())
def documents_token_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{MI_TOP} tokens by mutual information with the source
    label (design note above): (token, df, mi_fp) where mi_fp is
    MI × N × 1e6 as an exact integer sum of micro-log cell terms.

    Scale shape: one corpus token explode → per-doc distinct →
    three mergeable hash aggregates (df, per-source df, per-source
    doc counts); the presence/absence table is (vocab × sources) —
    aggregate-output-scale — built by a broadcast join of the tiny
    source counts; the rank is one TakeOrdered({MI_TOP}). The
    df ≥ {MI_DF_MIN} floor bounds grid noise, not correctness."""
    d = wide_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    tokd = d.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(tx.tokens(F.lower(F.col("text"))))
        ).alias("word"),
    )
    nd = d.agg(F.count(F.lit(1)).alias("n"))
    nc = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_c"))
    nt = (
        tokd.groupBy("word")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= MI_DF_MIN)
    )
    ntc = tokd.groupBy("word", "source").agg(F.count(F.lit(1)).alias("c"))
    cells = (
        nt.join(F.broadcast(nc))
        .join(F.broadcast(nd))
        .join(ntc, ["word", "source"], "left")
        .select(
            "word",
            "df",
            F.coalesce(F.col("c"), F.lit(0)).alias("c1"),
            (F.col("n_c") - F.coalesce(F.col("c"), F.lit(0))).alias("c0"),
            "n_c",
            "n",
        )
    )

    def term(c, row):
        return F.when(
            c > 0,
            c
            * F.round(
                F.log((F.col("n") * c) / (row * F.col("n_c"))) * _MI_SCALE
            ).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))

    mi = cells.groupBy("word", "df").agg(
        F.sum(
            term(F.col("c1"), F.col("df"))
            + term(F.col("c0"), F.col("n") - F.col("df"))
        ).alias("mi_fp")
    )
    return (
        mi.select(
            F.col("word").alias("token"),
            F.col("df").cast("bigint").alias("df"),
            F.col("mi_fp").cast("bigint").alias("mi_fp"),
        )
        .orderBy(F.desc("mi_fp"), "token")
        .limit(MI_TOP)
    )
