"""Deterministic sampling/split plans (training-pipeline surface).

Because the bucket rule is md5-based (``operators/sampling.py``),
even the SAMPLING is value-checked against DuckDB — same rows in
the sample, same split membership counts, bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..dedup import minhash as mh
from ..functions import text as tx
from ..functions.hexdigest import hex_int, hex_int_sql
from ..operators.sampling import dataset_split, hash_sample, md5_bucket_sql
from ..sources.catalog import table, wide_table
from .registry import register

_BUCKET = md5_bucket_sql("doc_id")


@register(
    "dataset_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE {_BUCKET} < 26
    """,
)
def dataset_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% deterministic sample of documents by md5 bucket of
    doc_id — identical membership across engines, runs, and
    partitionings (what ``df.sample(seed=...)`` cannot promise)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return hash_sample(d, "doc_id", 10)


@register(
    "dataset_split_counts",
    oracle=f"""
    SELECT CASE WHEN {_BUCKET} < 205 THEN 'train'
                WHEN {_BUCKET} < 231 THEN 'val'
                ELSE 'test' END AS split,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
)
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-proof 80/10/10 split assignment + per-split volume."""
    d = table(spark, sf_dir, "documents")
    return (
        dataset_split(d, "doc_id", 80, 10)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "dataset_stratified_sample",
    oracle=f"""
    SELECT lang, count(*) AS n_kept
    FROM documents
    WHERE {_BUCKET} < CASE WHEN lang = 'en' THEN 128
                                 WHEN lang = 'zh' THEN 51
                                 ELSE 26 END
    GROUP BY lang
    """,
)
def dataset_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED sample: per-language keep rates
    (50% en, 20% zh, 10% rest) via per-stratum md5-bucket cutoffs —
    the language-rebalancing step of a curation pipeline, exact in
    membership (not just expectation) across engines and
    partitionings, one filter and no sampling state."""
    from ..operators.sampling import stratified_hash_sample

    d = table(spark, sf_dir, "documents")
    kept = stratified_hash_sample(d, "doc_id", "lang", {"en": 50, "zh": 20}, 10)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


@register(
    "orders_reservoir_sample",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice,
           o_orderstatus
    FROM orders
    ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
    LIMIT 100
    """,
)
def orders_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-row sample without replacement, as a distributed
    reservoir: rank rows by a uniform hash of the key and keep the
    global k smallest. Classic single-pass reservoir sampling is
    sequential; the order-statistics formulation is its distributed
    equivalent (each partition keeps its local top-k, the driver
    merges k-sized heaps — Spark's TakeOrderedAndProject, no full
    sort, no shuffle of the table). md5 as the random key makes the
    sample reproducible across engines/runs/layouts, which
    ``df.sample(seed=...)`` cannot promise (partition-dependent).
    """
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "o_orderstatus",
            F.md5(F.col("o_orderkey").cast("string")).alias("_hv"),
        )
        .orderBy("_hv", "o_orderkey")
        .limit(100)
        .drop("_hv")
    )


# Decontamination: exact token-8-gram overlap between the train and
# test splits of the SAME hash-split rule the pipeline trains with.
# Long n-grams are the standard screen (short shingles collide on
# common phrases; 8-token sequences match only real leakage).
DECON_NGRAM = 8

# Shared construction for the decontamination family (exact pair
# screen, per-source rollup, Bloom sketch): the distinct token-8-gram
# stream under the 80/10/10 hash split, as matching Spark and SQL
# forms so the three queries cannot drift (r8 review).
_DECON_SH_SQL = rf"""sh AS (
        SELECT doc_id, {_BUCKET} AS bucket,
               list_distinct([array_to_string(toks[x:x + {DECON_NGRAM - 1}], ' ')
                              for x in generate_series(1, len(toks) - {DECON_NGRAM - 1})]) AS grams
        FROM (SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks
              FROM documents)
    ),
    tr AS (SELECT doc_id AS train_doc, unnest(grams) AS g FROM sh WHERE bucket < 205),
    te AS (SELECT doc_id AS test_doc, unnest(grams) AS g FROM sh WHERE bucket >= 231)"""


def decon_grams_of(d: DataFrame):
    """(sh, sp) over an EXPLICIT documents frame: the exploded
    (doc_id, split, g) distinct-8-gram stream and the split-labelled
    frame. Stateless column expressions only, so the same code path
    serves the batch decontamination family AND the r11 streaming
    twin (shared-scorer rule — the twins cannot drift). The
    dynamic-length sequence is guarded (docs under {DECON_NGRAM}
    tokens emit no grams) because Spark's sequence() counts DOWN on
    an empty range."""
    from ..operators.sampling import dataset_split

    toks = tx.tokens(F.col("text"))
    grams = F.when(
        F.size(toks) >= DECON_NGRAM,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (DECON_NGRAM - 1)),
                lambda x: F.array_join(F.slice(toks, x, DECON_NGRAM), " "),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    sp = dataset_split(d, "doc_id", 80, 10)
    sh = sp.select("doc_id", "split", F.explode(grams).alias("g"))
    return sh, sp


def _decon_gram_stream(spark: SparkSession, sf_dir: str):
    """decon_grams_of over the corpus documents table."""
    return decon_grams_of(wide_table(spark, sf_dir, "documents"))



# N-gram NOVELTY in arrival order (the dedup-adjacent freshness
# metric a curation pipeline tracks per crawl increment): a doc's
# novelty is the fraction of its distinct token-8-grams that no
# EARLIER doc (doc_id = arrival order) contains. First-occurrence is
# min(doc_id) per gram, so the whole metric is TWO map-side-combining
# aggregates with no gram-table self-join: n_grams(doc) from the
# gram stream, n_new(doc) = |{g : min claimant = doc}| from the
# first-claimer table. Ratios are exact ×1e6 integer quotients
# (truncating div both engines) plus a display double computed from
# the same exact integers; both CASE-guarded for gram-less docs
# (sub-8-token texts — the adversarial-corpus 0-division class).
@register(
    "documents_ngram_novelty",
    oracle=rf"""
    WITH gsh AS (
        SELECT doc_id,
               unnest(list_distinct([array_to_string(toks[x:x + {DECON_NGRAM - 1}], ' ')
                      for x in generate_series(1, len(toks) - {DECON_NGRAM - 1})])) AS g
        FROM (SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks
              FROM documents)
    ),
    fo AS (SELECT g, min(doc_id) AS first_doc FROM gsh GROUP BY g),
    pg AS (SELECT doc_id, count(*) AS n_grams FROM gsh GROUP BY doc_id),
    pn AS (SELECT first_doc AS doc_id, count(*) AS n_new FROM fo GROUP BY first_doc)
    SELECT d.doc_id,
           CAST(coalesce(pg.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(pn.n_new, 0) AS BIGINT) AS n_new,
           CASE WHEN coalesce(pg.n_grams, 0) > 0
                THEN CAST((coalesce(pn.n_new, 0) * 1000000) // pg.n_grams AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS novelty_micro,
           CASE WHEN coalesce(pg.n_grams, 0) > 0
                THEN round(CAST(coalesce(pn.n_new, 0) AS DOUBLE) / pg.n_grams, 6)
                ELSE 0.0 END AS novelty
    FROM documents d
    LEFT JOIN pg USING (doc_id)
    LEFT JOIN pn USING (doc_id)
    """,
)
def documents_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc arrival-order 8-gram novelty (see note above): what
    fraction of this doc's distinct 8-grams is corpus-NEW at its
    arrival position. Low novelty flags re-crawls/boilerplate even
    below the near-dup threshold; the running corpus-level mean is
    the "are we still adding information?" curve crawl teams watch.

    Scale shape: gram explode → two hash aggregates (gram-keyed,
    then doc-keyed), both map-side combining; NO join ever carries
    the gram stream against itself (n_new comes from grouping the
    first-claimer table, gram-vocabulary-sized). At 100 TB the gram
    aggregate is the same shuffle the decontamination screen already
    pays; everything after is doc-cardinality."""
    sh, _ = _decon_gram_stream(spark, sf_dir)
    gsh = sh.select("doc_id", "g")
    fo = gsh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    pg = gsh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    pn = fo.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    d = wide_table(spark, sf_dir, "documents").select("doc_id")
    j = (
        d.join(pg, "doc_id", "left")
        .join(pn, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_grams"), F.lit(0))
            .cast("bigint")
            .alias("n_grams"),
            F.coalesce(F.col("n_new"), F.lit(0))
            .cast("bigint")
            .alias("n_new"),
        )
    )
    return j.select(
        "doc_id",
        "n_grams",
        "n_new",
        F.when(
            F.col("n_grams") > 0,
            F.expr("cast((n_new * 1000000) div n_grams as bigint)"),
        )
        .otherwise(F.lit(0).cast("bigint"))
        .alias("novelty_micro"),
        F.when(
            F.col("n_grams") > 0,
            F.round(F.col("n_new").cast("double") / F.col("n_grams"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("novelty"),
    )


@register(
    "split_decontamination",
    oracle=f"""
    WITH {_DECON_SH_SQL}
    SELECT train_doc, test_doc, count(*) AS n_shared
    FROM tr JOIN te USING (g)
    GROUP BY train_doc, test_doc
    """,
)
def split_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-leakage screen: every (train doc, test doc) pair of
    the 80/10/10 hash split sharing at least one exact
    DECON_NGRAM-token sequence, with the shared-gram count — the
    decontamination step a training pipeline runs before the split
    ships. Scale shape: per-doc DISTINCT grams explode to (gram,
    doc) rows and the train×test match is one shuffle on the gram
    key (at 100 TB the test/benchmark side is small → broadcast);
    long n-grams keep the join selective, exactly why the screen
    uses 8-token sequences and not shingles (gram/split construction
    shared across the decontamination family: _decon_gram_stream /
    _DECON_SH_SQL)."""
    sh, _ = _decon_gram_stream(spark, sf_dir)
    tr = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "g"
    )
    te = sh.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "g"
    )
    return (
        tr.join(te, "g")
        .groupBy("train_doc", "test_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@register(
    "split_contamination_by_source",
    oracle=f"""
    WITH {_DECON_SH_SQL},
    cont AS (SELECT DISTINCT train_doc FROM tr JOIN te USING (g)),
    trd AS (
        SELECT d.doc_id, d.source
        FROM documents d
        WHERE {md5_bucket_sql("d.doc_id")} < 205
    )
    SELECT trd.source,
           CAST(count(*) AS BIGINT) AS n_train_docs,
           CAST(sum(CASE WHEN cont.train_doc IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_contaminated,
           round(CAST(CAST(sum(CASE WHEN cont.train_doc IS NOT NULL
                                    THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
                 / count(*), 6) AS contamination_rate
    FROM trd LEFT JOIN cont ON cont.train_doc = trd.doc_id
    GROUP BY trd.source
    """,
)
def split_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE contamination-rate rollup — split_decontamination
    composed into the report a curation pipeline actually acts on:
    for each source, how many of its TRAIN-split docs share at least
    one exact {DECON_NGRAM}-token sequence with ANY test-split doc,
    and the rate. A source with an outlier rate is re-crawled or
    quarantined wholesale (benchmark mirrors, paste sites), which is
    a source-level decision, not a pair-level one.

    Scale shape: the gram join is split_decontamination's (one
    shuffle on the gram key; the test side is small → broadcast at
    scale); the contaminated-doc set distincts AFTER the selective
    join; the rollup is one tiny per-source aggregate over the
    train-doc table with a left join against that set. All counts
    exact integers; the rate divides two of them. Gram/split
    construction shared with the exact twin (_decon_gram_stream)."""
    sh, sp = _decon_gram_stream(spark, sf_dir)
    tr = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "g"
    )
    te = sh.filter(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "g"
    )
    cont = tr.join(te, "g").select("train_doc").distinct()
    trd = sp.filter(F.col("split") == "train").select("doc_id", "source")
    flagged = trd.join(
        cont.withColumnRenamed("train_doc", "doc_id").withColumn(
            "_hit", F.lit(1)
        ),
        "doc_id",
        "left",
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_train_docs"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        )
        .select(
            "source",
            "n_train_docs",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_train_docs"),
                6,
            ).alias("contamination_rate"),
        )
    )


# Bloom-filter decontamination — the scale twin of
# split_decontamination (the GPT-3/PaLM-style screen: the benchmark
# side is SMALL and fixed, so its n-grams compress into an m-bit
# Bloom filter that probes the train side map-side; Brown et al.
# 2020 run exactly this with 13-grams). Recall 1 by construction
# (a truly shared gram sets all its bits); precision is bounded by
# the FP rate (1-e^{-kn/m})^k — ~1e-7 at the sf0.01 test mass (5k
# grams into 2^20 bits) and still <0.1% at a 50k-gram benchmark
# suite — flagged-but-clean grams are the documented trade. Hashes
# are k=4 independent u32s from one md5 (hex slices at 1/9/17/25),
# so the WHOLE filter — bit positions, word packing, the all-k
# membership test — restates in SQL and the estimator output is
# value-checked, the established probabilistic-recall-is-no-excuse
# pattern.
DECON_BLOOM_M = 1 << 20  # filter bits (16K sparse int64 words, <=128 KB)
_DECON_SLICES = (1, 9, 17, 25)  # md5 hex offsets → k=4 hashes


def _bloom_decon_oracle() -> str:
    m = DECON_BLOOM_M
    pos_arms = " ".join(
        f"WHEN {j} THEN {hex_int_sql('md5(g)', s)} % {m}"
        for j, s in enumerate(_DECON_SLICES)
    )
    te_pos_union = "\n        UNION ALL ".join(
        f"SELECT {hex_int_sql('md5(g)', s)} % {m} AS pos FROM te_g"
        for s in _DECON_SLICES
    )
    return rf"""
    WITH sh AS MATERIALIZED (
        SELECT doc_id, {_BUCKET} AS bucket,
               list_distinct([array_to_string(toks[x:x + {DECON_NGRAM - 1}], ' ')
                              for x in generate_series(1, len(toks) - {DECON_NGRAM - 1})]) AS grams
        FROM (SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS toks
              FROM documents)
    ),
    te_g AS MATERIALIZED (
        SELECT DISTINCT unnest(grams) AS g FROM sh WHERE bucket >= 231
    ),
    te_pos AS ({te_pos_union}),
    filt AS MATERIALIZED (
        SELECT pos // 64 AS w,
               bit_or(CAST(1 AS UBIGINT) << CAST(pos % 64 AS INT)) AS bits
        FROM te_pos GROUP BY pos // 64
    ),
    tr AS (
        SELECT doc_id AS train_doc, unnest(grams) AS g
        FROM sh WHERE bucket < 205
    ),
    tr_pos AS (
        SELECT train_doc, g,
               CASE j.j {pos_arms} END AS pos
        FROM tr, generate_series(0, {len(_DECON_SLICES) - 1}) AS j(j)
    ),
    hits AS (
        SELECT train_doc, g
        FROM tr_pos p JOIN filt f ON f.w = p.pos // 64
        WHERE (f.bits & (CAST(1 AS UBIGINT) << CAST(p.pos % 64 AS INT))) <> 0
        GROUP BY train_doc, g
        HAVING count(*) = {len(_DECON_SLICES)}
    )
    SELECT train_doc, count(*) AS n_flagged_grams
    FROM hits GROUP BY train_doc
    """


@register("split_decontamination_bloom", oracle=_bloom_decon_oracle())
def split_decontamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train docs flagged by the test-split Bloom filter (see note
    above): per train doc, the count of its distinct
    {DECON_NGRAM}-token grams whose k=4 bit positions are all set.

    Scale shape: the TEST side (benchmark-sized in the operator's
    regime) builds the filter — one distinct + one bit_or aggregate
    into DECON_BLOOM_M/64 sparse int64 words, checkpointed
    (metadata-scale: <=128 KB); the TRAIN side probes via 4
    BROADCAST hash joins on the word index (map-side, the train
    grams are never shuffled on the gram key — the exact twin
    shuffles every train gram) plus 4 codegen bit tests, then
    aggregates straight to per-doc counts. The md5 is computed once
    in its own select so the 4 slice references cannot re-inline it.
    Regime honesty: the replica scale-up corpora grow the TEST split
    with the corpus, which violates the fixed-benchmark premise —
    at sfx40 the 8M test grams saturate any fixed-size filter and
    the exact join (6.8 s) beats the sketch (14.4 s); the Bloom
    form's regime is a FIXED benchmark side against a growing train
    side, where the filter build is constant and the probe is the
    only corpus-sized stage. Builder checkpoints the filter at plan
    time: BUILD_EXECUTES."""
    d = wide_table(spark, sf_dir, "documents")
    filt = bloom_filter_words(d)
    sh, _ = decon_grams_of(d)
    tr = sh.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), F.md5(F.col("g")).alias("h")
    )
    return bloom_probe_counts(tr, filt)


def _bloom_u32(s: int):
    """Slice ``s`` of the materialized md5 column ``h`` as a filter
    position."""
    return hex_int(F.col("h"), s) % DECON_BLOOM_M


def bloom_filter_words(d: DataFrame) -> DataFrame:
    """The CHECKPOINTED test-split Bloom filter (w → bits words) over
    an explicit documents frame — factored (r11) so the streaming
    twin probes the IDENTICAL filter build."""
    sh, _ = decon_grams_of(d)
    hashed = sh.select("doc_id", "split", F.md5(F.col("g")).alias("h"))
    te_pos = (
        hashed.filter(F.col("split") == "test")
        .select("h")
        .distinct()
        .select(
            F.explode(
                F.array(*[_bloom_u32(s) for s in _DECON_SLICES])
            ).alias("pos")
        )
    )
    return (
        te_pos.groupBy(F.expr("pos div 64").alias("w"))
        .agg(
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            ).alias("bits")
        )
        .localCheckpoint(eager=True)
    )


def bloom_probe_counts(tr: DataFrame, filt: DataFrame) -> DataFrame:
    """Probe a (train_doc, h) gram stream against the STATIC filter
    words: 4 broadcast joins + bit tests → per-doc flagged-gram
    counts. Works unchanged on a STREAMING ``tr`` (stream-static
    joins are stateless; the final count is the only stateful op) —
    shared by split_decontamination_bloom and its r11 stream twin."""
    # one select per derived level (lateral-alias discipline): the 4
    # positions derive from the single materialized h column
    tr_pos = tr.select(
        "train_doc",
        *[_bloom_u32(s).alias(f"p{j}") for j, s in enumerate(_DECON_SLICES)],
    )
    # 4 broadcast joins on the word index: an INNER join drops rows
    # whose word has no set bits (correctly unflagged), so a gram
    # survives all 4 joins AND all 4 bit tests iff it is a Bloom hit
    flagged = tr_pos
    for j in range(len(_DECON_SLICES)):
        fj = filt.select(
            F.col("w").alias(f"w{j}"), F.col("bits").alias(f"bits{j}")
        )
        flagged = flagged.join(
            F.broadcast(fj),
            F.expr(f"p{j} div 64") == F.col(f"w{j}"),
        ).filter(
            F.col(f"bits{j}").bitwiseAND(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p{j} % 64 AS INT))")
            )
            != 0
        )
    return flagged.groupBy("train_doc").agg(
        F.count(F.lit(1)).alias("n_flagged_grams")
    )


# Per-source quota: cap how many documents any one source/domain may
# contribute — the anti-domination step of corpus curation (one
# crawled site must not swamp the mix). Selection within a source is
# by md5(doc_id) rank: deterministic, engine-portable, and unbiased
# w.r.t. document order (doc_id order would systematically prefer
# early crawls).
SOURCE_QUOTA = 10


@register(
    "documents_source_quota",
    oracle=f"""
    SELECT doc_id, source, CAST(rn AS INT) AS quota_rank
    FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    WHERE rn <= {SOURCE_QUOTA}
    """,
)
def documents_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep at most SOURCE_QUOTA documents per source, chosen by
    md5(doc_id) rank (tie-broken by doc_id — a unique key, per the
    deterministic-ordering invariant). One shuffle on source; the
    rank-filter pushes down as WindowGroupLimit, so each map task
    forwards at most SOURCE_QUOTA rows per source it sees before the
    exchange — at 100 TB the shuffle carries O(sources × quota ×
    tasks), not the corpus."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("quota_rank"))
        .filter(F.col("quota_rank") <= SOURCE_QUOTA)
        .withColumn("quota_rank", F.col("quota_rank").cast("int"))
    )


# Language rebalancing by exponent smoothing: target share of lang l
# ∝ p_l^alpha with alpha = 0.5 — the standard multilingual-mix
# smoothing (upweights tail languages relative to their raw share);
# each language keeps min(n_l, floor(total · q_l)) documents, chosen
# by md5(doc_id) rank. Floats feed a floor() comparison, so every
# aggregated double is round(9)ed on BOTH sides (the k-means
# precedent): sqrt is IEEE-exact in both engines and the 9-dp
# rounding kills merge-order ulp noise long before the integer
# boundary.


@register(
    "documents_lang_rebalance",
    oracle="""
    WITH c AS (
        SELECT lang, count(*) AS n, round(sqrt(count(*)), 9) AS w
        FROM documents GROUP BY lang
    ),
    t AS (
        SELECT CAST(sum(n) AS DOUBLE) AS total, round(sum(w), 9) AS s FROM c
    ),
    k AS (
        SELECT c.lang, c.n,
               least(c.n, CAST(floor(round(t.total * c.w / t.s, 9)) AS BIGINT))
                   AS keep_n
        FROM c, t
    ),
    r AS (
        SELECT doc_id, lang,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    )
    SELECT r.doc_id, r.lang, CAST(r.rn AS INT) AS lang_rank
    FROM r JOIN k ON k.lang = r.lang
    WHERE r.rn <= k.keep_n
    """,
)
def documents_lang_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample dominant languages toward the sqrt-smoothed target
    mix (see note above): lang l keeps min(n_l, floor(total·q_l))
    docs with q_l ∝ sqrt(n_l), selected by md5(doc_id) rank. The
    per-lang keep counts come from a tiny counts aggregate broadcast
    back onto the rank pass — one shuffle on lang for the ranks
    (WindowGroupLimit does not apply since keep_n is data-dependent,
    but the rank window is the same single-shuffle shape as
    documents_source_quota); everything else is dimension-sized."""
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sqrt(F.count(F.lit(1))), 9).alias("w"),
    )
    t = c.agg(
        F.sum("n").cast("double").alias("total"), F.round(F.sum("w"), 9).alias("s")
    )
    k = c.crossJoin(F.broadcast(t)).select(
        "lang",
        F.least(
            F.col("n"),
            F.floor(F.round(F.col("total") * F.col("w") / F.col("s"), 9)).cast(
                "bigint"
            ),
        ).alias("keep_n"),
    )
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    r = d.select("doc_id", "lang", F.row_number().over(w).alias("lang_rank"))
    return (
        r.join(F.broadcast(k), "lang")
        .filter(F.col("lang_rank") <= F.col("keep_n"))
        .select("doc_id", "lang", F.col("lang_rank").cast("int").alias("lang_rank"))
    )


# Weighted (probability-proportional-to-size) sampling: include each
# document independently with p = min(1, K·w/W) where w = n_chars —
# the domain-mixing primitive (longer docs carry more training
# tokens, so token-budget sampling weights by size). The inclusion
# test u/2³² < K·w/W is evaluated as an EXACT integer comparison
# u·W < K·w·2³² in DECIMAL(38,0) — no libm pow/ln (A-ES keys), whose
# last-ulp differences across engines could flip membership at the
# threshold. md5-derived u makes membership deterministic across
# engines, runs, and partitionings.
WSAMPLE_K = 50


@register(
    "dataset_weighted_sample",
    oracle=f"""
    WITH tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS w_total FROM documents)
    SELECT doc_id, n_chars,
           round(least(1.0, {WSAMPLE_K} * CAST(n_chars AS DOUBLE) / w_total), 6)
               AS p_include
    FROM documents, tot
    WHERE CAST({hex_int_sql("md5(CAST(doc_id AS VARCHAR))")} AS DECIMAL(38,0))
          * CAST(w_total AS DECIMAL(38,0))
          < CAST({WSAMPLE_K} AS DECIMAL(38,0))
            * CAST(n_chars AS DECIMAL(38,0)) * CAST(4294967296 AS DECIMAL(38,0))
    """,
)
def dataset_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PPS sample of ~WSAMPLE_K documents weighted by
    n_chars (see note above). Scale shape: the weight total is one
    scalar aggregate broadcast back as a 1-row cross join; the
    inclusion test is a narrow per-row predicate over the scan —
    no shuffle of the table, no sort, no top-k structure. DECIMAL
    keeps the comparison exact at any corpus size (u·W reaches
    ~10²⁴ at 100 TB — past BIGINT, nowhere near DECIMAL(38))."""
    d = table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tot = d.agg(F.sum("n_chars").cast("bigint").alias("w_total"))
    u32 = hex_int(F.md5(F.col("doc_id").cast("string")))
    dec = lambda c: c.cast("decimal(38,0)")
    return (
        d.join(F.broadcast(tot))
        .where(
            dec(u32) * dec(F.col("w_total"))
            < dec(F.lit(WSAMPLE_K)) * dec(F.col("n_chars")) * dec(F.lit(4294967296))
        )
        .select(
            "doc_id",
            "n_chars",
            F.round(
                F.least(
                    F.lit(1.0),
                    WSAMPLE_K * F.col("n_chars").cast("double") / F.col("w_total"),
                ),
                6,
            ).alias("p_include"),
        )
    )


# Consistent pseudonymization: salted-hash surrogate keys applied to
# every table that carries the identifier. The salt is a pipeline
# secret; a public fixed value here keeps the query reproducible.
_ANON_SALT = "graft-salt-v1"


@register(
    "anonymize_join_preservation",
    oracle=f"""
    WITH uc AS (
        SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
    ),
    u AS (
        SELECT user_id, cnt,
               sha256('{_ANON_SALT}' || CAST(user_id AS VARCHAR)) AS pseud
        FROM uc
    ),
    cp AS (
        SELECT sha256('{_ANON_SALT}' || CAST(c_custkey AS VARCHAR)) AS pseud
        FROM customer
    )
    SELECT CAST(sum(u.cnt) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN c.c_custkey IS NOT NULL THEN u.cnt ELSE 0 END)
                AS BIGINT) AS n_joined_raw,
           CAST(sum(CASE WHEN cpk.pseud IS NOT NULL THEN u.cnt ELSE 0 END)
                AS BIGINT) AS n_joined_pseudo,
           count(*) AS n_distinct_users,
           count(DISTINCT u.pseud) AS n_distinct_pseudonyms
    FROM u
    LEFT JOIN customer c ON u.user_id = c.c_custkey
    LEFT JOIN (SELECT DISTINCT pseud FROM cp) cpk ON u.pseud = cpk.pseud
    """,
)
def anonymize_join_preservation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent pseudonymization audit: replace the user identifier
    with a salted sha256 surrogate in BOTH the fact stream and the
    dimension, and prove referential structure survives — every event
    that joined by raw key still joins by pseudonym, and the
    pseudonym space is collision-free on this domain (distinct users
    == distinct pseudonyms). This is the de-identification primitive
    a training-data pipeline applies before text extraction, and the
    audit IS the operator's correctness certificate.

    Scale shape: the ONLY corpus-sized stage is the per-user event
    count (map-side-combining); hashing, both probe joins, and the
    single count(DISTINCT) then run on the distinct-USER table, with
    the event counts weighting the join flags back to event totals.
    The first cut hashed and joined per EVENT row and put two
    count(DISTINCT)s in one aggregate (an Expand doubling the 10x
    scan) — 9.8 s vs ~1 s at 10x. sha256 hex matches bit-for-bit
    across engines, so every count is value-checked.
    """
    pseud = lambda col: F.sha2(  # noqa: E731
        F.concat(F.lit(_ANON_SALT), col.cast("string")), 256
    )
    uc = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("pseud", pseud(F.col("user_id")))
    )
    c = table(spark, sf_dir, "customer").select("c_custkey")
    cpk = c.select(pseud(F.col("c_custkey")).alias("c_pseud")).distinct()
    joined = uc.join(c, uc.user_id == c.c_custkey, "left").join(
        F.broadcast(cpk), uc.pseud == F.col("c_pseud"), "left"
    )
    return joined.agg(
        F.sum("cnt").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("c_custkey").isNotNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_joined_raw"),
        F.sum(F.when(F.col("c_pseud").isNotNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_joined_pseudo"),
        F.count(F.lit(1)).alias("n_distinct_users"),
        F.count_distinct(F.col("pseud")).alias("n_distinct_pseudonyms"),
    )


@register(
    "dataset_shuffle_audit",
    oracle="""
    WITH d AS (
        SELECT source,
               md5(CAST(doc_id AS VARCHAR)) || '-' || CAST(doc_id AS VARCHAR)
                   AS ord
        FROM documents
    ),
    w AS (
        SELECT source, ord,
               CASE WHEN lag(source) OVER (ORDER BY ord)
                         IS DISTINCT FROM source
                    THEN 1 ELSE 0 END AS is_start
        FROM d
    ),
    r AS (
        SELECT source,
               sum(is_start) OVER (ORDER BY ord ROWS UNBOUNDED PRECEDING)
                   AS run_id
        FROM w
    ),
    runs AS (
        SELECT run_id, min(source) AS source, count(*) AS run_len
        FROM r GROUP BY run_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(run_len) AS BIGINT) AS max_run_len,
           CAST(sum(run_len) AS BIGINT) AS n_docs
    FROM runs GROUP BY source
    """,
)
def dataset_shuffle_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shuffle quality audit: under the deterministic global
    shuffle order (md5 of the doc id — the order a shuffled shard
    writer would use), measure same-source RUN LENGTHS per source. A
    good shuffle shows runs of ~1-3; long runs mean a training shard
    would feed the model one source for many consecutive samples.

    The run structure is global, but nothing here sorts globally:
    SEGMENTED run detection — within-(md5-prefix)-shard lag() plus
    each shard's predecessor-shard last source from the
    metadata-scale shard grid — marks run STARTS exactly, and the
    global run id is the two-level distributed prefix sum of the
    start flags (operators/prefix_sum.py; shard prefixes are monotone
    in the order key by construction). The oracle restates the whole
    thing with one flat global window. All counts integer.
    """
    from ..operators.prefix_sum import sharded_cumsum

    d = table(spark, sf_dir, "documents").select(
        "source",
        F.concat(
            F.md5(F.col("doc_id").cast("string")),
            F.lit("-"),
            F.col("doc_id").cast("string"),
        ).alias("ord"),
    )
    g = d.withColumn("shard", F.substring("ord", 1, 2))
    ws = Window.partitionBy("shard").orderBy("ord")
    lasts = g.groupBy("shard").agg(F.max_by("source", "ord").alias("last_src"))
    grid = lasts.select(
        "shard",
        F.lag("last_src").over(Window.orderBy("shard")).alias("prev_last"),
    )
    flagged = (
        g.withColumn("in_prev", F.lag("source").over(ws))
        .join(F.broadcast(grid), "shard")
        .withColumn(
            "prev_source", F.coalesce(F.col("in_prev"), F.col("prev_last"))
        )
        .withColumn(
            "is_start",
            F.when(
                F.col("prev_source").isNull()
                | (F.col("prev_source") != F.col("source")),
                1,
            ).otherwise(0),
        )
        .select("source", "ord", "shard", "is_start")
    )
    runs = (
        sharded_cumsum(flagged, [], "ord", "is_start", F.col("shard"), cum_name="run_id")
        .groupBy("run_id")
        .agg(F.min("source").alias("source"), F.count(F.lit(1)).alias("run_len"))
    )
    return runs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
        F.max("run_len").cast("bigint").alias("max_run_len"),
        F.sum("run_len").cast("bigint").alias("n_docs"),
    )


# Weighted-interleave mix audit (r5): a training pipeline that mixes
# sources proportionally emits doc r of source s at virtual time
# r/n_s (weighted fair queueing). The audit chunks virtual time into
# INTERLEAVE_WINDOWS equal windows and reports every (window, source)
# cell's doc count against its exact proportional share — the check
# that a mixed stream feeds the trainer a steady source diet rather
# than front-loading one corpus. All arithmetic integer (scaled
# virtual time uses div), so the audit is bit-exact cross-engine.
INTERLEAVE_WINDOWS = 16
_VT_SCALE = 1_000_000_000


@register(
    "documents_interleave_audit",
    oracle=f"""
    WITH ranked AS (
        SELECT source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)) ||
                            lpad(CAST(doc_id AS VARCHAR), 20, '0')
               ) AS r,
               count(*) OVER (PARTITION BY source) AS n_source
        FROM documents
    ),
    cells AS (
        SELECT source, n_source,
               ((r * {_VT_SCALE} // n_source) - 1) * {INTERLEAVE_WINDOWS}
                   // {_VT_SCALE} AS window_id
        FROM ranked
    ),
    counts AS (
        SELECT window_id, source, count(*) AS n_docs
        FROM cells GROUP BY window_id, source
    ),
    srcs AS (SELECT source, count(*) AS n_source FROM documents GROUP BY source),
    grid AS (
        SELECT s.source, s.n_source, w.window_id
        FROM srcs s, (SELECT unnest(generate_series(0, {INTERLEAVE_WINDOWS - 1}))
                      AS window_id) w
    )
    SELECT CAST(g.window_id AS INTEGER) AS window_id, g.source,
           coalesce(c.n_docs, 0) AS n_docs,
           g.n_source,
           coalesce(c.n_docs, 0) * {INTERLEAVE_WINDOWS} - g.n_source
               AS dev_scaled
    FROM grid g LEFT JOIN counts c
      ON g.window_id = c.window_id AND g.source = c.source
    """,
)
def documents_interleave_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the proportional source interleave (see note above):
    per (virtual-time window, source), the doc count and its exact
    integer deviation from the proportional share
    (``n_docs·W − n_source``; 0 = perfectly even). The grid is DENSE —
    a source absent from a window is the worst violation and must
    appear as a row, so sources × windows is built metadata-side and
    left-joined with the counts.

    Scale shape: the per-source md5 rank does NOT use a per-source
    window (parallelism would cap at |sources| — the low-cardinality
    trap); it rides ``sharded_cumsum`` over 256 md5-prefix shards
    (rank = prior-shard offsets + in-shard row_number), then ONE
    map-side-combining aggregate to (window, source) cells. Virtual
    time is integer-scaled (r·1e9 div n_s), monotone within source,
    so the audit is the exact WFQ emission order's histogram."""
    from ..operators.prefix_sum import sharded_cumsum

    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    keyed = d.select(
        "source",
        F.concat(
            F.md5(F.col("doc_id").cast("string")),
            F.lpad(F.col("doc_id").cast("string"), 20, "0"),
        ).alias("k"),
        F.lit(1).alias("one"),
    )
    ranked = sharded_cumsum(
        keyed,
        ["source"],
        "k",
        "one",
        F.substring("k", 1, 2),
        cum_name="r",
        tot_name="n_source",
    )
    cells = ranked.select(
        "source",
        "n_source",
        F.expr(
            f"((r * {_VT_SCALE} div n_source) - 1) * {INTERLEAVE_WINDOWS}"
            f" div {_VT_SCALE}"
        ).alias("window_id"),
    )
    counts = cells.groupBy("window_id", "source").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    srcs = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_source"))
    grid = srcs.join(
        F.broadcast(
            spark.range(INTERLEAVE_WINDOWS).select(
                F.col("id").alias("window_id")
            )
        )
    )
    return (
        grid.join(F.broadcast(counts), ["window_id", "source"], "left")
        .select(
            F.col("window_id").cast("int").alias("window_id"),
            "source",
            F.coalesce(F.col("n_docs"), F.lit(0)).alias("n_docs"),
            "n_source",
            (
                F.coalesce(F.col("n_docs"), F.lit(0)) * INTERLEAVE_WINDOWS
                - F.col("n_source")
            ).alias("dev_scaled"),
        )
    )


# DSIR importance weights (Xie et al., "Data Selection for Language
# Models via Importance Resampling", NeurIPS 2023): score every raw
# document by how much more likely its hashed-feature bag is under a
# TARGET distribution than under the raw pool, then keep the
# target-like docs. Features are md5-hashed unigrams in DSIR_B
# buckets (the hashing trick bounds model size at any corpus scale);
# both "LMs" are Laplace-smoothed bucket frequencies. Exactness: the
# per-bucket log ratio ln((t+1)/(T+B)) − ln((r+1)/(R+B)) is computed
# from identical IEEE-divided doubles and rounded ONCE to a
# 1e-6-scaled BIGINT (the documents_source_classifier precedent), so
# every doc score is an exact integer sum; the selectable quantity is
# the PER-TOKEN score (truncating integer division, exact both
# engines) — absolute sums are length-biased, and smoothing a small
# target pushes every absolute score negative.
DSIR_B = 256
DSIR_SCALE = 1_000_000
DSIR_TARGET = "src0"


@register(
    "documents_dsir_weights",
    oracle=rf"""
    WITH tok AS (
        SELECT doc_id, source,
               unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS word
        FROM documents
    ),
    f AS MATERIALIZED (
        SELECT doc_id, source, {mh.md5_shingle_hash_sql('word')} % {DSIR_B} AS f
        FROM tok
    ),
    tgt AS (SELECT f, count(*) AS t FROM f WHERE source = '{DSIR_TARGET}' GROUP BY f),
    rawc AS (SELECT f, count(*) AS r FROM f GROUP BY f),
    tot AS (
        SELECT (SELECT count(*) FROM f WHERE source = '{DSIR_TARGET}') AS tt,
               (SELECT count(*) FROM f) AS rr
    ),
    lam AS (
        SELECT rawc.f,
               CAST(round((ln((coalesce(tgt.t, 0) + 1) / (tot.tt + {DSIR_B}))
                           - ln((rawc.r + 1) / (tot.rr + {DSIR_B})))
                          * {DSIR_SCALE}) AS BIGINT) AS lam
        FROM rawc LEFT JOIN tgt ON tgt.f = rawc.f, tot
    ),
    doc AS (
        SELECT f.doc_id, count(*) AS n_tokens,
               CAST(sum(lam.lam) AS BIGINT) AS score_fp
        FROM f JOIN lam ON lam.f = f.f GROUP BY f.doc_id
    )
    SELECT d.doc_id, d.source,
           coalesce(doc.n_tokens, 0) AS n_tokens,
           coalesce(doc.score_fp, 0) AS dsir_score_fp,
           -- per-token score: the cross-length-comparable quantity a
           -- threshold selects on (absolute sums are length-biased
           -- and, under Laplace smoothing of a small target, all
           -- negative). // truncates toward zero, matching Spark div
           coalesce(doc.score_fp // greatest(doc.n_tokens, 1), 0)
               AS score_per_token_fp
    FROM documents d LEFT JOIN doc ON doc.doc_id = d.doc_id
    """,
)
def documents_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance scores against the
    '{DSIR_TARGET}' target slice (see note above): hashed-unigram
    bucket counts for target and pool, one integer log-ratio per
    bucket, integer-sum doc scores, and the per-token score a
    resampling threshold selects on (measured separation at sf0.01:
    target docs average -129.6k per token vs the pool's -145.1k, and
    11/25 target docs land in the top-50 of 500 — 4.4x enrichment).

    Scale shape: token hashing is a codegen'd per-row expression
    (md5 + modular arithmetic — no lambdas); both frequency tables
    aggregate map-side to at most DSIR_B rows, so the model is
    metadata-scale and BROADCASTS into the scoring join; the corpus
    token stream shuffles exactly once, on doc_id, for the score
    sum. That is the whole DSIR pass a 100 TB curation run needs —
    the per-bucket model replaces the quadratic doc-to-target
    comparisons the operator class would otherwise imply."""
    d = wide_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    tok = d.select(
        "doc_id",
        "source",
        F.explode(tx.tokens(F.lower(F.col("text")))).alias("word"),
    )
    f = tok.select(
        "doc_id",
        "source",
        (mh.shingle_hash(F.col("word"), "md5") % DSIR_B).alias("f"),
    )
    # feeds target counts, pool counts AND the per-doc score join
    f.persist()
    tgt = (
        f.filter(F.col("source") == DSIR_TARGET)
        .groupBy("f")
        .agg(F.count(F.lit(1)).alias("t"))
    )
    rawc = f.groupBy("f").agg(F.count(F.lit(1)).alias("r"))
    tot = f.agg(
        F.sum((F.col("source") == DSIR_TARGET).cast("bigint")).alias("tt"),
        F.count(F.lit(1)).alias("rr"),
    )
    lam = (
        rawc.join(tgt, "f", "left")
        .join(F.broadcast(tot))
        .select(
            "f",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("t"), F.lit(0)) + 1)
                        / (F.col("tt") + DSIR_B)
                    )
                    - F.log((F.col("r") + 1) / (F.col("rr") + DSIR_B))
                )
                * DSIR_SCALE
            )
            .cast("bigint")
            .alias("lam"),
        )
    )
    doc = (
        f.select("doc_id", "f")
        .join(F.broadcast(lam), "f")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lam").cast("bigint").alias("score_fp"),
        )
    )
    return (
        d.select("doc_id", "source")
        .join(doc, "doc_id", "left")
        # per-token FIRST: a later expression referencing a name an
        # EARLIER select item aliased resolves to the alias (lateral
        # column resolution) — the divisor must see the RAW n_tokens,
        # not the coalesced output column
        .select(
            "doc_id",
            "source",
            F.coalesce(
                F.expr("score_fp div greatest(n_tokens, 1)"), F.lit(0)
            ).alias("score_per_token_fp"),
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("score_fp"), F.lit(0)).alias("dsir_score_fp"),
        )
        .select(
            "doc_id", "source", "n_tokens", "dsir_score_fp",
            "score_per_token_fp",
        )
    )


# Cluster-balanced sampling: k-means the embedding space, then keep
# at most CBS_QUOTA vectors PER CLUSTER by md5(vec_id) rank — the
# diversity-preserving subsampling step of embedding-driven curation
# (uniform sampling over-represents dense regions; per-cluster
# quotas flatten the density, the same motivation as SemDeDup's
# clustering and DataComp-style balanced pools). The quantizer is
# the engine's deterministic k-means, so the oracle restates the
# whole clustering (shared generator: similarity/knn.py::
# kmeans_unrolled_cte) and the md5 rank is the documents_source_quota
# idiom — every stage engine-identical.
CBS_NLIST = 8
CBS_ITERS = 2
CBS_QUOTA = 16


def _cbs_oracle() -> str:
    from ..similarity.knn import kmeans_unrolled_cte

    return (
        kmeans_unrolled_cte(CBS_NLIST, CBS_ITERS)
        + f"""
    SELECT vec_id, CAST(cid AS INT) AS cluster_id,
           CAST(rn AS INT) AS cluster_rank
    FROM (
        SELECT vec_id, cid,
               row_number() OVER (
                   PARTITION BY cid
                   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
               ) AS rn
        FROM af
    )
    WHERE rn <= {CBS_QUOTA}
    """
    )


@register("embeddings_cluster_balanced_sample", oracle=_cbs_oracle())
def embeddings_cluster_balanced_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keep at most {CBS_QUOTA} vectors per k-means cluster, chosen
    by md5(vec_id) rank (see note above) — deterministic,
    engine-portable, unbiased w.r.t. insertion order.

    Scale shape: clustering is the IVF machinery (broadcast
    centroids, argmin per row — the corpus never shuffles during
    assignment); the quota is ONE window keyed on cluster_id whose
    rank filter pushes down as WindowGroupLimit, so each map task
    forwards at most {CBS_QUOTA} rows per cluster before the
    exchange — at 100 TB the shuffle carries O(clusters × quota ×
    tasks), and nlist grows with the corpus to keep clusters
    balanced. Builder runs Lloyd checkpoints at plan time:
    BUILD_EXECUTES."""
    from pyspark.sql.window import Window as W

    from ..similarity.knn import assign_clusters, kmeans_centroids

    e = wide_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = kmeans_centroids(e, nlist=CBS_NLIST, iters=CBS_ITERS)
    assigned = assign_clusters(e, cents).select("vec_id", "cluster_id")
    w = W.partitionBy("cluster_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        assigned.select(
            "vec_id",
            F.col("cluster_id").cast("int").alias("cluster_id"),
            F.row_number().over(w).alias("cluster_rank"),
        )
        .filter(F.col("cluster_rank") <= CBS_QUOTA)
        .withColumn("cluster_rank", F.col("cluster_rank").cast("int"))
    )


# Temperature-based source mixing (the multilingual/multi-source
# sampling rule of mBERT/XLM-R/PaLM data pipelines): sample sources
# proportionally to n_s^(1/T) with temperature T=2, i.e. sqrt(n_s) —
# upweights small sources without letting the head dominate. α is
# PINNED to 1/2 because IEEE sqrt is correctly rounded (a general
# pow() is not, and would not be engine-exact). Cross-engine float
# exactness of the NORMALIZER: the total is a genuinely SEQUENTIAL
# left fold over the source-ordered sqrt list on BOTH sides — Spark
# aggregate() over a sorted collect_list, DuckDB list_reduce over
# list(sq ORDER BY source); each engine performs the identical
# addition sequence on identical doubles, so the total is bit-equal.
# (The r8 form used a cumulative WINDOW sum as the "order pin" —
# the r8 advisor measured that DuckDB evaluates cumulative frames
# via segment-tree combine order above ~32 rows, so that idiom is
# only exact for tiny partitions; the fold has no such bound, and
# the many-source adversarial corpus test in test_prefix_sum pins
# it.) NULL-source docs are excluded on both sides: "unattributed"
# is not a source, and a nullable fold/order key is on the
# never-do list (engines disagree on NULL ordering).
@register(
    "documents_temperature_mix",
    oracle="""
    WITH n AS (
        SELECT source, count(*) AS n_docs FROM documents
        WHERE source IS NOT NULL GROUP BY source
    ),
    c AS (
        SELECT source, n_docs,
               sqrt(CAST(n_docs AS DOUBLE)) AS sq
        FROM n
    ),
    t AS (
        SELECT list_reduce(list(sq ORDER BY source), (x, y) -> x + y)
                   AS total
        FROM c
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           round(sq / total, 9) AS weight,
           CAST(round(sq / total * 1000000) AS BIGINT) AS per_million
    FROM c, t
    """,
)
def documents_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights under temperature-2 mixing (see
    note above): weight_s = sqrt(n_s) / Σ sqrt(n), plus the
    per-million sampling quota a data loader consumes.

    Scale shape: one map-side-combining count per source, then
    everything is SOURCE-CARDINALITY-sized (the fold runs over a
    collected ~|sources|-element array — the one place driver-ish
    single-slot work is correct, because the data IS metadata by
    then); the tiny one-row total broadcasts back onto the
    per-source rows."""
    d = wide_table(spark, sf_dir, "documents")
    n = (
        d.filter(F.col("source").isNotNull())
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    c = n.select(
        "source",
        "n_docs",
        F.sqrt(F.col("n_docs").cast("double")).alias("sq"),
    )
    # sequential left fold over the source-ordered sqrt list;
    # 0.0 + x == x exactly for every positive double, so the
    # zero-start fold performs the same addition sequence as
    # DuckDB's first-element-start list_reduce
    tot = c.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("source", "sq"))),
                lambda s: s["sq"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("total")
    )
    return c.crossJoin(F.broadcast(tot)).select(
        "source",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.round(F.col("sq") / F.col("total"), 9).alias("weight"),
        F.round(F.col("sq") / F.col("total") * 1000000)
        .cast("bigint")
        .alias("per_million"),
    )


# Rendezvous (highest-random-weight) shard placement — the
# consistent-hashing layout a 100 TB corpus store actually wants:
# doc d lands on argmax_s md5(d '#' s), so ADDING a shard moves a
# doc iff the NEW shard's weight beats all old ones — every move
# lands on the new shard and the expected moved fraction is
# 1/(n+1), vs ~n/(n+1) under mod-n hashing. This query audits the
# 8-shard layout and the 8→9 scale-out in one pass and emits the
# minimality property AS DATA: n_moved_elsewhere is structurally 0
# (a move that lands on an OLD shard would falsify HRW). Weights
# compare as md5 hex strings (lexicographic, engine-identical); the
# single-digit shard id appended after the 32-char hex makes the
# argmax a plain string max with a deterministic (impossible in
# practice) tiebreak. Weights are per-(doc, shard) — 17 short md5s
# per row, no shuffle before the 8-group aggregate.
RDV_SHARDS = 8  # base layout; scale-out audits RDV_SHARDS + 1


def _rdv_winner_sql(n: int) -> str:
    return (
        "CAST(substring(list_max(list_transform(generate_series(0, "
        f"{n - 1}), s -> md5(CAST(doc_id AS VARCHAR) || '#' || "
        "CAST(s AS VARCHAR)) || CAST(s AS VARCHAR))), 33, 1) AS INT)"
    )


@register(
    "documents_shard_rendezvous",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, n_chars,
               {_rdv_winner_sql(RDV_SHARDS)} AS shard8,
               {_rdv_winner_sql(RDV_SHARDS + 1)} AS shard9
        FROM documents
    )
    SELECT shard8 AS shard,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS char_mass,
           CAST(sum(CASE WHEN shard9 = {RDV_SHARDS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved_to_new,
           CAST(sum(CASE WHEN shard9 <> shard8
                          AND shard9 <> {RDV_SHARDS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_moved_elsewhere
    FROM w GROUP BY shard8
    """,
)
def documents_shard_rendezvous(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard placement audit (see note above): per
    base shard, the doc count and char mass it holds, how many of
    its docs the 8→9 scale-out hands to the NEW shard, and the
    structurally-zero count of moves to any OLD shard.

    Scale shape: one corpus scan computing two per-row string maxes
    over fixed 8/9-element arrays (no explode, no join), then one
    map-side-combining 8-group integer aggregate. Placement lookups
    at serving time are O(shards) per key with no coordination —
    the property that makes HRW the layout of choice for elastic
    shard pools."""

    def winner(n: int) -> F.Column:
        return F.substring(
            F.array_max(
                F.transform(
                    F.sequence(F.lit(0), F.lit(n - 1)),
                    lambda s: F.concat(
                        F.md5(
                            F.concat_ws(
                                "#",
                                F.col("doc_id").cast("string"),
                                s.cast("string"),
                            )
                        ),
                        s.cast("string"),
                    ),
                )
            ),
            33,
            1,
        ).cast("int")

    d = table(spark, sf_dir, "documents")
    w = d.select(
        "n_chars",
        winner(RDV_SHARDS).alias("shard8"),
        winner(RDV_SHARDS + 1).alias("shard9"),
    )
    return w.groupBy(F.col("shard8").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("char_mass"),
        F.sum(
            F.when(F.col("shard9") == RDV_SHARDS, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_moved_to_new"),
        F.sum(
            F.when(
                (F.col("shard9") != F.col("shard8"))
                & (F.col("shard9") != RDV_SHARDS),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_moved_elsewhere"),
    )


# Range-shard layout planning — the exact form of what Spark's
# RangePartitioner / repartitionByRange(...).sortWithinPartitions
# approximates by sampling: split the corpus into N equal-mass shards
# ordered by (n_chars, doc_id) and report each shard's key range —
# the boundaries a sorted-layout writer (length-bucketed training
# shards, z-order-adjacent file layout) would cut at. The global rank
# is computed WITHOUT a global sort: the two-level sharded prefix sum
# (operators/prefix_sum.py) over the composite key
# n_chars·2^40 + doc_id, sharded by the metadata-scale n_chars value
# itself — parallelism grows with the data while the offset table
# stays |distinct n_chars|-sized. Shard id = (rank−1)·N div n — both
# engines truncate non-negative integer division identically (the
# exact ntile-law variant with extras spread by rank, not bunched).
N_RANGE_SHARDS = 16


@register(
    "documents_range_shard_plan",
    oracle=f"""
    WITH r AS (
        SELECT n_chars,
               row_number() OVER (ORDER BY n_chars, doc_id) AS rnk,
               count(*) OVER () AS n
        FROM documents
    )
    SELECT CAST((rnk - 1) * {N_RANGE_SHARDS} // n AS INT) AS shard,
           count(*) AS n_docs,
           min(n_chars) AS lo_chars,
           max(n_chars) AS hi_chars,
           CAST(sum(n_chars) AS BIGINT) AS char_mass
    FROM r GROUP BY 1
    """,
)
def documents_range_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-mass range-shard plan over (n_chars, doc_id) (see note
    above): per shard, the doc count, the key range [lo_chars,
    hi_chars] it spans, and its char mass.

    Scale shape: one scan + the two-level sharded prefix sum (no
    global single-task sort anywhere); the final aggregate is
    N-shard-sized. The oracle restates the identical rank with a
    flat global window — fine for the oracle, not for the engine."""
    from ..operators.prefix_sum import sharded_cumsum

    # DECIMAL(38,0) composite key: a BIGINT n_chars·2^40 + doc_id
    # overflows for any document over ~8.4M chars (legal in a
    # pretraining corpus) and would ANSI-raise — decimal keeps the
    # same ordering with ~1e38 headroom (r9 review catch)
    d = table(spark, sf_dir, "documents").select(
        "n_chars",
        (
            F.col("n_chars").cast("decimal(38,0)") * F.lit(1 << 40)
            + F.col("doc_id")
        ).alias("key"),
        F.lit(1).alias("one"),
    )
    r = sharded_cumsum(d, [], "key", "one", shard=F.col("n_chars"))
    return (
        r.select(
            "n_chars",
            F.expr(
                f"CAST((cum - 1) * {N_RANGE_SHARDS} div tot AS INT)"
            ).alias("shard"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("lo_chars"),
            F.max("n_chars").alias("hi_chars"),
            F.sum("n_chars").cast("bigint").alias("char_mass"),
        )
    )
