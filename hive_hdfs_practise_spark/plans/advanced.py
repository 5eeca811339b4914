"""Advanced operator plans: as-of join, TF-IDF, CUBE grouping —
operator classes beyond the reference's surface that a complete
engine (and a training-data pipeline) needs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as tx
from ..functions import vectors as vec
from ..operators.graph import trade_pairs, undirected
from ..sources.catalog import table, wide_table
from .registry import register


@register(
    "events_asof_join",
    oracle="""
    WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS side,
               CASE WHEN event_type = 'click' THEN value END AS cv,
               CASE WHEN event_type = 'click' THEN CAST(ts AS TIMESTAMP) END AS cts
        FROM events
        WHERE event_type IN ('error', 'click')
    ), carried AS (
        SELECT user_id, event_id, ts, side,
               last_value(cv IGNORE NULLS) OVER w AS click_value_asof,
               last_value(cts IGNORE NULLS) OVER w AS click_ts_asof
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, side, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id, ts,
           round(click_value_asof, 2) AS click_value_asof,
           click_ts_asof
    FROM carried WHERE side = 1
    """,
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (merge_asof semantics): each error event joined to
    the user's most recent click at or before it.

    Implemented via the union + carry-forward window (see
    ``operators/asof.py`` for the generic operator and the
    scale rationale: one co-partitioned shuffle, zero row
    amplification, vs the |L|×|R| blow-up of an inequality join).
    Deterministic ordering: (ts, side, event_id) is unique per user.
    """
    e = table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("error", "click")
    )
    ev = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("side"),
        F.when(F.col("event_type") == "click", F.col("value")).alias("cv"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("cts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.select(
        "user_id",
        "event_id",
        "ts",
        "side",
        F.last("cv", ignorenulls=True).over(w).alias("click_value_asof"),
        F.last("cts", ignorenulls=True).over(w).alias("click_ts_asof"),
    )
    return carried.filter(F.col("side") == 1).select(
        "user_id",
        "event_id",
        "ts",
        F.round("click_value_asof", 2).alias("click_value_asof"),
        "click_ts_asof",
    )


@register(
    "text_tfidf_topk",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, t.word AS word
        FROM documents, unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS t(word)
    ), tf AS (
        SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word
    ), df AS (
        SELECT word, count(*) AS dfreq FROM tf GROUP BY word
    ), n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, word,
           round(tf * ln(CAST(n_docs AS DOUBLE) / dfreq), 6) AS tfidf
    FROM (
        SELECT tf.doc_id, tf.word, tf.tf, df.dfreq, n.n_docs,
               row_number() OVER (ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.dfreq) DESC,
                                  tf.doc_id, tf.word) AS rn
        FROM tf JOIN df USING (word), n
    )
    WHERE rn <= 20
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF over the corpus, global top-20 (doc, word) scores.

    Shuffle shape at scale: explode → (doc,word) partial-agg (tf) →
    word-agg (df) joined back onto tf on ``word`` → top-k
    (TakeOrdered, no global sort). No forced broadcast on df: the
    vocabulary grows with the corpus (Heaps' law — ~1e8 distinct
    tokens at 100 TB), so the hint is left to Catalyst/AQE, which
    broadcasts below the size threshold (true at every test SF) and
    falls back to a shuffle join on ``word`` — the same key df was
    just aggregated on, so only the tf side reshuffles."""
    d = wide_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tx.tokens(F.lower(F.col("text")))).alias("word"))
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("dfreq"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "word")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf_raw",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("dfreq")),
        )
    )
    return (
        scored.orderBy(F.desc("tfidf_raw"), F.asc("doc_id"), F.asc("word"))
        .limit(20)
        .select("doc_id", "word", F.round("tfidf_raw", 6).alias("tfidf"))
    )


# BM25 retrieval (Robertson et al., TREC-3; the Lucene +1 idf form
# so scores are always positive): top-10 documents per query for a
# fixed query set over the corpus vocabulary. Exactness: with
# k1 = 6/5 and b = 3/4 the per-term score is
#   ln((2N+2)/(2df+1)) · 44·tf·T / (20·tf·T + 6·T + 18·dl·N)
# (T = corpus token count, N = doc count, dl = doc length) — the log
# argument and the tf factor are both EXACT int64 ratios, so each
# per-(doc, term) score is the same two IEEE double ops on identical
# inputs in both engines; it is rounded ONCE to a 1e-6 BIGINT (the
# classifier/DSIR/KN micro-log pattern) and per-(query, doc) scores
# are exact integer sums, giving an engine-identical integer rank.
BM25_QUERIES = [
    (1, "hash"),
    (1, "join"),
    (2, "window"),
    (2, "stream"),
    (2, "sort"),
    (3, "customer"),
    (3, "scan"),
]
BM25_TOP = 10
BM25_SCALE = 1_000_000


def _bm25_sc_ctes() -> str:
    """CTE chain ending at ``sc(qid, doc_id, score_micro)`` — shared
    by the BM25 oracle and the RRF fusion oracle so the two scorers
    cannot drift."""
    vals = ", ".join(f"({qid}, '{w}')" for qid, w in BM25_QUERIES)
    return rf"""q AS (SELECT * FROM (VALUES {vals}) AS t(qid, word)),
    toks AS MATERIALIZED (
        SELECT doc_id, t.word AS word
        FROM documents,
             unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS t(word)
    ),
    tf AS MATERIALIZED (
        SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY doc_id, word
    ),
    df AS MATERIALIZED (SELECT word, count(*) AS dfreq FROM tf GROUP BY word),
    dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
    stats AS (
        SELECT (SELECT count(*) FROM documents) AS n,
               (SELECT count(*) FROM toks) AS t
    ),
    term AS MATERIALIZED (
        SELECT q.qid, tf.doc_id, tf.word, tf.tf, df.dfreq, s.n, s.t,
               dl.dl,
               CAST(round(
                   ln((2 * s.n + 2) / CAST(2 * df.dfreq + 1 AS DOUBLE))
                   * (CAST(44 * tf.tf * s.t AS DOUBLE)
                      / (20 * tf.tf * s.t + 6 * s.t + 18 * dl.dl * s.n))
                   * {BM25_SCALE}
               ) AS BIGINT) AS tm
        FROM q
        JOIN tf USING (word)
        JOIN df USING (word)
        JOIN dl ON dl.doc_id = tf.doc_id, stats s
    ),
    sc AS MATERIALIZED (
        SELECT qid, doc_id, CAST(sum(tm) AS BIGINT) AS score_micro
        FROM term GROUP BY qid, doc_id
    )"""


def _bm25_oracle() -> str:
    return f"""
    WITH {_bm25_sc_ctes()}
    SELECT qid, doc_id, CAST(rn AS INT) AS rank, score_micro,
           round(CAST(score_micro AS DOUBLE) / {BM25_SCALE}, 6) AS bm25
    FROM (
        SELECT *,
               row_number() OVER (
                   PARTITION BY qid ORDER BY score_micro DESC, doc_id
               ) AS rn
        FROM sc
    )
    WHERE rn <= {BM25_TOP}
    """


def _bm25_term_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(query, doc, term) table carrying the BM25 micro score
    ``tm`` plus the raw statistics (tf, dfreq, n) — the Spark twin of
    the oracle's ``term`` CTE, shared by documents_bm25_topk and
    documents_rrf_fusion.

    Scale shape: the query table is a literal broadcast; tf/df/dl
    are the tfidf family's aggregates (map-side combining; the tf→q
    join keeps only query-term postings, so everything after the
    first aggregate is query-sized, not corpus-sized); dl and T
    derive from tf — a direct toks aggregate would re-tokenize and
    re-explode the full corpus twice more (round-7 review catch);
    tf itself feeds four consumers, so persist() (compressed
    columnar — the big-reused-intermediate rule) keeps the one
    tokenize+explode+aggregate pass from replaying per consumer.
    bench/check_oracle clearCache between runs/queries."""
    d = wide_table(spark, sf_dir, "documents")
    spark_q = spark.createDataFrame(BM25_QUERIES, "qid int, word string")
    toks = d.select(
        "doc_id", F.explode(tx.tokens(F.lower(F.col("text")))).alias("word")
    )
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    tf.persist()
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("dfreq"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = d.agg(F.count(F.lit(1)).alias("n")).crossJoin(
        tf.agg(F.sum("tf").alias("t"))
    )
    idf = F.log(
        (2 * F.col("n") + 2) / (2 * F.col("dfreq") + 1).cast("double")
    )
    quot = (44 * F.col("tf") * F.col("t")).cast("double") / (
        20 * F.col("tf") * F.col("t") + 6 * F.col("t") + 18 * F.col("dl") * F.col("n")
    )
    return (
        tf.join(F.broadcast(spark_q), "word")
        .join(dfreq, "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            "doc_id",
            "word",
            "tf",
            "dfreq",
            "n",
            F.round(idf * quot * F.lit(float(BM25_SCALE)))
            .cast("bigint")
            .alias("tm"),
        )
    )


@register("documents_bm25_topk", oracle=_bm25_oracle())
def documents_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BM25_TOP} documents per query by BM25 (see the exactness
    note above) — the retrieval scorer next to ``text_tfidf_topk``,
    integer-ranked; plan shape in ``_bm25_term_df``. The per-query
    top-{BM25_TOP} is a WindowGroupLimit rank, never a global
    sort."""
    term = _bm25_term_df(spark, sf_dir)
    sc = term.groupBy("qid", "doc_id").agg(F.sum("tm").alias("score_micro"))
    w = Window.partitionBy("qid").orderBy(F.desc("score_micro"), "doc_id")
    return (
        sc.select(
            "qid", "doc_id", F.row_number().over(w).alias("rank"), "score_micro"
        )
        .where(F.col("rank") <= BM25_TOP)
        .select(
            "qid",
            "doc_id",
            F.col("rank").cast("int").alias("rank"),
            "score_micro",
            F.round(
                F.col("score_micro").cast("double") / BM25_SCALE, 6
            ).alias("bm25"),
        )
    )


# Reciprocal-rank fusion (Cormack et al., SIGIR'09 — the standard
# hybrid-search combiner): fuse the BM25 ranking with a TF-IDF
# ranking of the same query-term match set. RRF(d) = Σ_r 1/(K + r_d)
# with K = 60; with exactly two rankings the score is the RATIONAL
#   (2K + ra + rb) / ((K + ra)(K + rb))
# whose ordering is computed as an exact ×1e12 fixed-point integer
# quotient (the LP_SCALE idiom — both engines truncate integer
# division identically; residual fixed-point ties — e.g. the
# symmetric (ra,rb)/(rb,ra) pairs, which tie in EXACT arithmetic
# too — break on doc_id). Both input rankings are integer-exact
# (micro scores, doc_id tiebreaks), so the fused rank is
# engine-identical end to end.
RRF_K = 60
RRF_TOP = 10
# Fixed-point scale. RESOLUTION BOUND (advice r7): two DISTINCT
# two-list RRF rationals a/b, c/d (b, d = (K+ra)(K+rb) products)
# differ by ≥ 1/(b·d), so the ×FP integer quotient separates them
# only while b·d ≤ FP, i.e. (K+n)^4 ≤ 1e12 → per-query match sets
# n ≲ 940 docs. Beyond that, distinct true scores can tie in fp and
# the order falls to the doc_id tiebreak — still ENGINE-IDENTICAL
# (both sides compute the same fp), so the oracle stays green at any
# n; only the "exact rational rank" claim is corpus-size-gated, as
# is TestRrfFusion's Fraction-order assertion. Deliberately NOT
# raised to 1e15: that buys exactness to n≈5.5k but the numerator
# (2K+ra+rb)·FP then overflows int64 at ranks ≳4.5k, turning a
# silent-but-consistent tie into an ANSI-mode crash — the wrong
# trade at scale.
_RRF_FP = 1_000_000_000_000


def _rrf_oracle() -> str:
    return f"""
    WITH {_bm25_sc_ctes()},
    tsc AS MATERIALIZED (
        SELECT qid, doc_id,
               CAST(sum(CAST(round(tf * ln(CAST(n AS DOUBLE) / dfreq)
                                   * {BM25_SCALE}) AS BIGINT)) AS BIGINT)
                   AS tscore
        FROM term GROUP BY qid, doc_id
    ),
    ra AS (
        SELECT qid, doc_id,
               row_number() OVER (
                   PARTITION BY qid ORDER BY score_micro DESC, doc_id
               ) AS ra
        FROM sc
    ),
    rb AS (
        SELECT qid, doc_id,
               row_number() OVER (
                   PARTITION BY qid ORDER BY tscore DESC, doc_id
               ) AS rb
        FROM tsc
    ),
    fused AS (
        SELECT ra.qid, ra.doc_id, ra.ra, rb.rb,
               ({2 * RRF_K} + ra.ra + rb.rb) * {_RRF_FP}
                   // (({RRF_K} + ra.ra) * ({RRF_K} + rb.rb)) AS fp
        FROM ra JOIN rb ON rb.qid = ra.qid AND rb.doc_id = ra.doc_id
    )
    SELECT qid, doc_id, CAST(rn AS INT) AS rank,
           CAST(ra AS INT) AS bm25_rank, CAST(rb AS INT) AS tfidf_rank,
           round(CAST(1 AS DOUBLE) / ({RRF_K} + ra)
                 + CAST(1 AS DOUBLE) / ({RRF_K} + rb), 9) AS rrf
    FROM (
        SELECT *,
               row_number() OVER (
                   PARTITION BY qid ORDER BY fp DESC, doc_id
               ) AS rn
        FROM fused
    )
    WHERE rn <= {RRF_TOP}
    """


@register("documents_rrf_fusion", oracle=_rrf_oracle())
def documents_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{RRF_TOP} documents per query by reciprocal-rank fusion of
    the BM25 and TF-IDF rankings (see the exact-rational note above).

    Scale shape: both scorers ride the shared ``_bm25_term_df``
    postings (query-sized after the tf→q join; the persisted tf
    aggregate is the one corpus pass); the two rankings are per-query
    WindowGroupLimit-style row_numbers over query-sized score
    tables; fusion is an equi-join on (qid, doc_id) of two
    doc-per-query tables and one more windowed rank — nothing here
    grows with the corpus beyond the shared tf pass."""
    term = _bm25_term_df(spark, sf_dir)
    sc = term.groupBy("qid", "doc_id").agg(F.sum("tm").alias("score_micro"))
    tmicro = F.round(
        F.col("tf") * F.log(F.col("n").cast("double") / F.col("dfreq"))
        * F.lit(float(BM25_SCALE))
    ).cast("bigint")
    tsc = (
        term.select("qid", "doc_id", tmicro.alias("ttm"))
        .groupBy("qid", "doc_id")
        .agg(F.sum("ttm").alias("tscore"))
    )
    wa = Window.partitionBy("qid").orderBy(F.desc("score_micro"), "doc_id")
    wb = Window.partitionBy("qid").orderBy(F.desc("tscore"), "doc_id")
    ra = sc.select("qid", "doc_id", F.row_number().over(wa).alias("ra"))
    rb = tsc.select("qid", "doc_id", F.row_number().over(wb).alias("rb"))
    fused = ra.join(rb, ["qid", "doc_id"]).select(
        "qid",
        "doc_id",
        "ra",
        "rb",
        F.expr(
            f"({2 * RRF_K} + ra + rb) * {_RRF_FP} "
            f"div (({RRF_K} + ra) * ({RRF_K} + rb))"
        ).alias("fp"),
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("fp"), "doc_id")
    return (
        fused.select(
            "qid", "doc_id", F.row_number().over(wf).alias("rn"), "ra", "rb"
        )
        .where(F.col("rn") <= RRF_TOP)
        .select(
            "qid",
            "doc_id",
            F.col("rn").cast("int").alias("rank"),
            F.col("ra").cast("int").alias("bm25_rank"),
            F.col("rb").cast("int").alias("tfidf_rank"),
            F.round(
                F.lit(1.0) / (RRF_K + F.col("ra"))
                + F.lit(1.0) / (RRF_K + F.col("rb")),
                9,
            ).alias("rrf"),
        )
    )


# Dense+sparse HYBRID retrieval (r8, verdict item 3 — the production
# hybrid-search shape): fuse the BM25 (sparse/lexical) ranking with a
# DENSE ranking — cosine of each doc's embedding against a per-query
# vector — via the same exact-rational RRF rank. Query vectors are
# stand-ins drawn from the embeddings table itself (HYB_QVEC, one
# fixed vec_id per qid, excluded from its own candidate list — the
# knn_brute idiom); doc_id == vec_id is the corpus convention (full
# at the sf0.01 gate; docs without vectors simply never enter the
# dense list, which the fusion handles as single-list docs). Unlike
# documents_rrf_fusion's same-match-set lists, the two lists here
# genuinely DIFFER, so the fusion is a FULL OUTER join of the two
# top-HYB_LIST lists with single-list scores FP div (K + r) — still
# one exact integer per doc, engine-identical (same _RRF_FP
# resolution bound as above). Dense ranks order by the 6dp-ROUNDED
# zero-norm-guarded cosine (the knn_ivf ordering idiom; the guard is
# restated in SQL so a degenerate vector yields 0.0, never NaN).
# Missing ranks surface as 0 sentinels (a NULL int column would
# materialize as float64 in the driver's pandas canon).
HYB_QVEC = [(1, 11), (2, 22), (3, 33)]
HYB_LIST = 20


def _hybrid_rrf_oracle() -> str:
    vals = ", ".join(f"({qid}, {v})" for qid, v in HYB_QVEC)
    return f"""
    WITH {_bm25_sc_ctes()},
    ra0 AS (
        SELECT qid, doc_id,
               row_number() OVER (
                   PARTITION BY qid ORDER BY score_micro DESC, doc_id
               ) AS ra
        FROM sc
    ),
    ral AS (SELECT * FROM ra0 WHERE ra <= {HYB_LIST}),
    qv AS (
        SELECT v.qid, v.qvec, CAST(e.embedding AS DOUBLE[]) AS qv
        FROM (VALUES {vals}) AS v(qid, qvec)
        JOIN embeddings e ON e.vec_id = v.qvec
    ),
    rb0 AS (
        SELECT q.qid, e.vec_id AS doc_id,
               row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY {vec.cosine6_sql("CAST(e.embedding AS DOUBLE[])", "q.qv")}
                       DESC, e.vec_id
               ) AS rb
        FROM embeddings e, qv q
        WHERE e.vec_id <> q.qvec
    ),
    rbl AS (SELECT * FROM rb0 WHERE rb <= {HYB_LIST}),
    fused AS (
        SELECT coalesce(a.qid, b.qid) AS qid,
               coalesce(a.doc_id, b.doc_id) AS doc_id,
               coalesce(a.ra, 0) AS ra, coalesce(b.rb, 0) AS rb,
               CASE
                 WHEN a.ra IS NOT NULL AND b.rb IS NOT NULL THEN
                   ({2 * RRF_K} + a.ra + b.rb) * {_RRF_FP}
                       // (({RRF_K} + a.ra) * ({RRF_K} + b.rb))
                 WHEN a.ra IS NOT NULL THEN {_RRF_FP} // ({RRF_K} + a.ra)
                 ELSE {_RRF_FP} // ({RRF_K} + b.rb)
               END AS fp
        FROM ral a FULL JOIN rbl b
          ON b.qid = a.qid AND b.doc_id = a.doc_id
    )
    SELECT qid, doc_id, CAST(rn AS INT) AS rank,
           CAST(ra AS INT) AS bm25_rank, CAST(rb AS INT) AS dense_rank,
           round(CASE WHEN ra > 0
                      THEN CAST(1 AS DOUBLE) / ({RRF_K} + ra) ELSE 0 END
                 + CASE WHEN rb > 0
                        THEN CAST(1 AS DOUBLE) / ({RRF_K} + rb) ELSE 0 END,
                 9) AS rrf
    FROM (
        SELECT *,
               row_number() OVER (
                   PARTITION BY qid ORDER BY fp DESC, doc_id
               ) AS rn
        FROM fused
    )
    WHERE rn <= {RRF_TOP}
    """


@register("documents_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def documents_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{RRF_TOP} documents per query fusing the BM25 lexical
    ranking with a dense embedding-cosine ranking via RRF (see the
    hybrid note above).

    Scale shape: the sparse side rides the shared persisted-tf
    postings (query-sized after the tf→q join); the dense side is a
    broadcast of |HYB_QVEC| query vectors against one embeddings
    scan (the scoped-ANN verify shape — at 100 TB the shortlist
    would come from the IVF/PQ probes in plans/similarity.py, and
    this exact scan is their re-rank stage); both rankings are
    per-query WindowGroupLimit row_numbers; the fusion joins two
    ≤HYB_LIST-per-query lists — metadata-sized."""
    term = _bm25_term_df(spark, sf_dir)
    sc = term.groupBy("qid", "doc_id").agg(F.sum("tm").alias("score_micro"))
    wa = Window.partitionBy("qid").orderBy(F.desc("score_micro"), "doc_id")
    ral = (
        sc.select("qid", "doc_id", F.row_number().over(wa).alias("ra"))
        .where(F.col("ra") <= HYB_LIST)
    )

    e = wide_table(spark, sf_dir, "embeddings")
    qvec = spark.createDataFrame(HYB_QVEC, "qid int, qvec bigint")
    qv = (
        qvec.join(e, qvec.qvec == e.vec_id)
        .select("qid", "qvec", vec.as_double(F.col("embedding")).alias("qv"))
    )
    # rank on the 6dp-ROUNDED guarded cosine (r8 review: the sibling
    # knn oracles' idiom; vec.cosine's zero-norm→0.0 guard is
    # restated in the oracle so a degenerate vector cannot inject a
    # NaN ordering divergence)
    wb = Window.partitionBy("qid").orderBy(F.desc("cos"), "doc_id")
    rbl = (
        e.join(F.broadcast(qv), e.vec_id != qv.qvec)
        .select(
            "qid",
            F.col("vec_id").alias("doc_id"),
            vec.cosine6(vec.as_double(F.col("embedding")), F.col("qv")).alias("cos"),
        )
        .select("qid", "doc_id", F.row_number().over(wb).alias("rb"))
        .where(F.col("rb") <= HYB_LIST)
    )

    fused = (
        ral.withColumnsRenamed({"qid": "aqid", "doc_id": "adoc"})
        .join(
            rbl.withColumnsRenamed({"qid": "bqid", "doc_id": "bdoc"}),
            (F.col("bqid") == F.col("aqid")) & (F.col("bdoc") == F.col("adoc")),
            "full_outer",
        )
        .select(
            F.coalesce("aqid", "bqid").alias("qid"),
            F.coalesce("adoc", "bdoc").alias("doc_id"),
            # fp computed FIRST from the raw nullable ranks — aliasing
            # the coalesced ranks to "ra"/"rb" before this expression
            # would lateral-shadow the NULL test (the
            # embeddings_quantize_int8 class of bug)
            F.expr(
                f"CASE WHEN ra IS NOT NULL AND rb IS NOT NULL THEN"
                f" ({2 * RRF_K} + ra + rb) * {_RRF_FP}"
                f" div (({RRF_K} + ra) * ({RRF_K} + rb))"
                f" WHEN ra IS NOT NULL THEN {_RRF_FP} div ({RRF_K} + ra)"
                f" ELSE {_RRF_FP} div ({RRF_K} + rb) END"
            ).alias("fp"),
            F.coalesce("ra", F.lit(0)).alias("ra"),
            F.coalesce("rb", F.lit(0)).alias("rb"),
        )
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("fp"), "doc_id")
    return (
        fused.select(
            "qid", "doc_id", F.row_number().over(wf).alias("rn"), "ra", "rb"
        )
        .where(F.col("rn") <= RRF_TOP)
        .select(
            "qid",
            "doc_id",
            F.col("rn").cast("int").alias("rank"),
            F.col("ra").cast("int").alias("bm25_rank"),
            F.col("rb").cast("int").alias("dense_rank"),
            F.round(
                F.when(
                    F.col("ra") > 0, F.lit(1.0) / (RRF_K + F.col("ra"))
                ).otherwise(F.lit(0.0))
                + F.when(
                    F.col("rb") > 0, F.lit(1.0) / (RRF_K + F.col("rb"))
                ).otherwise(F.lit(0.0)),
                9,
            ).alias("rrf"),
        )
    )


@register(
    "sales_cube",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           o_orderstatus,
           round(sum(o_totalprice), 2) AS total_sales,
           count(*) AS n_orders
    FROM orders
    GROUP BY CUBE (1, 2)
    """,
)
def sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (year, status): all four grouping sets in one
    shuffle — the §2.4 'grouping sets' surface (ABSENT in the
    reference, engine-complete here)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").alias("o_year"),
            "o_orderstatus",
            "o_totalprice",
        )
        .cube("o_year", "o_orderstatus")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_sales"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "sales_grouping_sets",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
           o_orderstatus,
           round(sum(o_totalprice), 2) AS total_sales,
           count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((1), (2))
    """,
)
def sales_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the asymmetric case cube/rollup
    can't express (per-year totals AND per-status totals, no
    cross product, no grand total) in ONE Expand+aggregate pass
    instead of a union of two scans."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            "o_orderstatus",
            "o_totalprice",
        )
        .groupingSets([["o_year"], ["o_orderstatus"]], "o_year", "o_orderstatus")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_sales"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# PageRank over the customer↔supplier trade graph — the link-analysis
# operator class (influence scoring over a relationship graph). The
# iteration runs in FIXED-POINT INTEGER arithmetic: ranks are scaled
# by PR_SCALE and every step is integer (floor-division by degree,
# integer damping 17/20, integer teleport term), so partial sums
# merge bit-exactly under ANY partitioning/aggregation order — the
# property float ranks cannot give cross-engine (or even cross-run on
# a cluster), which is what lets the whole power iteration be
# value-checked against the unrolled SQL restatement instead of
# rows-only. Precision: one unit = 1e-9 of an initial rank; overflow
# headroom: a node of in-degree d carries ≤ d·PR_SCALE before the
# ×17, so the BIGINT path is safe up to ~5e8 neighbors of max rank.
PR_SCALE = 1_000_000_000
PR_JUMP = 150_000_000  # 0.15 × PR_SCALE
PR_ROUNDS = 3


def _pagerank_oracle() -> str:
    parts = [
        """
    WITH e0 AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
    ed AS (SELECT e.src, e.dst, d.deg FROM e JOIN deg d ON e.src = d.src),
    r0 AS (SELECT src AS node, CAST({scale} AS BIGINT) AS pr FROM deg)""".format(
            scale=PR_SCALE
        )
    ]
    for k in range(1, PR_ROUNDS + 1):
        parts.append(
            f"""r{k} AS (
        SELECT ed.dst AS node,
               CAST({PR_JUMP} + (17 * sum(r.pr // ed.deg)) // 20
                    AS BIGINT) AS pr
        FROM ed JOIN r{k - 1} r ON ed.src = r.node
        GROUP BY ed.dst
    )"""
        )
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT CASE WHEN r.node % 2 = 0 THEN 'c' || CAST(r.node // 2 AS VARCHAR)
                ELSE 's' || CAST(r.node // 2 AS VARCHAR) END AS node,
           r.pr, d.deg AS degree
    FROM r{PR_ROUNDS} r JOIN deg d ON r.node = d.src
    """
    )


@register("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR_ROUNDS power-iteration rounds of fixed-point PageRank over
    the undirected customer↔supplier graph (edge = the pair traded at
    least once; see integer-arithmetic note above).

    Scale shape: the only corpus-sized stage is the one distinct-pair
    aggregate that builds the edge list (map-side partial distinct on
    (custkey, suppkey) — the shuffle carries pairs, not lineitems).
    The edge+degree table is localCheckpointed once and reused by
    every round (without it each round re-scans lineitem); each round
    is then one hash join (edges ⋈ ranks, both sides keyed on the
    node id) plus one integer-sum aggregate whose map-side partials
    are exact. Rank state is one row per node — never driver-side.
    Undirected edges mean no dangling nodes, so total mass stays
    bounded without a global renormalization step (which would need a
    cross-partition scalar every round)."""
    # Shared build (operators/graph.py): integer node ids
    # (2·custkey / 2·suppkey+1) through the whole iteration; the
    # readable label is built only on the final |nodes|-row
    # projection. Strings here cost real time: the concat'd-key
    # version shuffled 600k string pairs through the distinct +
    # checkpoint (with the pairs checkpoint, the three fixes
    # together measured 9.5 s → 3.9 s at sf0.1).
    e = undirected(trade_pairs(spark, sf_dir))
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src").localCheckpoint(eager=True)
    ranks = deg.select(F.col("src").alias("node"), F.lit(PR_SCALE).cast("bigint").alias("pr"))
    for _ in range(PR_ROUNDS):
        contrib = ed.join(ranks, ed["src"] == ranks["node"]).select(
            F.col("dst"), F.expr("pr div deg").alias("c")
        )
        # checkpoint each round's rank state (|nodes| rows): the rank
        # side broadcasts into the next round's join, and a broadcast
        # EXECUTES its subplan — without the checkpoint round k's
        # broadcast re-runs rounds 1..k-1
        ranks = contrib.groupBy(F.col("dst").alias("node")).agg(
            (F.lit(PR_JUMP) + F.expr("(17 * sum(c)) div 20")).alias("pr")
        ).localCheckpoint(eager=True)
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c"), F.expr("node div 2").cast("string")),
    ).otherwise(F.concat(F.lit("s"), F.expr("node div 2").cast("string")))
    return ranks.join(
        deg.select(F.col("src").alias("node"), F.col("deg").alias("degree")), "node"
    ).select(label.alias("node"), "pr", "degree")


# Record linkage / fuzzy join: near-identical entity names matched
# under an edit-distance threshold with blocking. The join runs over
# the DISTINCT-name dictionary (the standard entity-resolution move:
# attribute cardinality, not row count, bounds the quadratic stage),
# blocked on the name's last token so only names sharing a head noun
# are ever compared — candidate pairs per block are |block|², with
# |block| bounded by the adjective vocabulary, not the corpus.
FUZZY_MAX_LEV = 2


@register(
    "part_fuzzy_name_match",
    oracle=rf"""
    WITH names AS (
        SELECT p_name, count(*) AS n_parts FROM part GROUP BY p_name
    ),
    p AS (
        SELECT p_name, n_parts,
               regexp_extract(p_name, '(\S+)$', 1) AS block
        FROM names
    )
    SELECT a.block,
           a.p_name AS name_a, c.p_name AS name_b,
           CAST(levenshtein(a.p_name, c.p_name) AS INT) AS lev_dist,
           a.n_parts AS n_parts_a, c.n_parts AS n_parts_b
    FROM p a JOIN p c
      ON a.block = c.block AND a.p_name < c.p_name
    WHERE levenshtein(a.p_name, c.p_name) <= {FUZZY_MAX_LEV}
    """,
)
def part_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-match of part names: pairs of distinct names that
    share a head noun (blocking key = last whitespace token) and sit
    within FUZZY_MAX_LEV Levenshtein edits (see note above — both
    engines implement classic unit-cost Levenshtein).

    Scale shape: the only corpus-sized stage is the distinct-name
    aggregate (map-side partial distinct — the shuffle carries one
    row per name per partition at worst). The dictionary is
    localCheckpointed so the blocked self-join doesn't re-run the
    aggregate per side (the derived-pipeline self-join rule), and the
    join itself shuffles only dictionary rows on the block key. The
    `name_a < name_b` ordering halves the pair space and makes the
    output deterministic without a window."""
    p = table(spark, sf_dir, "part")
    names = (
        p.groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .withColumn("block", F.regexp_extract(F.col("p_name"), r"(\S+)$", 1))
        .localCheckpoint(eager=True)
    )
    a = names.alias("a")
    c = names.alias("c")
    lev = F.levenshtein(F.col("a.p_name"), F.col("c.p_name"))
    return (
        a.join(
            c,
            (F.col("a.block") == F.col("c.block"))
            & (F.col("a.p_name") < F.col("c.p_name")),
        )
        .where(lev <= FUZZY_MAX_LEV)
        .select(
            F.col("a.block").alias("block"),
            F.col("a.p_name").alias("name_a"),
            F.col("c.p_name").alias("name_b"),
            lev.cast("int").alias("lev_dist"),
            F.col("a.n_parts").alias("n_parts_a"),
            F.col("c.n_parts").alias("n_parts_b"),
        )
    )


# Sparse TF-IDF document similarity — term-based nearest neighbors,
# the retrieval-side complement of the dense-embedding kNN family.
# Weights are INTEGER-scaled: w(d,t) = tf(d,t) · ((N·1000) // df(t)).
# The integer floor-division idf keeps every pairwise dot product and
# squared norm an exact integer sum (order-independent under any
# shuffle/merge), which is what lets the whole sparse pipeline be
# value-checked — ln-based idf weights summed per pair would carry
# engine-dependent last-ulp noise into the ranking. (The linear
# N/df idf is a documented idf variant; the ranking behavior matches
# log-idf closely on corpora with bounded df spread. At web scale
# N·1000 overflows the weight square past BIGINT — deployments cap
# idfi or widen to DECIMAL; the structure is unchanged.)
TFIDF_SIM_QUERY_DOC = 0
TFIDF_SIM_TOP_K = 10


@register(
    "documents_tfidf_similarity",
    oracle=rf"""
    WITH tf AS (
        SELECT doc_id, word, count(*) AS tf
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(trim(text), '\S+')) AS word
              FROM documents)
        GROUP BY doc_id, word
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    df AS (SELECT word, count(*) AS dfreq FROM tf GROUP BY word),
    w AS (
        SELECT tf.doc_id, tf.word,
               CAST(tf.tf * ((n.n_docs * 1000) // df.dfreq) AS BIGINT) AS w
        FROM tf JOIN df ON tf.word = df.word, n
    ),
    nrm AS (
        SELECT doc_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS nrm
        FROM w GROUP BY doc_id
    ),
    qw AS (SELECT word, w AS qw FROM w WHERE doc_id = {TFIDF_SIM_QUERY_DOC}),
    dots AS (
        SELECT w.doc_id, CAST(sum(w.w * qw.qw) AS BIGINT) AS dot
        FROM w JOIN qw ON w.word = qw.word
        WHERE w.doc_id <> {TFIDF_SIM_QUERY_DOC}
        GROUP BY w.doc_id
    )
    SELECT d.doc_id, d.dot,
           round(d.dot / (a.nrm * q.nrm), 6) AS cosine
    FROM dots d
    JOIN nrm a ON a.doc_id = d.doc_id
    JOIN nrm q ON q.doc_id = {TFIDF_SIM_QUERY_DOC}
    ORDER BY round(d.dot / (a.nrm * q.nrm), 6) DESC, d.doc_id
    LIMIT {TFIDF_SIM_TOP_K}
    """,
)
def documents_tfidf_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents most similar to doc TFIDF_SIM_QUERY_DOC under
    integer-scaled TF-IDF cosine (see note above).

    Scale shape: tf is the one corpus-sized aggregate (map-side
    combine on (doc, word)); df is vocab-sized and joins back as a
    hash join on the word; the query side is ONE document's terms —
    broadcast — so candidate scoring is a broadcast semi-join that
    only touches postings sharing a query term (the inverted-index
    access pattern, not all-pairs). Norms are doc-cardinality. The
    final ranking sorts integer dots rescaled by two per-doc scalars
    — TakeOrderedAndProject, no global sort."""
    d = table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(tx.tokens(F.col("text"))).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    df_t = tf.groupBy("word").agg(F.count(F.lit(1)).alias("dfreq"))
    # The postings table feeds THREE consumers (norms, query weights,
    # candidate dots). The static plan prints the subtree thrice (15
    # exchanges), but AQE's runtime exchange reuse deduplicates the
    # identical shuffles — a localCheckpoint here was MEASURED as a
    # wash at 10x/40x and slightly worse at 1x (materialization cost
    # without a recompute to save), so the plan stays lazy. At
    # deployment the postings are a persisted inverted index and the
    # question disappears.
    w = (
        tf.join(df_t, "word")
        .join(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            (F.col("tf") * F.expr("(n_docs * 1000) div dfreq"))
            .cast("bigint")
            .alias("w"),
        )
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w")).cast("double")).alias("nrm")
    )
    qw = w.filter(F.col("doc_id") == TFIDF_SIM_QUERY_DOC).select(
        "word", F.col("w").alias("qw")
    )
    dots = (
        w.filter(F.col("doc_id") != TFIDF_SIM_QUERY_DOC)
        .join(F.broadcast(qw), "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("qw")).cast("bigint").alias("dot"))
    )
    qn = nrm.filter(F.col("doc_id") == TFIDF_SIM_QUERY_DOC).select(
        F.col("nrm").alias("qnrm")
    )
    return (
        dots.join(nrm, "doc_id")
        .join(F.broadcast(qn))
        .select(
            "doc_id",
            "dot",
            F.round(F.col("dot") / (F.col("nrm") * F.col("qnrm")), 6).alias(
                "cosine"
            ),
        )
        .orderBy(F.desc("cosine"), F.asc("doc_id"))
        .limit(TFIDF_SIM_TOP_K)
    )


RANGE_BEFORE_S = 14400  # clicks within the 4 hours before a purchase


@register(
    "events_range_join_clicks",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
    ),
    p AS (SELECT user_id, ts FROM ev WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts FROM ev WHERE event_type = 'click')
    SELECT p.user_id, p.ts AS purchase_ts, count(*) AS n_clicks_before
    FROM p JOIN c
      ON c.user_id = p.user_id
     AND epoch_us(c.ts) // 1000000
         >= epoch_us(p.ts) // 1000000 - {RANGE_BEFORE_S}
     AND epoch_us(c.ts) // 1000000 <= epoch_us(p.ts) // 1000000
    GROUP BY p.user_id, p.ts
    """,
)
def events_range_join_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/range join: per purchase, the number of the same
    user's clicks in the {RANGE_BEFORE_S//3600} hours before it
    (second-grain bounds, matching the operator's epoch-second
    banding; purchases with zero clicks in range don't emit — inner
    range-join semantics, mirrored by the oracle's inner join).

    Implemented by ``operators/asof.py::range_join_count``: both
    sides band their timestamps into range-width buckets and
    equi-join on (user, band±1) before the exact range predicate —
    the standard rewrite that turns an unbounded theta join (which
    Spark would nested-loop) into a bounded-fan-out hash join. The
    right side replicates 3×; fan-out is corpus-bounded regardless
    of time span or key skew."""
    from ..operators.asof import range_join_count

    e = table(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    c = e.filter(F.col("event_type") == "click").select("user_id", "ts")
    out = range_join_count(
        p, c, ["user_id"], before_seconds=RANGE_BEFORE_S, after_seconds=0
    )
    return out.select(
        "user_id",
        F.col("_lts").alias("purchase_ts"),
        F.col("n_in_range").alias("n_clicks_before"),
    )
