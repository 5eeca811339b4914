"""Deduplication queries over ``documents`` — the training-data-
pipeline extension surface (exact, n-gram Jaccard, MinHash+LSH,
SimHash, embedding-cosine).

Scale design (the point of each variant):
- exact:        one hash-groupBy shuffle; the hash key (md5) is
                computed map-side so the shuffle carries 32 bytes +
                ids, not document bodies.
- ngram-jaccard: brute-force pairwise — quadratic, but blocked by a
                cheap key (lang) so block sizes bound the n² term.
                This is the ORACLE-CHECKABLE ground truth; at 100 TB
                you never run it globally — it's the verifier for
                candidate pairs produced by LSH.
- minhash-lsh:  the scale path — shingle → 128-perm signature →
                16 bands × 8 rows → bucket join. Cost is linear in
                corpus size + candidate pairs; only signatures
                (128×8B) shuffle, never documents.
- simhash:      64→32-bit fingerprint; near-dup = small Hamming
                distance. Signature build is one scan; the pair
                stage here is blocked brute-force (the scale path
                buckets by 4 rotated bit-chunks — pigeonhole: any
                pair within distance 3 shares one chunk).
- embedding:    cosine ≥ τ within label blocks (oracle-checked);
                the unblocked scale path is dedup_embedding_lsh —
                banded hyperplane buckets instead of labels.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..dedup import minhash as mh
from ..functions import simhash as sh
from ..functions import text as tx
from ..functions import vectors as vec
from ..functions.hexdigest import hex_int, hex_int_sql
from ..operators.compaction import live_rows
from ..sources.catalog import table, wide_table
from .constants import JACCARD_THRESHOLD, SHINGLE_K  # noqa: F401  (re-export)
from .minhash_sql import (
    cand_overlap_ctes,
    jaccard_pairs_cte,
    lang_overlap_ctes,
    verified_pairs_ctes,
)
from .minhash_sql import minhash_cand_ctes as _minhash_cand_ctes
from .registry import register


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text); survivor = min doc_id.

    Plain ``table()``, not ``wide_table()``: one md5 per row is NOT
    compute-dense, so the round-robin repartition of the full text
    corpus costs more than the parallelism it buys (measured 0.9 s
    vs 0.3 s at sf0.1), and the groupBy shuffle already
    redistributes — only its ~16-byte hash keys, not the text."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(tx.content_hash(F.col("text"), normalize=False).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@register(
    "dedup_exact_normalized",
    oracle=f"""
    SELECT {tx.content_hash_sql()} AS text_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after case/whitespace normalization — catches the
    trivial near-dups (copy-paste with reflowed whitespace). Plain
    ``table()`` for the same reason as ``dedup_exact``: regex
    normalize + md5 is one cheap pass, not worth a text shuffle."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy(tx.content_hash(F.col("text"), normalize=True).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _ngram_jaccard_oracle() -> str:
    """Restatement of the exact lang-blocked ground truth — shared by
    dedup_ngram_jaccard itself and the recall audit, so the audit's
    "truth" cannot drift from the registered ground-truth query."""
    return f"""
    WITH {lang_overlap_ctes()},
    {jaccard_pairs_cte()}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """


@register("dedup_ngram_jaccard", oracle=_ngram_jaccard_oracle())
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ground-truth near-dup pairs: exact Jaccard over character
    5-gram shingle sets, blocked by lang. Quadratic within blocks —
    the verifier, not the scale path (see dedup_minhash_lsh)."""
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return _lang_jaccard_pairs(d).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def _lang_jaccard_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every same-lang pair of
    ``docs(doc_id, lang, text)`` — the quadratic ground truth, shared
    with pipeline_training_data. The shingle table is checkpointed:
    the self-join would otherwise build every shingle array twice."""
    d = docs.select(
        "doc_id", "lang", tx.char_shingles(F.col("text"), SHINGLE_K).alias("sh")
    ).localCheckpoint(eager=True)
    a = d.select(F.col("doc_id").alias("doc_a"), "lang", F.col("sh").alias("sh_a"))
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("sh").alias("sh_b"),
    )
    pairs = a.join(
        b, (F.col("lang") == F.col("lang_b")) & (F.col("doc_a") < F.col("doc_b"))
    )
    v = tx.shingle_overlap(pairs, F.col("sh_a"), F.col("sh_b"))
    jac = tx.jaccard(F.col("ni"), F.col("sab") - F.col("ni"))
    return v.select("doc_a", "doc_b", jac.alias("jaccard"))


# 128 permutations in 16 bands × 8 rows: the one LSH shape, defined
# (with the r=8 rationale) in dedup/minhash.py.
from .constants import N_BANDS, N_PERM  # noqa: E402
# Signature-agreement prefilter cutoff, as an integer match count:
# est = matches/128 ≥ (0.7 - 0.15) ⇔ matches ≥ 71 (the division by
# a power of two is exact, so the double and integer filters are
# identical — the SQL restatement uses the integer form).
EST_MIN_MATCHES = math.ceil((JACCARD_THRESHOLD - 0.15) * N_PERM)


def _est_agreement_sql() -> str:
    """SQL form of the signature-agreement match count between
    aliases ``sa``/``sb`` (the _est_prefilter twin), shared by the
    inline/indexed oracle and the delta-probe oracle so the two
    cannot drift. Grouped in 8-term parenthesized chunks: a flat
    128-term ``+`` chain parses left-deep and trips DuckDB's
    128-deep binder recursion limit; grouping caps the tree depth
    at ~24."""
    terms = [
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END"
        for i in range(N_PERM)
    ]
    return " + ".join(
        "(" + " + ".join(terms[g : g + 8]) + ")" for g in range(0, N_PERM, 8)
    )


def _minhash_lsh_oracle(table: str = "documents", pre_ctes: str = "") -> str:
    """Full SQL restatement of dedup_minhash_lsh (md5 family):
    candidates → integer-form signature-agreement prefilter → exact
    shingle-Jaccard verify ≥ 0.7. ``table`` parametrizes the input
    relation so the detector-agreement audit / the index-delete
    certification can nest the identical text over a derived-docs
    CTE supplied via ``pre_ctes`` (r11)."""
    est = _est_agreement_sql()
    return f"""
    WITH {pre_ctes}{_minhash_cand_ctes(table, downsample=4, lang=False)},
    mh_est AS (
        SELECT c.doc_a, c.doc_b
        FROM mh_cand c
        JOIN mh_sigs sa ON sa.doc_id = c.doc_a
        JOIN mh_sigs sb ON sb.doc_id = c.doc_b
        WHERE {est} >= {EST_MIN_MATCHES}
    ),
    {verified_pairs_ctes("mh_est", table)}
    SELECT doc_a, doc_b, jaccard FROM pairs
    """


@register("dedup_minhash_lsh", oracle=_minhash_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection — the 100 TB scale path.

    Pipeline (all narrow until the bucket join):
      1. shingle: distinct char 5-grams per doc (array column, no
         explode);
      2. signature: 128 permutation minhashes over a per-shingle
         base hash;
      3. banding: 16 bands × 8 rows;
      4. candidate pairs: posexplode bands → shuffle on (band, key)
         — ONLY (doc_id, band_key) shuffles, never text;
      5. verify: exact Jaccard on the candidates (same formula as
         dedup_ngram_jaccard), keep pairs ≥ 0.7.

    Detection probability at j=0.9 with b=16, r=8:
    1-(1-0.9^8)^16 ≈ 0.9999. The per-shingle base hash family is
    sf-gated (``minhash_family``): the md5-derived family restates
    bit-exactly in SQL, so at correctness scale the WHOLE pipeline —
    winnowing, permutations, banding, bucket pairs, prefilter,
    verification — is value-checked by ``_minhash_lsh_oracle``; at
    bench/deployment scale the xxhash family saves ~20% on the
    dominant signature stage (measured 7.1 s vs 8.6 s warm at
    sf0.1). Family swap provably changes only cost, not output, on
    the test corpora (TestFamilyParity). Signature construction
    hashes each shingle once (see ``dedup/minhash.py``).
    """
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _minhash_lsh_pairs(spark, sf_dir, d)


def _minhash_lsh_pairs(
    spark: SparkSession, sf_dir: str, d: DataFrame,
    verify_docs: DataFrame | None = None,
) -> DataFrame:
    """The dedup_minhash_lsh pipeline over an explicit (doc_id, text)
    frame — factored (r11) so the detector-agreement audit can run
    the IDENTICAL pipeline over its sampled-docs frame.

    ``verify_docs``: the (doc_id, text) side the exact-Jaccard verify
    reads. Defaults to the full documents table (valid for any input
    whose doc_ids come from it); callers whose ids are DERIVED (the
    chunk-grain dedup's composite chunk ids) must pass their own
    frame (r12)."""
    family = mh.minhash_family(sf_dir)
    # materialize signatures once (tiny: n_docs × 128 longs) — they
    # feed banding AND the estimate-prefilter below; without the
    # checkpoint each consumer replays the signature scan. The
    # text-direct path never builds shingle arrays (see
    # minhash_signature_from_text). downsample=4 measured best END TO
    # END: it cuts the wide aggregate's input 4× AND sampled
    # signatures produce fewer mid-Jaccard band collisions — the
    # candidate count, not the signature scan, dominates this query.
    sigs = mh.minhash_signature_from_text(
        d, ["doc_id"], downsample=4, family=family
    ).localCheckpoint(eager=True)
    # skip sentinel (all-P32) signatures before banding (r11 advice):
    # empty/fully-winnowed docs would collide in EVERY band — pure
    # candidate expansion with no output effect (their 0/0-guarded
    # Jaccard can never pass the threshold, and the SQL oracle's
    # verify already omits them). This also makes the stream twin's
    # sentinel skip and documents_dedup_cost_report's n_docs_signed
    # faithful to this pipeline.
    live = sigs.filter(F.element_at("sig", 1) != mh.P32)
    cand = mh.lsh_candidate_pairs(live, family=family)
    # estimate-prefilter: signature agreement ≈ Jaccard (σ≈1/√128).
    # Candidates whose estimate is far below threshold skip exact
    # verification entirely — band collisions admit many mid-Jaccard
    # pairs on shared-vocabulary corpora, and they dominated verify
    # cost. Cutoff 0.55 sits 3.7σ under 0.7 (miss odds ~1e-4).
    cand = _est_prefilter(cand, sigs)
    # verify survivors against exact shingle Jaccard. The joins
    # carry raw text and shingling happens AFTER both joins, so the
    # (expensive) shingle arrays are built only for rows that
    # survived the prefilter — a tiny set, and AQE broadcasts it.
    # The full documents table is a valid verify side for ANY input
    # frame whose doc_ids come from it (candidates restrict the join).
    docs = (
        verify_docs
        if verify_docs is not None
        else wide_table(spark, sf_dir, "documents")
    )
    return exact_jaccard_pairs(cand, docs)


def _est_prefilter(cand: DataFrame, sigs: DataFrame) -> DataFrame:
    """The signature-agreement estimate prefilter shared by
    dedup_minhash_lsh and dedup_minhash_indexed: candidates whose
    agreement/N_PERM estimate sits >= 3.7σ under the Jaccard
    threshold skip exact verification (see the inline commentary in
    dedup_minhash_lsh)."""
    sig_a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(N_PERM)
    return (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .filter(est >= JACCARD_THRESHOLD - 0.15)
        .select("doc_a", "doc_b")
    )


def _indexed_pairs(spark, sf_dir, table_prefix, post=None):
    """Verified (doc_a, doc_b, jaccard) pairs probed from a WRITTEN
    unblocked band index — the ONE probe implementation shared by
    dedup_minhash_indexed, dedup_minhash_index_append, and
    dedup_cross_source_indexed (r10 review dedup — three copies had
    started to drift-risk): bucketed exchange-free candidate
    grouping under a scoped autoBucketedScan=false, shared
    agreement prefilter + exact-Jaccard verify. ``post`` runs INSIDE
    the conf scope (a transform applied after build_with_conf would
    recompile the plan under the restored conf and lose the
    bucketed-scan pin). Band rows come from ``live_rows``, so
    tombstoned doc_ids never reach a candidate (a broadcast anti-join,
    map-side: the exchange-free pin survives)."""
    from ..operators.confscope import build_with_conf

    def _probe() -> DataFrame:
        banded = live_rows(spark, f"{table_prefix}_bands", table_prefix, "doc_id")
        cand = mh.pairs_within_buckets(banded, "doc_id", ["band", "band_key"])
        sigs = spark.table(f"{table_prefix}_sigs")
        pre = _est_prefilter(cand, sigs)
        docs = wide_table(spark, sf_dir, "documents")
        pairs = exact_jaccard_pairs(pre, docs)
        return post(pairs) if post is not None else pairs

    return build_with_conf(
        spark,
        {"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"},
        _probe,
    )


@register("dedup_minhash_indexed", oracle=_minhash_lsh_oracle())
def dedup_minhash_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH pipeline run off a MATERIALIZED band index —
    the dedup family's build-once/probe-repeatedly deployment form
    (the knn_ivf_indexed precedent): ``write_minhash_index`` saves
    the signatures and a (band, band_key, doc_id) table BUCKETED by
    the bucket key, so the candidate-pair groupBy rides the bucketed
    layout with ZERO exchange (plan-asserted in test_dedup) and an
    ingestion-time probe of one new doc touches only its 16 buckets'
    files. Candidates, prefilter and verify are the inline query's
    (shared helpers), so the SAME full-restatement oracle
    value-checks the materialized index — a green row certifies what
    was WRITTEN, not just the recompute. Builder writes the index at
    plan time: BUILD_EXECUTES."""
    family = mh.minhash_family(sf_dir)
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    mh.write_minhash_index(
        spark,
        d,
        "minhash_doc_idx",
        downsample=4,
        family=family,
    )
    # bucket-aware reads pinned inside _indexed_pairs (scoped
    # autoBucketedScan=false; r8 advice item).
    return _indexed_pairs(spark, sf_dir, "minhash_doc_idx")


# The delta-probe's "new batch": the md5(doc_id) nibble-0 shard
# (~1/16 of the corpus) plays the just-arrived documents; the other
# 15/16 are the already-indexed corpus. A hash split (not a range)
# keeps both sides distributionally representative.
PROBE_DELTA_NIBBLE = "0"
_PROBE_DELTA_SQL = (
    f"substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = "
    f"'{PROBE_DELTA_NIBBLE}'"
)


def _probe_delta_col() -> Column:
    """Spark twin of _PROBE_DELTA_SQL (md5 of the decimal doc_id
    string is engine-identical — the established md5-halves idiom)."""
    return (
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        == PROBE_DELTA_NIBBLE
    )


def _minhash_probe_oracle() -> str:
    """Full SQL restatement of dedup_minhash_probe_delta: the corpus
    and delta sides each get their own signature chain (prefixed
    CTEs), the candidate join is ASYMMETRIC (delta bands × corpus
    bands — never delta×delta: new-batch-internal dedup is the
    streaming twin's job), then the shared agreement prefilter and
    exact-Jaccard verify."""
    est = _est_agreement_sql()
    d_chain = _minhash_cand_ctes(
        "delta_docs", downsample=4, lang=False, prefix="d_",
        emit_cand=False,
    )
    c_chain = _minhash_cand_ctes(
        "corpus_docs", downsample=4, lang=False, prefix="c_",
        emit_cand=False,
    )
    return f"""
    WITH delta_docs AS (
        SELECT doc_id, text FROM documents WHERE {_PROBE_DELTA_SQL}
    ),
    corpus_docs AS (
        SELECT doc_id, text FROM documents WHERE NOT ({_PROBE_DELTA_SQL})
    ),{d_chain},{c_chain},
    pr_cand AS (
        SELECT DISTINCT d.doc_id AS doc_new, c.doc_id AS doc_corpus
        FROM d_bands d JOIN c_bands c
          ON d.band = c.band AND d.band_key = c.band_key
    ),
    pr_est AS (
        SELECT p.doc_new AS doc_a, p.doc_corpus AS doc_b
        FROM pr_cand p
        JOIN d_sigs sa ON sa.doc_id = p.doc_new
        JOIN c_sigs sb ON sb.doc_id = p.doc_corpus
        WHERE {est} >= {EST_MIN_MATCHES}
    ),
    {verified_pairs_ctes("pr_est")}
    SELECT doc_a AS doc_new, doc_b AS doc_corpus, jaccard FROM pairs
    """


@register("dedup_minhash_probe_delta", oracle=_minhash_probe_oracle())
def dedup_minhash_probe_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental INGESTION probe of the materialized band index —
    the operation a production dedup service runs on every new batch
    (the r8 verdict's top ask): hold out the md5-nibble-0 shard of
    documents as the "new batch", build the band index from the
    OTHER 15/16 (write_minhash_index — BUILD_EXECUTES), then

      1. signature ONLY the delta (the corpus is never re-shingled:
         its signatures/bands come back from the written index);
      2. band the delta signatures and join them — broadcast, the
         delta is batch-sized — against the index's bands table for
         asymmetric (new, corpus) candidates;
      3. shared agreement prefilter (_est_prefilter) with the corpus
         side's signatures read from the index's sigs table;
      4. shared exact-Jaccard verify (exact_jaccard_pairs).

    Output: verified (doc_new, doc_corpus, jaccard) — which incoming
    docs near-duplicate something already ingested. Probe economics
    vs rebuild measured in SCALING.md (the probe re-signatures ~1/16
    of the text and reads precomputed band/sig parquet for the rest;
    the rebuild pays the full-corpus signature scan). Delta-internal
    pairs are deliberately NOT emitted: within-batch dedup is
    stream_dedup_minhash's job, and the asymmetric join is what
    keeps the probe's cost O(delta × collisions), not O(corpus²).
    The plan pin (TestMinhashProbeDelta) asserts the probe side
    generates shingles only once (the delta scan) and reads both
    index tables."""
    family = mh.minhash_family(sf_dir)
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    delta = d.filter(_probe_delta_col())
    corpus = d.filter(~_probe_delta_col())
    mh.write_minhash_index(
        spark,
        corpus,
        "minhash_probe_idx",
        downsample=4,
        family=family,
    )
    docs = wide_table(spark, sf_dir, "documents")
    return probe_minhash_index(
        spark, delta, "minhash_probe_idx", docs, family
    )


def probe_minhash_index(
    spark: SparkSession,
    delta: DataFrame,
    table_prefix: str,
    docs: DataFrame,
    family: str,
) -> DataFrame:
    """The PROBE step alone, against an already-written band index —
    what the ingestion service runs per batch (the registered query
    wraps it with the index build so the green row certifies both;
    SCALING.md measures this helper separately for the
    probe-vs-rebuild economics).

    Per-batch fixed cost is what this path pays, so nothing specific
    to the batch may reach generated code or widen a scan:

    - the delta's signatures come from ``mh.delta_signatures`` (the
      append's path too): a shuffle keeps the caller's selection out
      of the 128-slot stage, whose compiled class is then reused by
      every later batch's probe and append;
    - the rest is built and planned under one conf scope.
      ``constraintPropagation.enabled=false``: the checkpoint's
      origin constraints would otherwise carry a ``doc_id BETWEEN``
      selection into the ``_sigs`` and ``documents`` scans as
      literal filters (two more compiles per batch, and the two
      sides' broadcasts no longer match). ``bucketing.enabled=false``:
      the band table streams through a broadcast join, which gains
      nothing from its bucket layout, so it is read as plain file
      splits rather than one task per bucket.

    The plan shape is pinned in test_dedup (TestIngestBatchCompiles)."""
    from ..operators.confscope import build_with_conf

    # delta signatures: tiny (batch × 128 longs), reused by banding
    # AND the prefilter
    dsigs = mh.delta_signatures(delta, ["doc_id"], 4, family)

    def _probe() -> DataFrame:
        dbands = mh._band_rows(dsigs, family=family).withColumnRenamed(
            "doc_id", "doc_new"
        )
        idx = live_rows(spark, f"{table_prefix}_bands", table_prefix, "doc_id")
        # the delta's banded rows broadcast; the index streams
        # map-side — no shuffle of the (much larger) index ever
        # happens; tombstoned corpus docs are never candidates
        cand = (
            idx.join(F.broadcast(dbands), ["band", "band_key"])
            .select(
                F.col("doc_new").alias("doc_a"),
                F.col("doc_id").alias("doc_b"),
            )
            .dropDuplicates(["doc_a", "doc_b"])
        )
        # corpus signatures come from the INDEX (never recomputed);
        # delta/corpus doc_ids are disjoint, so the union lookup feeds
        # the shared prefilter exactly
        sigs = dsigs.select("doc_id", "sig").unionByName(
            spark.table(f"{table_prefix}_sigs").select("doc_id", "sig")
        )
        pre = _est_prefilter(cand, sigs)
        return exact_jaccard_pairs(pre, docs).select(
            F.col("doc_a").alias("doc_new"),
            F.col("doc_b").alias("doc_corpus"),
            "jaccard",
        )

    return build_with_conf(
        spark,
        {
            "spark.sql.constraintPropagation.enabled": "false",
            "spark.sql.sources.bucketing.enabled": "false",
        },
        _probe,
    )


@register("dedup_minhash_index_append", oracle=_minhash_lsh_oracle())
def dedup_minhash_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index MAINTENANCE — the ingestion half the delta probe left
    open (the r9 verdict's item 4): build the band index from the
    corpus shard (the md5-nibble split dedup_minhash_probe_delta
    established), APPEND the delta batch's signature and band rows
    (``append_minhash_index``: delta-only signatures; the bucketed
    layout makes the bands table append-friendly — a bucketed append
    adds per-bucket files next to the existing ones and never touches
    them), then run the full indexed pipeline over the APPENDED
    index. Signatures/bands are per-doc deterministic, so the
    appended index equals a from-scratch build row for row — which is
    exactly what the oracle certifies: the output must equal the
    full-corpus dedup_minhash_lsh pair set (the existing indexed
    restatement), and it can only do so if the append produced the
    complete, correct index. With probe (detect) + append (ingest)
    the dedup index now supports the full service loop. The
    untouched-files pin and the append≪rebuild measurement live in
    test_dedup / SCALING.md. Builder writes + appends at plan time:
    BUILD_EXECUTES."""
    family = mh.minhash_family(sf_dir)
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    delta = d.filter(_probe_delta_col())
    corpus = d.filter(~_probe_delta_col())
    mh.write_minhash_index(
        spark,
        corpus,
        "minhash_append_idx",
        downsample=4,
        family=family,
    )
    mh.append_minhash_index(
        spark,
        delta,
        "minhash_append_idx",
        downsample=4,
        family=family,
    )
    return _indexed_pairs(spark, sf_dir, "minhash_append_idx")


@register("dedup_minhash_index_compact", oracle=_minhash_lsh_oracle())
def dedup_minhash_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index COMPACTION — the maintenance op that completes the
    lifecycle (write → probe → append → COMPACT; the r10 verdict's
    item 3): every ``append_minhash_index`` leaves a fresh set of
    per-bucket files next to the existing ones, so the bands table's
    file count grows linearly with appends forever — the classic
    small-file death of a 100 TB index. ``compact_bucketed_table``
    FFD-bin-packs each LSH bucket's files and rewrites each bin as
    ONE bucket-id-encoded file (merging only WITHIN a bucket keeps
    every file's rows hashing to its bucket, so the exchange-free
    bucketed probe survives — plan-pinned in test_dedup), with
    rewrite cost proportional to small-file bytes only.

    Certification follows the append precedent: build from the corpus
    shard, append the delta batch, COMPACT, then run the full indexed
    pipeline over the compacted index — the output must equal the
    full-corpus dedup_minhash_lsh pair set (same oracle), which it
    can only do if compaction preserved every row of every bucket.
    File-count shrink, per-file bucket-id validity, and band-row
    set parity are pinned in test_dedup::TestIndexCompact. Builder
    writes + appends + compacts at plan time: BUILD_EXECUTES."""
    from ..operators.compaction import compact_bucketed_table

    family = mh.minhash_family(sf_dir)
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    delta = d.filter(_probe_delta_col())
    corpus = d.filter(~_probe_delta_col())
    mh.write_minhash_index(
        spark,
        corpus,
        "minhash_compact_idx",
        downsample=4,
        family=family,
    )
    mh.append_minhash_index(
        spark,
        delta,
        "minhash_compact_idx",
        downsample=4,
        family=family,
    )
    compact_bucketed_table(spark, "minhash_compact_idx_bands")
    return _indexed_pairs(spark, sf_dir, "minhash_compact_idx")


# The delete shard: md5-nibble-'f' doc_ids (~1/16 of the corpus) play
# the just-retracted documents (takedowns, opt-outs, quality recalls
# — the operational reasons an LLM corpus index must support DELETE).
# Distinct from the append shard's nibble '0' so the two maintenance
# certifications exercise different rows.
DELETE_NIBBLE = "f"
_DELETE_SQL = (
    f"substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '{DELETE_NIBBLE}'"
)


@register(
    "dedup_minhash_index_delete",
    oracle=_minhash_lsh_oracle(
        table="kept_docs",
        pre_ctes=f"""kept_docs AS (
        SELECT doc_id, text FROM documents WHERE NOT ({_DELETE_SQL})
    ),
    """,
    ),
)
def dedup_minhash_index_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index DELETE — the last lifecycle verb (write → probe → append
    → compact → DELETE), done the way every immutable-file index does
    it (the LSM/tombstone pattern): retracted doc_ids append to a
    tiny ``_dels`` table and the probe anti-joins them out of the
    band rows (broadcast, map-side — the exchange-free candidate
    grouping survives, plan-pinned in test_dedup). Nothing in the
    bands/sigs tables is read or rewritten — a delete costs one tiny
    append no matter the index size (byte-stability pinned); dead
    rows are reclaimed at the next rebuild/compaction.

    Certification: build the FULL-corpus index, tombstone the
    md5-nibble-'{DELETE_NIBBLE}' shard, probe — the output must equal
    the inline pipeline over the KEPT documents (the oracle nests the
    full restatement over a kept_docs CTE), which it can only do if
    the tombstone filter removes exactly the deleted docs from every
    band. Builder writes + deletes at plan time: BUILD_EXECUTES."""
    family = mh.minhash_family(sf_dir)
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    mh.write_minhash_index(
        spark,
        d,
        "minhash_del_idx",
        downsample=4,
        family=family,
    )
    dels = d.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        == DELETE_NIBBLE
    ).select("doc_id")
    mh.delete_from_minhash_index(spark, dels, "minhash_del_idx")
    return _indexed_pairs(spark, sf_dir, "minhash_del_idx")


def _dedup_cost_oracle() -> str:
    """Full SQL restatement of documents_dedup_cost_report: every
    stage count of the downsample=4 LSH pipeline, incl. the bucket
    pair-mass sum and the verified-pair connected components. The
    verify stanza is the shared verified_pairs_ctes (r10 review)."""

    est = _est_agreement_sql()
    return f"""
    WITH RECURSIVE {_minhash_cand_ctes("documents", downsample=4, lang=False)},
    bux AS (
        SELECT band, band_key, count(*) AS m
        FROM mh_bands GROUP BY band, band_key
    ),
    bstats AS (
        SELECT count(*) AS n_buckets,
               sum(CASE WHEN m >= 2 THEN 1 ELSE 0 END)
                   AS n_colliding_buckets,
               max(m) AS max_bucket,
               sum((m * (m - 1)) // 2) AS pair_mass
        FROM bux
    ),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    ns AS (SELECT count(*) AS n_docs_signed FROM mh_sigs),
    ncd AS (SELECT count(*) AS n_candidates FROM mh_cand),
    pre AS (
        SELECT c.doc_a, c.doc_b
        FROM mh_cand c
        JOIN mh_sigs sa ON sa.doc_id = c.doc_a
        JOIN mh_sigs sb ON sb.doc_id = c.doc_b
        WHERE {est} >= {EST_MIN_MATCHES}
    ),
    np AS (SELECT count(*) AS n_prefilter FROM pre),
    {verified_pairs_ctes("pre")},
    nv AS (SELECT count(*) AS n_verified FROM pairs),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(u, m) AS (
        SELECT u, u AS m FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, w.m FROM edges e JOIN walk w ON e.v = w.u
    ),
    cl AS (SELECT u, min(m) AS cid FROM walk GROUP BY u),
    cstats AS (
        SELECT count(*) AS n_dup_docs, count(DISTINCT cid) AS n_clusters
        FROM cl
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs_signed AS BIGINT) AS n_docs_signed,
           CAST(n_docs_signed * {N_BANDS} AS BIGINT) AS n_band_rows,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CAST(n_colliding_buckets AS BIGINT) AS n_colliding_buckets,
           CAST(max_bucket AS BIGINT) AS max_bucket,
           CAST(pair_mass AS BIGINT) AS pair_mass,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_prefilter AS BIGINT) AS n_prefilter,
           CAST(n_verified AS BIGINT) AS n_verified,
           CAST(n_dup_docs AS BIGINT) AS n_dup_docs,
           CAST(n_clusters AS BIGINT) AS n_clusters,
           CAST(n_docs - n_dup_docs + n_clusters AS BIGINT) AS n_survivors
    FROM nd, ns, bstats, ncd, np, nv, cstats
    """


@register("documents_dedup_cost_report", oracle=_dedup_cost_oracle())
def documents_dedup_cost_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-planning report for the MinHash-LSH dedup pipeline —
    the numbers a 100 TB run is sized from (the r9 verdict's item 6):
    per-stage volumes of the downsample=4 pipeline in ONE row:

      corpus (n_docs, n_docs_signed — docs with ≥1 kept shingle;
      empty/winnowed-out docs carry sentinel signatures the pipeline
      skips BEFORE banding — as do the stream twin and, since r11,
      dedup_minhash_lsh itself, so the report prices exactly what
      the registered pipeline pays) → banding
      (n_band_rows) → buckets (n_buckets, n_colliding_buckets,
      max_bucket — the skew indicator, and pair_mass = Σ m(m−1)/2 —
      the quadratic expansion work the bucket join must do, THE
      number that decides whether a corpus needs sharded banding) →
      candidates (n_candidates, distinct) → agreement prefilter
      (n_prefilter) → exact verify (n_verified) → components
      (n_dup_docs, n_clusters, n_survivors = n_docs − n_dup_docs +
      n_clusters).

    Every count is an exact integer; the oracle restates the whole
    pipeline incl. the recursive-CTE closure. Scale shape: the
    signature/banding scans are the pipeline's own; every stat is a
    metadata-scale aggregate crossJoined into the single output row.
    Iterative CC checkpoints per round: BUILD_EXECUTES."""
    from ..dedup.clusters import connected_components
    from ..dedup.minhash import P32

    family = mh.minhash_family(sf_dir)
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = mh.minhash_signature_from_text(
        d, ["doc_id"], downsample=4, family=family
    ).localCheckpoint(eager=True)
    # non-sentinel docs: a kept shingle exists ⇔ slot 0 < P32
    live = sigs.filter(F.element_at("sig", 1) != P32)
    bands = mh._band_rows(live, family=family)
    bux = bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("m")
    )
    bstats = bux.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.sum(F.when(F.col("m") >= 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_colliding_buckets"),
        F.max("m").cast("bigint").alias("max_bucket"),
        F.sum(F.expr("(m * (m - 1)) div 2")).cast("bigint").alias("pair_mass"),
    )
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    ns = live.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_signed")
    )
    cand = mh.pairs_within_buckets(
        bands, "doc_id", ["band", "band_key"]
    ).localCheckpoint(eager=True)
    ncd = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    pre = _est_prefilter(cand, sigs).localCheckpoint(eager=True)
    np_ = pre.agg(F.count(F.lit(1)).cast("bigint").alias("n_prefilter"))
    docs = wide_table(spark, sf_dir, "documents")
    ver = (
        exact_jaccard_pairs(pre, docs)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    nv = ver.agg(F.count(F.lit(1)).cast("bigint").alias("n_verified"))
    cl = connected_components(ver)
    cstats = cl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_dup_docs"),
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
    )
    return (
        nd.crossJoin(ns)
        .crossJoin(bstats)
        .crossJoin(ncd)
        .crossJoin(np_)
        .crossJoin(nv)
        .crossJoin(cstats)
        .select(
            "n_docs",
            "n_docs_signed",
            (F.col("n_docs_signed") * N_BANDS)
            .cast("bigint")
            .alias("n_band_rows"),
            "n_buckets",
            "n_colliding_buckets",
            "max_bucket",
            "pair_mass",
            "n_candidates",
            "n_prefilter",
            "n_verified",
            "n_dup_docs",
            "n_clusters",
            (F.col("n_docs") - F.col("n_dup_docs") + F.col("n_clusters"))
            .cast("bigint")
            .alias("n_survivors"),
        )
    )


@register(
    "dedup_recall_audit",
    oracle=f"""
    WITH truth AS (
        SELECT doc_a, doc_b FROM ({_ngram_jaccard_oracle()})
    ),
    det AS (
        SELECT doc_a, doc_b FROM ({_minhash_lsh_oracle()})
    ),
    t AS (SELECT count(*) AS n_truth FROM truth),
    d AS (SELECT count(*) AS n_detected FROM det),
    h AS (
        SELECT count(*) AS n_hit
        FROM det JOIN truth USING (doc_a, doc_b)
    )
    SELECT CAST(n_truth AS BIGINT) AS n_truth,
           CAST(n_detected AS BIGINT) AS n_detected,
           CAST(n_hit AS BIGINT) AS n_hit,
           CAST(n_truth - n_hit AS BIGINT) AS n_missed,
           CAST(n_detected - n_hit AS BIGINT) AS n_extra,
           CASE WHEN n_truth > 0
                THEN CAST((n_hit * 1000000) // n_truth AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS recall_micro
    FROM t, d, h
    """,
)
def dedup_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the LSH dedup pipeline against the exact
    ground truth (the knn_recall_audit precedent, applied to the
    dedup family): dedup_minhash_lsh's verified pair set vs
    dedup_ngram_jaccard's exact lang-blocked pairs, as DATA — the
    planted-collision tests pin family parity, but no registered
    query exposed the recall number itself.

    Honest-numbers notes: every detected pair is exact-verified ≥
    tau, so the only possible "extras" (``n_extra``) are CROSS-LANG
    true near-dups the lang-blocked ground truth cannot contain —
    precision against unblocked truth is 1.0 by construction.
    ``n_missed`` counts truth pairs banding/prefilter never
    surfaced; at the tau boundary the 16-band×8-row detection
    probability is 1-(1-j^8)^16 ≈ 0.61 at j=0.7, so a sub-1.0
    recall on a boundary-heavy corpus is the EXPECTED honest
    answer, not a defect. recall_micro is an exact integer ratio
    (×1e6, truncating div both engines), CASE-guarded for an
    empty-truth corpus.

    Scale shape: rides the two registered pipelines (the exact side
    is quadratic-within-lang by definition — the audit is a
    sampled-corpus diagnostic, not a production scan); the final
    join/counts are pair-set-sized. Builder runs jobs at plan time
    (the LSH signature checkpoint): BUILD_EXECUTES."""
    truth = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    det = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    t = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    d = det.agg(F.count(F.lit(1)).alias("n_detected"))
    h = det.join(truth, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        t.crossJoin(d)
        .crossJoin(h)
        .select(
            F.col("n_truth").cast("bigint").alias("n_truth"),
            F.col("n_detected").cast("bigint").alias("n_detected"),
            F.col("n_hit").cast("bigint").alias("n_hit"),
            (F.col("n_truth") - F.col("n_hit"))
            .cast("bigint")
            .alias("n_missed"),
            (F.col("n_detected") - F.col("n_hit"))
            .cast("bigint")
            .alias("n_extra"),
            F.when(
                F.col("n_truth") > 0,
                F.expr("cast((n_hit * 1000000) div n_truth as bigint)"),
            )
            .otherwise(F.lit(0).cast("bigint"))
            .alias("recall_micro"),
        )
    )


def exact_jaccard_pairs(cand: DataFrame, docs: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard verification of candidate (doc_a, doc_b)
    pairs against ``docs(doc_id, text)``, keeping pairs >=
    JACCARD_THRESHOLD — the shared verify stage of dedup_minhash_lsh
    and its streaming twin (stream_dedup_minhash), factored out so
    the two cannot drift. Shingle arrays are built only AFTER both
    text joins, i.e. only for candidate rows.

    The shingle arrays and the intersect/size counts are materialized
    through Generate nodes (explode of a 1-element array — the r7
    dedup_semdedup trick) BEFORE the threshold filter exists: filtering
    on an aliased expensive expression gets the expression pushed into
    the join condition inlined once per reference — the old form
    re-built each doc's shingle array ~5× per candidate row inside the
    join condition (plans/r13/dedup_cross_source_matrix_before.txt;
    measured 6.3 → 3.8 s on the 10× verify stage, recorded in
    OPTIMIZATION_r13.md; output parity exact)."""
    txt_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    txt_b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    sh_a = tx.char_shingles(F.col("text_a"), SHINGLE_K)
    sh_b = tx.char_shingles(F.col("text_b"), SHINGLE_K)
    sh = (
        cand.join(txt_a, "doc_a")
        .join(txt_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.explode(
                F.array(F.struct(sh_a.alias("a"), sh_b.alias("b")))
            ).alias("_sh"),
        )
    )
    # two sub-shingle-length docs have IDENTICAL (empty-set) minhash
    # signatures, so they band-collide into a candidate pair whose
    # union is 0: ``jaccard`` is NULL there, never an ANSI 0/0. ni/sab
    # are materialized ints, so the filter's re-reference of the
    # jaccard alias inlines only integer math.
    v = tx.shingle_overlap(sh, F.col("_sh.a"), F.col("_sh.b"))
    jac = tx.jaccard(F.col("ni"), F.col("sab") - F.col("ni"))
    return v.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


def _cross_source_oracle() -> str:
    """SQL restatement of the cross-source rollup over the
    dedup_minhash_lsh pair set — shared by the inline matrix and its
    indexed rider so the two oracles cannot drift."""
    return f"""
    WITH pairs AS (SELECT * FROM ({_minhash_lsh_oracle()}))
    SELECT least(da.source, db.source) AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*) AS n_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_a
    JOIN documents db ON db.doc_id = p.doc_b
    GROUP BY 1, 2
    """


def _cross_source_rollup(
    spark: SparkSession, sf_dir: str, pairs: DataFrame
) -> DataFrame:
    """(doc_a, doc_b) pairs → triangular per-(source_a, source_b)
    count matrix: two broadcast-sized doc→source joins + one tiny
    aggregate. Shared by dedup_cross_source_matrix and
    dedup_cross_source_indexed so the rollup cannot drift."""
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    sb = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register("dedup_cross_source_matrix", oracle=_cross_source_oracle())
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-SOURCE near-duplication matrix: the dedup_minhash_lsh
    pair set rolled up by the (unordered) source pair — the report
    that tells a curation team WHICH dumps/crawls duplicate each
    other (same-source mass = internal duplication, cross-source
    mass = mirror/re-crawl overlap), which drives source-level
    dedup-ordering decisions. least/greatest canonicalize the pair,
    so the matrix is triangular and deterministic; counts are exact
    integers over the same verified pairs the base query emits.

    Scale shape: everything is the banded LSH pipeline; the rollup
    adds two broadcast-sized doc→source joins and one tiny
    aggregate."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    return _cross_source_rollup(spark, sf_dir, pairs)


@register("dedup_cross_source_indexed", oracle=_cross_source_oracle())
def dedup_cross_source_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_cross_source_matrix riding the MATERIALIZED band index
    instead of recomputing signatures — the SECOND rider on the
    banded-index lever SCALING.md round-9 measured at 2.4× (the r9
    verdict's item 2; ``dedup_survivors_indexed`` was the first).
    The probe is exactly ``dedup_minhash_indexed``'s (bucketed-table
    groupBy, exchange-free by layout; shared ``_est_prefilter`` +
    ``exact_jaccard_pairs``), then the shared ``_cross_source_rollup``.

    Index choice: this rides ``minhash_doc_idx`` (UNBLOCKED,
    downsample=4 — the index ``dedup_minhash_indexed`` writes), NOT
    the lang-blocked downsample=1 ``minhash_fam_idx``: the inline
    matrix rolls up the dedup_minhash_lsh pair set, and parity with
    that twin (plus the shared oracle) demands the identical
    signature parameters. The registered form pays a FULL index
    (re)build inside by the standalone-query convention
    (write_minhash_index drops and rewrites — the green row
    certifies the written index); the amortized 4.3× economics
    (SCALING.md round-10: probe-only 7.7 s vs inline 33.1 s at 40×)
    apply to a deployment that builds once and runs the probe per
    rider, not to back-to-back registered forms. Builder writes the
    index at plan time: BUILD_EXECUTES. Parity with the inline
    matrix is pinned in test_dedup."""
    family = mh.minhash_family(sf_dir)
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    mh.write_minhash_index(
        spark,
        d,
        "minhash_doc_idx",
        downsample=4,
        family=family,
    )
    return _indexed_pairs(
        spark,
        sf_dir,
        "minhash_doc_idx",
        post=lambda pairs: _cross_source_rollup(
            spark, sf_dir, pairs.select("doc_a", "doc_b")
        ),
    )


HAMMING_THRESHOLD = 6


def _simhash_signatures(d: DataFrame, bits: int) -> DataFrame:
    """(doc_id, lang, simhash): ``bits``-wide simhash per document.
    Explode tokens → one codegen'd scalar sig per token → ``bits``
    plain sum() aggregates → assemble bits (see dedup_simhash's
    docstring for why this beats the array form). The per-token hash
    is the nibble-sum of the md5 hex digest — bit-identical in
    DuckDB, so the pair outputs are exactly oracle-checked.

    Slot shape (compile cost matters — the slot text is codegen'd
    ``bits``× into one method): the ±1 majority vote is folded to a
    plain bit-sum with one shared token count, bit j set iff
    ``2*s_j > n``. No per-slot NULL guard: sum() skips the
    explode_outer marker rows natively, and an empty doc yields
    n=0 → all-zero signature, same as the ±1 form."""
    tsig = F.expr(sh.token_sig_term("md5(t)", bits))
    toks = d.select(
        "doc_id", "lang", F.explode_outer(tx.tokens(F.col("text"))).alias("t")
    ).withColumn("tsig", tsig)
    counters = toks.groupBy("doc_id", "lang").agg(
        F.count(F.col("tsig")).alias("_n"),
        *[
            F.sum(F.shiftright(F.col("tsig"), j).bitwiseAND(F.lit(1))).alias(f"s{j}")
            for j in range(bits)
        ],
    )
    simhash = None
    for j in range(bits):
        bit = F.when(
            2 * F.coalesce(F.col(f"s{j}"), F.lit(0)) > F.col("_n"),
            F.lit(1 << j).cast("bigint"),
        ).otherwise(F.lit(0).cast("bigint"))
        simhash = bit if simhash is None else simhash + bit
    return counters.select("doc_id", "lang", simhash.alias("simhash"))


def _simhash_pairs_oracle(table: str = "documents") -> str:
    """SQL restatement of dedup_simhash's full output — factored so
    the detector-agreement audit nests the identical text (``table``
    parametrizes the input relation, the _minhash_lsh_oracle idiom)."""
    return f"""
    WITH toks AS (
        SELECT doc_id, lang, {tx.tokens_sql()} AS tokens FROM {table}
    ), sigs AS (
        SELECT doc_id, lang, {sh.token_sigs_expr('duckdb', 'tokens')} AS tok_sigs FROM toks
    ), hashes AS (
        SELECT doc_id, lang, {sh.simhash_expr('duckdb', 'tok_sigs')} AS simhash FROM sigs
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({sh.hamming_expr('duckdb', 'a.simhash', 'b.simhash')} AS INTEGER) AS hamming
    FROM hashes a JOIN hashes b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE {sh.hamming_expr('duckdb', 'a.simhash', 'b.simhash')} <= {HAMMING_THRESHOLD}
    """


@register("dedup_simhash", oracle=_simhash_pairs_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 32-bit md5-nibble simhash (see
    ``functions/simhash.py`` — one generator emits both dialects, so
    this probabilistic-looking operator is still exactly oracle-
    checked), pairs within Hamming distance ≤ 6, lang-blocked.

    Spark-side shape: explode tokens → one CODEGEN'D scalar
    md5+nibble sig per token → 32 plain sum() aggregates → assemble
    bits. Spark evaluates higher-order array lambdas interpreted,
    so the array-form (aggregate over tok_sigs, as the oracle
    states it) is ~2× slower — same math, different physical plan.
    """
    d = wide_table(spark, sf_dir, "documents")
    return _simhash_brute_pairs(d)


def _simhash_brute_pairs(d: DataFrame) -> DataFrame:
    """dedup_simhash's signature + lang-blocked brute pair stage over
    an explicit docs frame — factored (r11) for the detector-
    agreement audit's sampled-docs input."""
    # checkpoint: the self-join below would otherwise recompute the
    # whole signature build per side (measured: the pair join itself
    # is 0.4s codegen'd at sf0.1 — signature recompute was ~85% of
    # query time). The pair stage here is blocked brute-force, which
    # WINS below ~10k docs/block; the chunk-bucketed scale form is
    # dedup_simhash_bucketed below.
    hashes = _simhash_signatures(d, sh.BITS).localCheckpoint(eager=True)
    a = hashes.alias("a")
    b = hashes.alias("b")
    hamming = F.expr(sh.hamming_expr("spark", "a.simhash", "b.simhash"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
    )


# Calibration-sample gate (r11, closing the r10 verdict's item 5 /
# advice low 3): the spectrum and detector-agreement calibration
# queries are definitionally pair-exhaustive (an UNthresholded
# histogram / a cross-detector pair-set intersection), so their pair
# mass is Θ(n²/blocks) with no banding exit — on a 100× corpus they
# would become the suite ceiling. The scale exit is a DETERMINISTIC
# count-derived doc sample that both engines restate exactly: keep a
# doc iff u32(md5(doc_id)) < (CAP·2³²) div n_block — one count + a
# map-side integer filter (no global rank/sort), expected sample
# size ≈ CAP, and when n_block ≤ CAP the cutoff is ≥ 2³² so EVERY
# doc passes: on all natural test corpora (sf ≤ 0.1) the gate is an
# exact no-op and the outputs are bit-identical to the ungated form;
# on replica/100× corpora the pair mass pins at ~CAP²/2 per block.
# A doc-uniform md5 sample estimates the pair-distance DISTRIBUTION
# unbiasedly — exactly what a threshold-calibration read needs
# (absolute counts become sample counts; the curve shape is the
# deliverable). Shard-path parity is pinned cross-engine by the
# adversarial corpus test (tests/test_dedup.py::TestCalibrationGate).
SPECTRUM_BLOCK_CAP = 4096
AGREE_DOC_CAP = 8192
_U32_SPAN = 1 << 32


def _spectrum_oracle() -> str:
    u32 = hex_int_sql("md5(CAST(h.doc_id AS VARCHAR))")
    return f"""
    WITH toks AS (
        SELECT doc_id, lang, {tx.tokens_sql()} AS tokens FROM documents
    ), sigs AS (
        SELECT doc_id, lang, {sh.token_sigs_expr('duckdb', 'tokens')} AS tok_sigs FROM toks
    ), hashes AS (
        SELECT doc_id, lang, {sh.simhash_expr('duckdb', 'tok_sigs')} AS simhash FROM sigs
    ),
    ln AS (SELECT lang, count(*) AS nl FROM hashes GROUP BY lang),
    sampled AS (
        SELECT h.doc_id, h.lang, h.simhash
        FROM hashes h JOIN ln ON h.lang = ln.lang
        WHERE {u32} < ({SPECTRUM_BLOCK_CAP} * {_U32_SPAN}) // ln.nl
    ),
    h AS (
        SELECT CAST({sh.hamming_expr('duckdb', 'a.simhash', 'b.simhash')}
                    AS INTEGER) AS hamming
        FROM sampled a JOIN sampled b
          ON a.lang = b.lang AND a.doc_id < b.doc_id
    )
    SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
    FROM h GROUP BY hamming
    """


@register("dedup_simhash_spectrum", oracle=_spectrum_oracle())
def dedup_simhash_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash threshold-calibration SPECTRUM — the
    dedup_minhash_j_spectrum idea for the Hamming detector: the full
    lang-blocked pair-distance histogram (hamming 0..{sh.BITS},
    UNthresholded), the curve a rollout reads before picking
    HAMMING_THRESHOLD (where does the near-dup mode separate from the
    random-pair binomial bulk?). Hamming distances are exact integers
    (md5-nibble signatures — engine-identical), so every histogram
    cell is value-checked.

    Scale shape (r11): the same checkpointed signature table as
    dedup_simhash, then the count-derived md5 doc-sample gate
    (SPECTRUM_BLOCK_CAP note above) pins each lang block at ~4096
    docs before the brute pair join — an exact no-op on every
    natural test corpus (blocks ≤ cap ⇒ cutoff ≥ 2³²), a ~CAP²/2
    pair-mass bound on any 100× corpus; the histogram reduces
    map-side to ≤{sh.BITS + 1} cells. At the bucketed scale regime
    the spectrum above the pigeonhole threshold is unobservable by
    construction — this registered form is the calibration tool,
    same corpus contract as the recall audit. Signature checkpoint
    at plan time: BUILD_EXECUTES."""
    d = wide_table(spark, sf_dir, "documents")
    hashes = _simhash_signatures(d, sh.BITS).localCheckpoint(eager=True)
    u32 = hex_int(F.md5(F.col("doc_id").cast("string")))
    ln = hashes.groupBy("lang").agg(F.count(F.lit(1)).alias("nl"))
    sampled = (
        hashes.join(F.broadcast(ln), "lang")
        .where(
            u32
            < F.expr(
                f"CAST(({SPECTRUM_BLOCK_CAP} * {_U32_SPAN}) div nl AS BIGINT)"
            )
        )
        .select("doc_id", "lang", "simhash")
    )
    a = sampled.alias("a")
    b = sampled.alias("b")
    hamming = F.expr(sh.hamming_expr("spark", "a.simhash", "b.simhash"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(hamming.cast("int").alias("hamming"))
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


# Scale form of the SimHash pair stage: a WIDER signature (60 bits —
# 15 md5 nibbles, the most that fits signed-64) split into
# HAMMING_THRESHOLD+1 chunks. Pigeonhole: ≤6 differing bits cannot
# touch all 7 chunks, so every qualifying pair shares at least one
# exact chunk value — candidate generation by chunk-equality buckets
# has DETERMINISTIC 100% recall (unlike MinHash banding), and 60-bit
# chunks are 8-9 bits wide so buckets stay small enough to pair.
SIMHASH_SCALE_BITS = 60
N_SIMHASH_CHUNKS = HAMMING_THRESHOLD + 1


def _simhash_bucketed_oracle() -> str:
    """SQL restatement of the whole chunk-bucketed pipeline: 60-bit
    md5-nibble signatures, 7-way chunking, (lang, chunk, value)
    buckets, distinct a<b pairs, exact Hamming verify."""
    toks = tx.tokens_sql()
    tsigs = sh.token_sigs_expr("duckdb", "toks", SIMHASH_SCALE_BITS)
    sig = sh.simhash_expr("duckdb", "sigs", SIMHASH_SCALE_BITS)
    base, extra = divmod(SIMHASH_SCALE_BITS, N_SIMHASH_CHUNKS)
    arms, off = [], 0
    for c in range(N_SIMHASH_CHUNKS):
        size = base + (1 if c < extra else 0)
        arms.append(f"WHEN {c} THEN (sig >> {off}) & {(1 << size) - 1}")
        off += size
    case = "CASE c.chunk " + " ".join(arms) + " END"
    ham = sh.hamming_expr("duckdb", "sa.sig", "sb.sig")
    return f"""
    WITH d AS (SELECT doc_id, lang, {toks} AS toks FROM documents),
    t AS (SELECT doc_id, lang, {tsigs} AS sigs FROM d),
    s AS (SELECT doc_id, lang, {sig} AS sig FROM t),
    chunked AS (
        SELECT s.doc_id, s.lang, c.chunk, {case} AS cval
        FROM s, generate_series(0, {N_SIMHASH_CHUNKS - 1}) AS c(chunk)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM chunked AS a JOIN chunked AS b
          ON a.lang = b.lang AND a.chunk = b.chunk AND a.cval = b.cval
         AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST({ham} AS INTEGER) AS hamming
    FROM cand
    JOIN s AS sa ON sa.doc_id = cand.doc_a
    JOIN s AS sb ON sb.doc_id = cand.doc_b
    WHERE {ham} <= {HAMMING_THRESHOLD}
    """


@register("dedup_simhash_bucketed", oracle=_simhash_bucketed_oracle())
def dedup_simhash_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the CHUNK-BUCKETED pair stage —
    the O(n²)-free scale path. 60-bit signature → 7 chunks (9/9/9/9/
    8/8/8 bits) → bucket on (lang, chunk index, chunk value) →
    per-bucket combinations → exact Hamming ≤ 6 verification. Only
    (doc_id, chunk value) rows shuffle. Recall is exactly 1 by
    pigeonhole (tests assert equality with the brute-force pair join
    over the same signatures). Signatures use the md5-nibble family
    so the ENTIRE pipeline restates in SQL and the pair output is
    value-checked. The crossover study (SCALING.md) keeps this
    query off the bench: the brute pair join stays faster through at
    least 200k docs."""
    from ..dedup.minhash import pairs_within_buckets

    d = wide_table(spark, sf_dir, "documents")
    hashes = _simhash_signatures(d, SIMHASH_SCALE_BITS).localCheckpoint(eager=True)
    base, extra = divmod(SIMHASH_SCALE_BITS, N_SIMHASH_CHUNKS)
    chunk_vals, off = [], 0
    for c in range(N_SIMHASH_CHUNKS):
        size = base + (1 if c < extra else 0)
        chunk_vals.append(
            F.shiftright(F.col("simhash"), off).bitwiseAND(F.lit((1 << size) - 1))
        )
        off += size
    chunked = hashes.select(
        "doc_id", "lang", F.posexplode(F.array(*chunk_vals)).alias("chunk", "cval")
    )
    cand = pairs_within_buckets(chunked, "doc_id", ["lang", "chunk", "cval"])
    sig_a = hashes.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"))
    sig_b = hashes.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"))
    hamming = F.expr(sh.hamming_expr("spark", "sig_a", "sig_b"))
    return (
        cand.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
    )


COSINE_THRESHOLD = 0.4


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {vec.cosine6_sql('a.v', 'b.v')} AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {vec.cosine6_sql('a.v', 'b.v')} >= {COSINE_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: cosine ≥ τ within label blocks
    (labels stand in for LSH buckets at test scale; the unblocked
    scale path is ``similarity/knn.py``'s LSH bucketing). Cosine is
    a zip_with/aggregate fold in doubles — JVM-side, same fold order
    as DuckDB's list_cosine_similarity."""
    e = wide_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", vec.as_double(F.col("embedding")).alias("v")
    )
    a = e.alias("a")
    b = e.alias("b")
    cos = vec.cosine6(F.col("a.v"), F.col("b.v"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= COSINE_THRESHOLD)
    )


@register(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {lang_overlap_ctes()},
    {jaccard_pairs_cte()},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ), walk(u, m) AS (
        SELECT u, u AS m FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, w.m FROM edges e JOIN walk w ON e.v = w.u
    )
    SELECT u AS doc_id,
           min(m) AS cluster_id,
           (u = min(m)) AS is_survivor
    FROM walk GROUP BY u
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS: near-dup pairs (exact Jaccard ≥ 0.7,
    lang-blocked — the oracle-expressible pair graph) → connected
    components via iterative min-label propagation
    (``dedup/clusters.py``) → survivor marking. The oracle computes
    the same closure with a recursive CTE — an iterative Spark
    algorithm, still exactly value-checked."""
    from ..dedup.clusters import connected_components, dedup_survivors

    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return dedup_survivors(connected_components(pairs))


def _clusters_walk_body() -> str:
    """WITH-body (first CTE through ``walk``) of the LSH-cluster
    transitive closure — shared by dedup_clusters_lsh and
    dedup_survivors_quality (plans/text.py) so the cluster semantics
    cannot drift. Callers prepend WITH RECURSIVE and select from
    ``walk``."""
    return f"""{_minhash_cand_ctes("documents", downsample=1, lang=True)},
    {verified_pairs_ctes("mh_cand")},
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(u, m) AS (
        SELECT u, u AS m FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, w.m FROM edges e JOIN walk w ON e.v = w.u
    )"""


def _clusters_lsh_oracle() -> str:
    """SQL restatement of dedup_clusters_lsh (md5 family): lang-
    blocked LSH candidates → exact-Jaccard verify → the same
    recursive-CTE transitive closure dedup_clusters uses."""
    return f"""
    WITH RECURSIVE {_clusters_walk_body()}
    SELECT u AS doc_id,
           min(m) AS cluster_id,
           (u = min(m)) AS is_survivor
    FROM walk GROUP BY u
    """


@register("dedup_clusters_lsh", oracle=_clusters_lsh_oracle())
def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_clusters`` with the SCALE-PATH pair generator: lang-
    blocked MinHash-LSH candidates, exact-verified (Jaccard ≥ 0.7),
    feed the same connected-components closure. The quadratic
    lang-blocked self-join is the only part of dedup_clusters that
    cannot run at 100 TB; this swaps it for the linear LSH stage.
    The sf-gated md5 family (``minhash_family``) lets the whole
    pipeline — candidates, verification, AND the iterative closure —
    be value-checked against ``_clusters_lsh_oracle``'s recursive
    CTE at correctness scale; deployments keep xxhash (same output
    on the test corpora, TestFamilyParity; tests also pin equality
    with the oracle-checked dedup_clusters — cost changes, results
    don't)."""
    from ..dedup.clusters import connected_components, dedup_survivors

    return dedup_survivors(
        connected_components(_lsh_verified_pairs(spark, sf_dir))
    )


def _lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The lang-blocked LSH candidate pairs, exact-Jaccard-verified —
    the pair front end of dedup_clusters_lsh, shared with
    dedup_survivors_quality (plans/text.py)."""
    family = mh.minhash_family(sf_dir)
    d = wide_table(spark, sf_dir, "documents")
    sigs = mh.minhash_signature_from_text(
        d.select("doc_id", "lang", "text"),
        ["doc_id", "lang"],
        family=family,
    ).localCheckpoint(eager=True)
    cand = mh.lsh_candidate_pairs(sigs, block_cols=("lang",), family=family)
    return _verify_pairs_full_shingles(d, cand)


def _candidate_jaccard(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """(doc_a, doc_b, ni, nu) for every candidate pair, against a
    CHECKPOINTED shingle table of ``docs(doc_id, text)`` — the
    downsample=1 family's verify input (its candidate stream is wide
    enough that the one-pass shingle materialization beats
    per-candidate shingling). Shared by the thresholded verify AND the
    J-band spectrum so the two cannot drift (r9 review catch)."""
    shingled = docs.select(
        "doc_id", tx.char_shingles(F.col("text"), SHINGLE_K).alias("shingles")
    ).localCheckpoint(eager=True)
    sh_a = shingled.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = shingled.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    v = tx.shingle_overlap(
        cand.join(sh_a, "doc_a").join(sh_b, "doc_b"), F.col("sh_a"), F.col("sh_b")
    )
    return v.select("doc_a", "doc_b", "ni", (F.col("sab") - F.col("ni")).alias("nu"))


def _verify_pairs_full_shingles(docs: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact-Jaccard verify of (doc_a, doc_b) candidates against
    ``docs(doc_id, text)`` (see ``_candidate_jaccard``); shared by the
    inline pair front end, dedup_survivors_indexed and both LSH
    curation pipelines so they cannot drift."""
    v = _candidate_jaccard(docs, cand)
    return v.filter(
        tx.jaccard(F.col("ni"), F.col("nu")) >= JACCARD_THRESHOLD
    ).select("doc_a", "doc_b")


# Banded hyperplane LSH for the UNBLOCKED embedding near-dup path:
# 4 bands × 4 sign bits. P(candidate) = 1-(1-p^4)^4 with
# p = 1 - θ/π: ≈0.96 at cosine 0.9, ≈0.50 at the 0.4 threshold —
# recall concentrates on the high-similarity pairs dedup cares
# about, and exact verification keeps precision at 1.
N_EMB_BANDS = 4
PLANES_PER_BAND = 4


def _emb_lsh_cand_sql(n_bands: int, ppb: int) -> str:
    """The WITH-clause body shared by every banded hyperplane-LSH
    oracle: the sign-bit buckets (``vectors.hyperplane_bucket_ctes``)
    and the distinct a<b pairs sharing any (band, bucket)."""
    return f"""{vec.hyperplane_bucket_ctes(n_bands, ppb)},
    cand AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM buckets AS a JOIN buckets AS b
          ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    )"""


def _emb_lsh_oracle(
    n_bands: int = N_EMB_BANDS,
    ppb: int = PLANES_PER_BAND,
    threshold: float = COSINE_THRESHOLD,
) -> str:
    """SQL restatement of the banded hyperplane-LSH pair pipeline:
    candidates (``_emb_lsh_cand_sql``) + exact cosine ≥ threshold."""
    return f"""
    WITH {_emb_lsh_cand_sql(n_bands, ppb)}
    SELECT c.vec_a, c.vec_b,
           {vec.cosine6_sql('ea.v', 'eb.v')} AS cosine
    FROM cand AS c
    JOIN e AS ea ON ea.vec_id = c.vec_a
    JOIN e AS eb ON eb.vec_id = c.vec_b
    WHERE {vec.cosine6_sql('ea.v', 'eb.v')} >= {threshold}
    """


@register("dedup_embedding_lsh", oracle=_emb_lsh_oracle())
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs WITHOUT label blocking — the scale
    path ``dedup_embedding_cosine``'s docstring promises: banded
    sign-bit (hyperplane) LSH buckets the whole corpus, per-bucket
    combinations give candidates, exact cosine verifies. The corpus
    shuffles only (vec_id, band, bucket) rows; vectors are read
    again just for surviving candidates. Recall is probabilistic by
    design, but the md5-derived planes let the WHOLE pipeline
    restate in SQL (``_emb_lsh_oracle``), so the emitted pairs and
    cosines are value-checked; tests additionally pin determinism
    and recall on planted duplicates.

    Band-width is THRESHOLD-driven (the 100 TB design note): at this
    operator's deliberately low cosine threshold (0.4 — the corpus
    holds no high-cos near-dups, its whole output lives at 0.4-0.6),
    sign-bit agreement per plane is only ~0.63, so catching such
    pairs at all forces coarse 4-bit bands and population-heavy
    buckets; the r4 chunked pair expansion is what keeps those
    buckets from serializing or OOMing one task. A production
    embedding dedupe at threshold ≥0.95 (p_bit ≈ 0.9) flips the
    economics: 16-bit bands give ~65k buckets/band with near-perfect
    recall for true near-dups, near-singleton buckets, and a
    candidate set linear in the corpus — tune PLANES_PER_BAND up
    with the threshold, never independently of it."""
    return _emb_lsh_pairs(
        spark, sf_dir, N_EMB_BANDS, PLANES_PER_BAND, COSINE_THRESHOLD
    )


def _emb_lsh_candidates(
    spark: SparkSession, sf_dir: str, n_bands: int, ppb: int,
    distinct: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Shared banded hyperplane-LSH candidate stage: returns
    ``(cand, e)`` — distinct undirected bucket-collision pairs
    (doc_a < doc_b) and the (vec_id, v) vector table. See
    dedup_embedding_lsh for the full design notes."""
    from ..dedup.minhash import pairs_within_buckets

    e = wide_table(spark, sf_dir, "embeddings").select(
        "vec_id", vec.as_double(F.col("embedding")).alias("v")
    )
    buckets = vec.hyperplane_buckets(e, "v", n_bands, ppb)
    return (
        pairs_within_buckets(
            buckets, "vec_id", ["band", "bucket"], distinct=distinct
        ),
        e,
    )


def _emb_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    n_bands: int,
    ppb: int,
    threshold: float,
) -> DataFrame:
    """Shared banded hyperplane-LSH pair pipeline (see
    dedup_embedding_lsh for the full design notes); parameterized so
    the corpus-tuned low-threshold config and the production-shaped
    strict config register as twins over one implementation."""
    cand, e = _emb_lsh_candidates(spark, sf_dir, n_bands, ppb)
    va = e.select(F.col("vec_id").alias("doc_a"), F.col("v").alias("va"))
    vb = e.select(F.col("vec_id").alias("doc_b"), F.col("v").alias("vb"))
    cos = vec.cosine6(F.col("va"), F.col("vb"))
    return (
        cand.join(va, "doc_a")
        .join(vb, "doc_b")
        .select(
            F.col("doc_a").alias("vec_a"),
            F.col("doc_b").alias("vec_b"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# Production-shaped strict twin: threshold 0.95, 8 bands x 16 bits.
# P(bit agree) at cosine 0.95 is 1 - θ/π ≈ 0.90 → band match 0.9^16
# ≈ 0.18 → detection 1-(1-0.18)^8 ≈ 0.80; at cosine 0.99 ≈ 0.98.
# 65k buckets per band keep buckets near-singleton, so the candidate
# set stays linear in the corpus — the economics the low-threshold
# config's docstring derives. This corpus holds no ≥0.95 pairs, so
# the sf oracle pins the empty answer (and every intermediate
# md5-derived stage); planted-duplicate recall is test-pinned.
STRICT_COS_THRESHOLD = 0.95
STRICT_EMB_BANDS = 8
STRICT_PLANES_PER_BAND = 16


@register(
    "dedup_embedding_lsh_strict",
    oracle=_emb_lsh_oracle(
        STRICT_EMB_BANDS, STRICT_PLANES_PER_BAND, STRICT_COS_THRESHOLD
    ),
)
def dedup_embedding_lsh_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-threshold embedding near-dup pairs with 16-bit bands —
    the parameterization a 100 TB dedupe runs (see the band-width
    note on dedup_embedding_lsh and the constants above). Same
    implementation, same full SQL restatement."""
    return _emb_lsh_pairs(
        spark,
        sf_dir,
        STRICT_EMB_BANDS,
        STRICT_PLANES_PER_BAND,
        STRICT_COS_THRESHOLD,
    )


def _ann_self_join_oracle() -> str:
    return f"""
    WITH {_emb_lsh_cand_sql(N_EMB_BANDS, PLANES_PER_BAND)},
    directed AS (
        SELECT vec_a AS vec_id, vec_b AS cnd FROM cand
        UNION ALL
        SELECT vec_b, vec_a FROM cand
    ),
    scored AS (
        SELECT d.vec_id, d.cnd,
               {vec.cosine6_sql('ea.v', 'eb.v')} AS cosine
        FROM directed AS d
        JOIN e AS ea ON ea.vec_id = d.vec_id
        JOIN e AS eb ON eb.vec_id = d.cnd
    )
    SELECT vec_id, cnd AS nn_id, cosine FROM (
        SELECT vec_id, cnd, cosine,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cosine DESC, cnd) AS rn
        FROM scored
    ) WHERE rn = 1
    """


@register("embeddings_ann_self_join", oracle=_ann_self_join_oracle())
def embeddings_ann_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN SELF-join (k=1): every vector's nearest neighbor among its
    LSH bucket-mates — the all-vectors form of the single-query ANN
    family (what dedup clustering and hard-negative mining actually
    run at scale: one banded pass gives every row a neighbor, no
    per-query scans). Candidates come from the same banded
    hyperplane buckets as dedup_embedding_lsh; each undirected
    collision serves both directions; the per-vector argmax is a
    map-side-combining ``max_by`` over (ROUNDED cosine, -nn_id) —
    ordering by the rounded value is what keeps the winner
    engine-exact when two candidates tie at 6 dp. Vectors with no
    bucket-mates emit nothing (a deployment widens bands or falls
    back to brute force for the residue — the recall economics note
    on dedup_embedding_lsh). md5-derived planes make the whole
    pipeline SQL-restatable, so even the argmax is value-checked."""
    # distinct=False: the per-vector max_by absorbs duplicate pairs,
    # so the multi-band duplicate stream never needs a dedup hash map
    # (the 40× replica corpus OOMed the distinct before this)
    cand, e = _emb_lsh_candidates(
        spark, sf_dir, N_EMB_BANDS, PLANES_PER_BAND, distinct=False
    )
    directed = cand.select(
        F.col("doc_a").alias("vec_id"), F.col("doc_b").alias("cnd")
    ).unionByName(
        cand.select(
            F.col("doc_b").alias("vec_id"), F.col("doc_a").alias("cnd")
        )
    )
    ea = e.select(F.col("vec_id").alias("vec_id"), F.col("v").alias("va"))
    eb = e.select(F.col("vec_id").alias("cnd"), F.col("v").alias("vb"))
    # BROADCAST both vector tables (the prefix-join bitmap-index
    # rationale): the candidate stream is the side that explodes on
    # near-dup-heavy corpora, so it must never be shuffled or sorted
    # carrying two 512-byte vectors per row — without the hints a
    # SortMergeJoin buffered exactly that and OOMed the 40× replica
    # corpus. With them, cosine is computed straight out of the join
    # and the max_by partial aggregate reduces map-side, so per-task
    # memory is bounded by the vector table, not the candidate mass.
    scored = (
        directed.join(F.broadcast(ea), "vec_id")
        .join(F.broadcast(eb), "cnd")
        .select(
            "vec_id",
            "cnd",
            vec.cosine6(F.col("va"), F.col("vb")).alias("cosine"),
        )
    )
    best = scored.groupBy("vec_id").agg(
        F.max_by(
            F.struct("cnd", "cosine"),
            F.struct(F.col("cosine"), (-F.col("cnd")).alias("nt")),
        ).alias("b")
    )
    return best.select(
        "vec_id", F.col("b.cnd").alias("nn_id"), F.col("b.cosine").alias("cosine")
    )


# SemDeDup (Abbas et al., "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication", 2023): the
# LLM-pretraining semantic-dedup operator. Where dedup_embedding_*
# blocks candidate pairs by a GIVEN key (label) or by LSH bands,
# SemDeDup first k-means-clusters the embedding space and compares
# pairs only WITHIN each learned cluster — the clusters both bound
# the quadratic stage and catch near-duplicates that share no label
# or bucket.
#
# Scale design (r6 rework; r11 driver-state bound below): the
# quantizer runs in the 1e6-scaled INTEGER domain on the
# similarity/pq.py Arrow passes — training is one mapInPandas scan
# per Lloyd round emitting bounded partials, assignment is one GEMM
# scan — and nlist DERIVES FROM THE CORPUS (min(max(8,
# n // SEM_TARGET_CLUSTER), SEM_MAX_NLIST)); cluster sizes, and with
# them the quadratic per-block pair mass, stay bounded at any scale
# via the in-cell shard split once the nlist cap binds.
# The float-k-means first cut paid an interpreted per-(row,centroid)
# l2 fold AND was stuck at nlist=8 (68 s at the 10x corpus,
# SCALING.md). Exactness: distances/argmin/updates are exact
# integers (trunc-div centroid updates), the cosine threshold is the
# integer predicate 25·dot² >= 4·na·nb with dot > 0 (tau=0.4, exact
# as 4/25), and the display cosine divides exact-integer-derived
# doubles with one IEEE sqrt each — so the WHOLE pipeline, dynamic
# nlist included, restates in SQL (the seed count is a scalar
# subquery inside the static unroll).
SEM_ITERS = 2
SEM_MIN_NLIST = 8
SEM_TARGET_CLUSTER = 640
# Driver-state bound (r11, the r10 verdict's one named scale-killer):
# uncapped, nlist = n/640 made the per-Lloyd-round centroid collect
# and the task-closure centroid matrix grow LINEARLY with the corpus
# (~1e8 ints through the driver at 1e9 vectors). nlist is now capped
# at SEM_MAX_NLIST, so driver state is <= 4096 x 64 int64 (~2 MB) and
# the per-round partial collect is <= nlist x 64 rows — INDEPENDENT
# OF n. Once the cap binds (n > SEM_MAX_NLIST*SEM_TARGET_CLUSTER
# ~ 2.6M vectors), cells grow as n/4096, so the pair stages re-pin
# their quadratic mass with a SECOND in-cell md5-shard split: block =
# (cid, shard), shard = (row_number within cid ordered by
# md5(vec_id)) div SEM_SHARD_CAP. The cap is 4x the target cell size
# — observed imbalance is ~1.15x (embeddings_ivf_cell_stats), so on
# non-pathological corpora every cell is one shard and outputs are
# bit-identical to the unsharded form; the split engages exactly when
# a cell would otherwise go quadratic. md5-derived and restated in
# SQL, so the oracles stay exact on ANY corpus (the shard-path
# cross-engine pin lives in tests/test_prefix_sum.py).
SEM_MAX_NLIST = 4096
SEM_SHARD_CAP = 4 * SEM_TARGET_CLUSTER
# nlist formula shared by all three riders' oracles (the r8
# shared-helper rule — riders of one quantizer cannot drift)
SEM_NLIST_SQL = (
    f"least(greatest({SEM_MIN_NLIST}, "
    f"(SELECT count(*) FROM e) // {SEM_TARGET_CLUSTER}), {SEM_MAX_NLIST})"
)
# tau = 0.4 (this corpus's near-dup level; deployments run ~0.95+,
# exercised by dedup_embedding_lsh_strict) as the exact rational
# tau^2 = SEM_TAU2_NUM / SEM_TAU2_DEN
SEM_TAU2_NUM = 4
SEM_TAU2_DEN = 25
assert abs(SEM_TAU2_NUM / SEM_TAU2_DEN - COSINE_THRESHOLD**2) < 1e-12


def _sem_vq_sql() -> str:
    """WITH-head shared by the oracles of the SemDeDup quantizer's
    three riders: the quantized rows ``e`` and the unrolled VQ with
    its in-cell shards (``af``)."""
    from ..similarity.pq import vq_kmeans_unrolled_cte

    return f"""WITH {vec.quantized_sql()},
    {vq_kmeans_unrolled_cte(SEM_ITERS, SEM_NLIST_SQL, shard_cap=SEM_SHARD_CAP)}"""


def _semdedup_oracle() -> str:
    return (
        _sem_vq_sql()
        + f""",
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cid,
               list_sum(list_transform(range(1, 65),
                        i -> a.xi[i] * b.xi[i])) AS dot,
               a.nrm AS na, b.nrm AS nb
        FROM af AS a JOIN af AS b
          ON a.cid = b.cid AND a.shard = b.shard
         AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, CAST(cid AS INTEGER) AS cluster_id,
           round(dot / (sqrt(na) * sqrt(nb)), 6) AS cosine
    FROM pairs
    WHERE dot > 0
      AND {SEM_TAU2_DEN} * dot * dot >= {SEM_TAU2_NUM} * na * nb
    """
    )


def _vq_assigned(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, int, int]:
    """The integer-VQ front end shared by dedup_semdedup,
    embeddings_knn_graph_ivf, and embeddings_ivf_cell_stats (the r8
    shared-scorer rule — riders of one quantizer cannot drift):
    corpus-derived CAPPED nlist (min(max({SEM_MIN_NLIST},
    n // {SEM_TARGET_CLUSTER}), {SEM_MAX_NLIST})), {SEM_ITERS} rounds
    of the similarity/pq.py trainer, one assignment scan, then
    the in-cell md5-rank shard split (SEM_SHARD_CAP design note
    above — driver state is bounded at nlist x 64 int64 ~ 2 MB
    INDEPENDENT OF n; the shard re-pins per-block pair mass once the
    cap lets cells grow). Returns (assigned, n, nlist): the PERSISTED
    (vec_id, xi, nrm, cid, shard) table plus the corpus count and
    derived nlist, so riders never rescan the table or re-derive the
    formula (r10 review)."""
    from ..similarity import pq

    e = wide_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = e.count()
    nlist = min(max(SEM_MIN_NLIST, n // SEM_TARGET_CLUSTER), SEM_MAX_NLIST)
    cents = pq.train(e, pq.seed_rows(e, nlist), 1, SEM_ITERS)[0]
    wsh = Window.partitionBy("cid").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    assigned = (
        pq.vq_assign_pass(e, cents)
        .withColumn("_shrn", F.row_number().over(wsh))
        .withColumn(
            "shard",
            F.expr(f"CAST((_shrn - 1) div {SEM_SHARD_CAP} AS BIGINT)"),
        )
        .drop("_shrn")
    )
    assigned.persist()
    return assigned, n, nlist


@register("dedup_semdedup", oracle=_semdedup_oracle())
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs, SemDeDup-style (see note above):
    integer-domain k-means with corpus-derived nlist, then exact
    quantized cosine >= tau within each cluster only.

    Scale shape: every training round and the final assignment is
    ONE Arrow scan (GEMM per batch, bounded partials — the
    treeAggregate shape); the codebook is driver-state like IVF's
    centroid table, bounded at {SEM_MAX_NLIST} × 64 ints (~2 MB)
    independent of n (r11); the pair stage is quadratic per BLOCK
    ((cid, shard) — shard is the in-cell md5-rank split at
    {SEM_SHARD_CAP} that engages once the nlist cap lets cells
    grow), so pair mass grows LINEARLY with the corpus at ANY n.
    The assignment table (carrying each row's quantized vector +
    squared norm, computed once per ROW in the scan) persists before
    feeding both sides of the pair join. Builder collects the
    codebook at plan time: BUILD_EXECUTES."""
    assigned, _, _ = _vq_assigned(spark, sf_dir)
    a, b = assigned.alias("a"), assigned.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.xi"), F.col("b.xi"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.shard") == F.col("b.shard"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.cid").alias("cid"),
            # explode(array(dot)) materializes the interpreted
            # 64-element fold through a Generate node: the threshold
            # below references `dot` three times (dot>0 + dot·dot)
            # and as a plain alias the fold would inline and run
            # once PER REFERENCE on every candidate pair (the
            # prefix-join single-reference lesson; advice r6) —
            # generator outputs are materialized attributes that
            # CollapseProject/pushdown cannot substitute into
            F.explode(F.array(dot)).alias("dot"),
            F.col("a.nrm").alias("na"),
            F.col("b.nrm").alias("nb"),
        )
    )
    # 25·dot² and 4·na·nb reach ~6.6e28 — DECIMAL, never int64
    lhs = (
        F.col("dot").cast("decimal(19,0)") * F.col("dot") * SEM_TAU2_DEN
    )
    rhs = F.col("na").cast("decimal(19,0)") * F.col("nb") * SEM_TAU2_NUM
    return (
        pairs.filter((F.col("dot") > 0) & (lhs >= rhs))
        .select(
            "vec_a",
            "vec_b",
            F.col("cid").cast("int").alias("cluster_id"),
            F.round(
                F.col("dot") / (F.sqrt("na") * F.sqrt("nb")), 6
            ).alias("cosine"),
        )
    )


# Exact-substring duplicate spans (Lee et al., "Deduplicating
# Training Data Makes Language Models Better", ACL'22): the
# complement of document-level dedup — find the REGIONS of text that
# appear more than once anywhere in the corpus (boilerplate,
# licenses, quoted passages), the spans the paper's suffix-array
# pass removes before training. Spark-first restatement of the same
# semantics: a char-ESD_K-gram occurring >= 2 times corpus-wide
# (self-repeats included, as in the paper) marks its start position
# duplicated; consecutive duplicated positions merge into maximal
# spans by the gaps-and-islands window. Everything is integer
# positions and counts — full SQL restatement, value-checked.
ESD_K = 20


def _span_ctes(gap: int) -> str:
    """Shared duplicated-position island CTE chain (p0 → grp),
    parameterized by the island-merge GAP: positions i and lag(i)
    stay in one island iff i - lag(i) <= gap. gap=1 gives the exact
    twin's consecutive-position islands; gap=ESD_K merges islands
    whose COVERED CHAR RANGES overlap or touch (position i covers
    chars [i, i+K-1], so ranges of lag and i are disjoint iff
    i - lag > K), which is what makes the summary's char masses an
    exact set union instead of an overcount."""
    return f"""p0 AS (
        SELECT doc_id,
               unnest(generate_series(1,
                      greatest(len(text) - {ESD_K - 1}, 0))) AS i,
               text
        FROM documents
    ),
    g AS (
        SELECT doc_id, CAST(i AS INTEGER) AS i,
               substring(text, i, {ESD_K}) AS gram
        FROM p0
    ),
    dup AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    pos AS (SELECT g.doc_id, g.i FROM g JOIN dup USING (gram)),
    flg AS (
        SELECT doc_id, i,
               CASE WHEN lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                         >= i - {gap}
                    THEN 0 ELSE 1 END AS f
        FROM pos
    ),
    grp AS (
        SELECT doc_id, i,
               sum(f) OVER (PARTITION BY doc_id ORDER BY i) AS gid
        FROM flg
    )"""


@register(
    "documents_duplicate_spans",
    oracle=f"""
    WITH {_span_ctes(1)}
    SELECT doc_id,
           CAST(min(i) AS BIGINT) AS span_start,
           CAST(max(i) + {ESD_K - 1} AS BIGINT) AS span_end,
           CAST(max(i) + {ESD_K} - min(i) AS BIGINT) AS span_len,
           count(*) AS n_dup_grams
    FROM grp
    GROUP BY doc_id, gid
    """,
)
def documents_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-text spans per document (see note above):
    positions whose {ESD_K}-gram repeats corpus-wide, merged into
    spans by gaps-and-islands.

    Scale shape: gram generation is EXPLODE + codegen'd substring
    (the prefix-join idiom — no interpreted lambdas) over the
    compute-widened corpus; the duplicated-gram vocabulary reduces
    map-side before its shuffle; the position join shuffles on the
    gram key; island-merging windows partition PER DOC, so
    parallelism grows with the corpus. Total work is Θ(total chars)
    — this is the linear-pass alternative to the paper's suffix
    array, trading generality (fixed minimum match length {ESD_K})
    for a shuffle-friendly plan."""
    return _duplicate_span_table(spark, sf_dir, gap=1)


def _duplicate_span_table(
    spark: SparkSession, sf_dir: str, gap: int = 1
) -> DataFrame:
    """The per-(doc, island) span grid — the Spark twin of
    ``_span_ctes(gap)`` (see its docstring for the gap semantics):
    gap=1 for documents_duplicate_spans' consecutive-position
    islands, gap=ESD_K for the summary's char-union islands."""
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    g = (
        d.where(F.length("text") >= ESD_K)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - F.lit(ESD_K - 1))
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            F.col("i").cast("int").alias("i"),
            F.expr(f"substring(text, i, {ESD_K})").alias("gram"),
        )
    )
    # FUSED dup-position detection (r8, the verdict's span lever):
    # count(*) OVER (PARTITION BY gh, gram) — ONE shuffle of the gram
    # table replaces the r7 groupBy-count + join-back pair (two
    # gram-keyed passes over a persisted Θ(chars) table). gram
    # determines gh (md5-u60 prefix), so the count is EXACTLY
    # count-by-gram and the oracle's `HAVING count(*) >= 2` CTE is
    # unchanged; gh exists purely to make the window sort radix-fast
    # (numeric first key; the trailing gram comparison fires almost
    # only on true equals). Measured best-of-2 at 40×: 78.3 s (r7
    # join form) → 14.0 s; the all-string-key fused form sat at
    # 25.2 s — the sort key, not the pass count alone, is the lever
    # (probe matrix recorded in SCALING.md).
    gh = hex_int(F.md5(F.col("gram")), 1, 15)
    wg = Window.partitionBy("gh", "gram")
    pos = (
        g.select("doc_id", "i", "gram", gh.alias("gh"))
        .select("doc_id", "i", F.count(F.lit(1)).over(wg).alias("c"))
        .where(F.col("c") >= 2)
        .select("doc_id", "i")
    )
    w = Window.partitionBy("doc_id").orderBy("i")
    flg = pos.select(
        "doc_id",
        "i",
        F.when(F.lag("i").over(w) >= F.col("i") - gap, 0)
        .otherwise(1)
        .alias("f"),
    )
    grp = flg.select(
        "doc_id", "i", F.sum("f").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("gid")
    )
    return grp.groupBy("doc_id", "gid").agg(
        F.min("i").cast("bigint").alias("span_start"),
        (F.max("i") + F.lit(ESD_K - 1)).cast("bigint").alias("span_end"),
        (F.max("i") + F.lit(ESD_K) - F.min("i")).cast("bigint").alias("span_len"),
        F.count(F.lit(1)).alias("n_dup_grams"),
    ).drop("gid")


@register(
    "documents_duplicate_spans_summary",
    oracle=f"""
    WITH {_span_ctes(ESD_K)},
    spans AS (
        SELECT doc_id, min(i) AS s, max(i) AS e, count(*) AS n
        FROM grp GROUP BY doc_id, gid
    ),
    lens AS (SELECT doc_id, len(text) AS doc_len FROM documents)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(s.n) AS BIGINT) AS n_dup_grams,
           CAST(max(s.e + {ESD_K} - s.s) AS BIGINT) AS max_span_len,
           CAST(sum(s.e + {ESD_K} - s.s) AS BIGINT) AS dup_chars,
           round(CAST(CAST(sum(s.e + {ESD_K} - s.s) AS BIGINT) AS DOUBLE)
                 / min(l.doc_len), 6) AS dup_frac
    FROM spans s JOIN lens l ON l.doc_id = s.doc_id
    GROUP BY s.doc_id
    """,
)
def documents_duplicate_spans_summary(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document duplication SUMMARY — the answer-mass-capped
    companion of ``documents_duplicate_spans``: one row per document
    with >= 1 duplicated span (span count, duplicated-gram count,
    longest span, duplicated char mass, duplicated fraction of the
    doc), instead of the full span enumeration.

    Islands here merge at gap=ESD_K (char-range union — see
    ``_span_ctes``): two position-islands closer than a gram length
    cover OVERLAPPING char ranges, and summing the exact twin's
    per-island lengths would double-count the overlap (round-7
    review catch: dup_frac could exceed 1.0, silently identically on
    both engines). With char-union islands, dup_chars is the exact
    cardinality of the duplicated char SET and dup_frac <= 1 by
    construction — n_spans/max_span_len are therefore CHAR-island
    stats (n_spans <= the exact twin's island count).

    This is the form a 100 TB curation pipeline consumes (filter
    docs by dup_frac / longest span, à la Lee et al.'s "drop docs
    that are mostly duplicated text"), and it bounds the OUTPUT at
    one row per doc where the exact twin's span list grows with the
    answer mass (81.9 s at 40×, SCALING.md round-7 table — the
    replica corpus duplicates nearly every position, so spans
    approach docs × islands). The span-finding stages are shared
    (same Θ(total chars) gram pass — that part is irreducible: every
    char must be read); what the cap removes is the answer-sized
    output and everything a consumer would pay downstream of it.
    Integer-exact: span extents and char masses are integers; the
    single double division (dup_frac) is exact-int/exact-int rounded
    6dp on both engines."""
    spans = _duplicate_span_table(spark, sf_dir, gap=ESD_K)
    lens = (
        wide_table(spark, sf_dir, "documents")
        .select("doc_id", F.length("text").alias("doc_len"))
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("n_dup_grams").alias("n_dup_grams"),
            F.max("span_len").alias("max_span_len"),
            F.sum("span_len").alias("dup_chars"),
        )
        .join(F.broadcast(lens), "doc_id")
        .select(
            "doc_id",
            "n_spans",
            "n_dup_grams",
            "max_span_len",
            "dup_chars",
            F.round(
                F.col("dup_chars").cast("double") / F.col("doc_len"), 6
            ).alias("dup_frac"),
        )
    )


# Winnowing fingerprint overlap (Schleimer, Wilkerson & Aiken,
# "Winnowing: Local Algorithms for Document Fingerprinting",
# SIGMOD'03 — the MOSS algorithm): hash every char-WIN_K-gram, slide
# a WIN_W-hash window, and keep each window's RIGHTMOST MINIMUM —
# storing ~2/(w+1) of the hashes while GUARANTEEING that any shared
# substring of length >= WIN_W + WIN_K - 1 contributes at least one
# shared fingerprint. Docs sharing >= WIN_MIN_SHARED distinct
# fingerprints are overlap candidates. Determinism/exactness: the
# base hash is the portable md5-nibble u32; the rightmost-min-per-
# window rule collapses to ONE integer window-min via the composite
# key h·2^20 + (2^20 − i) (lexicographic: smallest h, then LARGEST
# position — docs are far shorter than 2^20 chars and the key tops
# out near 2^52); positions and counts are integers end-to-end, so
# the whole pipeline restates in SQL. Ubiquitous fingerprints
# (document frequency > WIN_DF_CAP) are dropped before pairing —
# the standard MOSS move against boilerplate, and what bounds the
# per-fingerprint pair fan-out at scale.
# MIN_SHARED calibrated on this shared-vocab corpus (common words
# make single 8-gram fingerprints collide freely): >=5 shared
# fingerprints selects 561 of 124,750 possible pairs (0.45%) at
# sf0.01; >=2 selected 11% — useless as a candidate set.
WIN_K = 8
WIN_W = 4
WIN_DF_CAP = 20
WIN_MIN_SHARED = 5
_WIN_POS = 1 << 20


# Shared winnowing CTE chain (through the distinct fingerprint
# table) for the pair join and its capped variant. The p0 length
# guard enforces the composite key's positional assumption (docs
# must be shorter than _WIN_POS chars or h·2^20+(2^20−i) goes
# negative and corrupts rightmost-min selection); both engines drop
# over-long docs identically, so the oracle stays exact on any
# corpus instead of silently sharing the corruption.
_WINNOW_FP_CTES = f"""
    p0 AS (
        SELECT doc_id,
               unnest(generate_series(1,
                      greatest(len(text) - {WIN_K - 1}, 0))) AS i,
               text
        FROM documents
        WHERE len(text) < {_WIN_POS}
    ),
    g AS (
        SELECT doc_id, CAST(i AS INTEGER) AS i,
               {mh.md5_shingle_hash_sql(f"substring(text, i, {WIN_K})")}
                   AS h
        FROM p0
    ),
    keyed AS (
        SELECT doc_id, i, h,
               h * {_WIN_POS} + ({_WIN_POS} - i) AS key
        FROM g
    ),
    wmin AS (
        SELECT doc_id, i,
               min(key) OVER (PARTITION BY doc_id ORDER BY i
                              ROWS BETWEEN {WIN_W - 1} PRECEDING
                                       AND CURRENT ROW) AS sel
        FROM keyed
    ),
    fp AS MATERIALIZED (
        SELECT DISTINCT doc_id, sel // {_WIN_POS} AS h
        FROM wmin WHERE i >= {WIN_W}
    )"""


def _winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, h) winnowing fingerprints — the Spark twin
    of ``_WINNOW_FP_CTES`` (same length guard, same md5-nibble base
    hash, same composite-key rightmost-min window)."""
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    g = (
        d.where(
            (F.length("text") >= WIN_K) & (F.length("text") < _WIN_POS)
        )
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.length("text") - F.lit(WIN_K - 1))
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            F.col("i").cast("int").alias("i"),
            mh.shingle_hash(
                F.expr(f"substring(text, i, {WIN_K})"), "md5"
            ).alias("h"),
        )
    )
    keyed = g.select(
        "doc_id",
        "i",
        (F.col("h") * _WIN_POS + (F.lit(_WIN_POS) - F.col("i"))).alias("key"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(WIN_W - 1), 0)
    )
    wmin = keyed.select(
        "doc_id", "i", F.min("key").over(w).alias("sel")
    ).where(F.col("i") >= WIN_W)
    return wmin.select(
        "doc_id", F.expr(f"sel div {_WIN_POS}").alias("h")
    ).distinct()


@register(
    "documents_winnowing_pairs",
    oracle=f"""
    WITH {_WINNOW_FP_CTES},
    rare AS (
        SELECT h FROM fp GROUP BY h HAVING count(*) <= {WIN_DF_CAP}
    ),
    fpr AS (SELECT fp.doc_id, fp.h FROM fp JOIN rare USING (h))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           count(*) AS n_shared
    FROM fpr a JOIN fpr b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {WIN_MIN_SHARED}
    """,
)
def documents_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing >= {WIN_MIN_SHARED} winnowing
    fingerprints (see note above) — the MOSS overlap-candidate
    generator with its detection guarantee.

    Scale shape: gram hashing is EXPLODE + codegen'd substring/md5
    (no lambdas); the winnowing selection is a PER-DOC integer
    window min (parallelism grows with the corpus); the distinct
    fingerprint table is ~2/(w+1) of the gram stream; the DF cap
    both mirrors MOSS practice and bounds every fingerprint's pair
    fan-out at |cap|^2, so candidate mass grows linearly in the
    fingerprint table, not quadratically in the corpus."""
    fp = _winnowing_fingerprints(spark, sf_dir)
    # feeds the DF cap AND both sides of the pair join
    fp.persist()
    rare = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= WIN_DF_CAP)
        .select("h")
    )
    fpr = fp.join(rare, "h")
    a, b = fpr.alias("a"), fpr.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= WIN_MIN_SHARED)
    )


# Per-doc fingerprint budget + global output cap for the capped
# variant. FP_CAP keeps each doc's WIN_FP_CAP RAREST fingerprints
# (df asc, h asc — the prefix-filter idea applied to winnowing:
# rare fingerprints are the selective ones, and truly overlapping
# pairs share RARE fingerprints by construction since a shared
# passage's fingerprints have df >= 2 but boilerplate's have df >
# WIN_DF_CAP and are gone already); pair mass is then bounded by
# n_docs·WIN_FP_CAP·(WIN_DF_CAP−1) instead of growing with the
# shared-fingerprint answer mass (54.4 s at 40×, SCALING.md round-7
# table — replica siblings share most fingerprints, pair mass
# ~replica²). WIN_TOP bounds the OUTPUT by exact integer rank.
WIN_FP_CAP = 64
WIN_TOP = 100


@register(
    "documents_winnowing_top_pairs",
    oracle=f"""
    WITH {_WINNOW_FP_CTES},
    dft AS (
        SELECT h, count(*) AS df FROM fp
        GROUP BY h HAVING count(*) <= {WIN_DF_CAP}
    ),
    fpr AS (SELECT fp.doc_id, fp.h, dft.df FROM fp JOIN dft USING (h)),
    capped AS MATERIALIZED (
        SELECT doc_id, h FROM (
            SELECT doc_id, h,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY df, h
                   ) AS rn
            FROM fpr
        ) WHERE rn <= {WIN_FP_CAP}
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
        FROM capped a JOIN capped b
          ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(*) >= {WIN_MIN_SHARED}
    )
    SELECT doc_a, doc_b, n_shared
    FROM (
        SELECT *,
               row_number() OVER (
                   ORDER BY n_shared DESC, doc_a, doc_b
               ) AS rn
        FROM pairs
    )
    WHERE rn <= {WIN_TOP}
    """,
)
def documents_winnowing_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{WIN_TOP} overlap pairs from per-doc fingerprint budgets
    (see cap note above) — the answer-mass-capped companion of
    ``documents_winnowing_pairs`` for corpora where shared-
    fingerprint pair mass grows superlinearly.

    Scale shape: shares the winnowing fingerprint pipeline (EXPLODE
    + codegen md5, per-doc integer window min); the per-doc budget
    is one row_number window over (df, h) — deterministic integer
    order, no nullable keys; the pair join runs on the BUDGETED
    table, so its mass is corpus-linear by construction; the final
    top-{WIN_TOP} is a TakeOrdered on (n_shared, doc_a, doc_b) —
    exact integer rank, engine-identical. Bounded recall is the
    contract: a pair is ranked by shared fingerprints WITHIN the two
    budgets, so heavily-overlapping pairs (many rare shared
    fingerprints) surface first and diffuse low-overlap pairs fall
    out — the exact twin remains the recall-1 path."""
    fp = _winnowing_fingerprints(spark, sf_dir)
    # feeds the DF aggregate AND the budget join
    fp.persist()
    dft = (
        fp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= WIN_DF_CAP)
    )
    fpr = fp.join(dft, "h")
    wdoc = Window.partitionBy("doc_id").orderBy("df", "h")
    capped = (
        fpr.select("doc_id", "h", F.row_number().over(wdoc).alias("rn"))
        .where(F.col("rn") <= WIN_FP_CAP)
        .select("doc_id", "h")
    )
    # feeds both sides of the pair join (the persisted-fp pattern)
    capped.persist()
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= WIN_MIN_SHARED)
    )
    return pairs.orderBy(F.desc("n_shared"), "doc_a", "doc_b").limit(WIN_TOP)

# URL-canonicalized dedup key (the CCNet/RefinedWeb curation stage:
# near-identical pages fetched under cosmetically different URLs
# collapse to one canonical key BEFORE any content-based dedup runs).
# The synthesis + canonicalizer column pipeline and its SQL CTE
# restatement live in the registration-free functions/urls.py —
# shared verbatim with the streaming twin (stream_url_dedup) so the
# two registered queries cannot drift. See that module's docstring
# for the step list and the no-capture-group regex rule.
from ..functions.urls import canonical_urls, synth_url_col, url_canon_ctes  # noqa: E402


@register(
    "documents_url_dedup",
    oracle=f"""
    WITH {url_canon_ctes("documents")}
    SELECT canonical_url,
           count(*) AS n_docs,
           min(doc_id) AS keeper_doc_id,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
    FROM keys
    GROUP BY canonical_url
    HAVING count(*) >= 2
    """,
)
def documents_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-URL groups after canonicalization (see
    functions/urls.py): canonical key -> group -> keep groups of >= 2
    with the minimum doc_id as the keeper — the metadata-level dedup
    stage that runs before any content hashing in a
    CCNet/RefinedWeb-style pipeline.

    Scale shape: one narrow map stage (string functions, whole-stage
    codegen; the only array lambda filters a <= 2-element param list
    per row — constant work) followed by one hash-aggregate on the
    canonical key with map-side combining; output is bounded by the
    number of duplicate groups. Linear, shuffle-light, and the
    canonical key is what a 100 TB crawl would bucket/partition by."""
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "source")
    keys = canonical_urls(d.select("doc_id", synth_url_col().alias("url")))
    return (
        keys.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keeper_doc_id"),
            F.array_join(
                F.sort_array(F.collect_list("doc_id")).cast("array<string>"),
                ",",
            ).alias("doc_ids"),
        )
        .where(F.col("n_docs") >= 2)
    )


# The Lee et al. ACTION: documents_duplicate_spans detects the
# corpus-duplicated regions; this operator REMOVES them and emits the
# cleaned text (what the paper's pipeline trains on). Islands use the
# gap=ESD_K char-union rule — non-overlapping char ranges by
# construction, which is exactly what makes the kept-segment
# stitching well-defined. Every doc is output: docs with no
# duplicated span keep their full text; clean_text is the ordered
# concatenation of the between-island segments (positions/lengths are
# integers; substring lengths are clamped >= 0 because a length-0
# head segment is legal but DuckDB raises on negative lengths).


@register(
    "documents_remove_duplicate_spans",
    oracle=f"""
    WITH {_span_ctes(ESD_K)},
    spans AS MATERIALIZED (
        SELECT doc_id, min(i) AS s, max(i) + {ESD_K - 1} AS e
        FROM grp GROUP BY doc_id, gid
    ),
    mids AS (
        SELECT doc_id,
               coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1
                   AS a,
               s - 1 AS b
        FROM spans
    ),
    tails AS (
        SELECT doc_id, max(e) + 1 AS a, NULL AS b
        FROM spans GROUP BY doc_id
    ),
    pieces AS (
        SELECT d.doc_id, m.a AS pos,
               substring(d.text, m.a, greatest(m.b - m.a + 1, 0)) AS piece
        FROM mids m JOIN documents d ON d.doc_id = m.doc_id
        UNION ALL
        SELECT d.doc_id, t.a,
               substring(d.text, t.a, greatest(len(d.text) - t.a + 1, 0))
        FROM tails t JOIN documents d ON d.doc_id = t.doc_id
        UNION ALL
        SELECT d.doc_id, 1, d.text
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT doc_id FROM spans)
    ),
    cleaned AS (
        SELECT doc_id,
               string_agg(piece, '' ORDER BY pos) AS clean_text
        FROM pieces GROUP BY doc_id
    )
    SELECT c.doc_id,
           CAST(len(d.text) AS BIGINT) AS orig_len,
           CAST(len(c.clean_text) AS BIGINT) AS clean_len,
           CAST(len(d.text) - len(c.clean_text) AS BIGINT) AS removed_chars,
           c.clean_text
    FROM cleaned c JOIN documents d ON d.doc_id = c.doc_id
    """,
)
def documents_remove_duplicate_spans(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Corpus with duplicated spans EXCISED (see note above) — the
    deduplicating rewrite of Lee et al. ACL'22, one output row per
    input doc.

    Scale shape: shares the Θ(total chars) span pipeline; the
    stitching adds one per-doc window (lag over that doc's few
    islands), one anti-join branch for clean docs, and one ordered
    per-doc string aggregation — all partitioned by doc, so
    parallelism grows with the corpus and nothing exceeds the
    answer's own size. Output is corpus-sized by design (it IS the
    cleaned corpus — at 100 TB this is the write-back stage)."""
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    spans = (
        _duplicate_span_table(spark, sf_dir, gap=ESD_K)
        .select("doc_id", F.col("span_start").alias("s"), F.col("span_end").alias("e"))
    )
    # spans feed mids, tails, and the anti-join — tiny table
    spans = spans.localCheckpoint(eager=True)
    w = Window.partitionBy("doc_id").orderBy("s")
    mids = spans.select(
        "doc_id",
        (F.coalesce(F.lag("e").over(w), F.lit(0)) + 1).alias("a"),
        (F.col("s") - 1).alias("b"),
    )
    tails = spans.groupBy("doc_id").agg((F.max("e") + 1).alias("a"))
    mid_pieces = mids.join(d, "doc_id").select(
        "doc_id",
        F.col("a").alias("pos"),
        F.expr("substring(text, a, greatest(b - a + 1, 0))").alias("piece"),
    )
    tail_pieces = tails.join(d, "doc_id").select(
        "doc_id",
        F.col("a").alias("pos"),
        F.expr("substring(text, a, greatest(length(text) - a + 1, 0))").alias(
            "piece"
        ),
    )
    clean_docs = d.join(spans.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id", F.lit(1).alias("pos"), F.col("text").alias("piece")
    )
    pieces = mid_pieces.unionByName(tail_pieces).unionByName(clean_docs)
    cleaned = pieces.groupBy("doc_id").agg(
        F.concat_ws(
            "",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("piece")))
                ),
                lambda x: x.piece,
            ),
        ).alias("clean_text")
    )
    return cleaned.join(d, "doc_id").select(
        "doc_id",
        F.length("text").cast("bigint").alias("orig_len"),
        F.length("clean_text").cast("bigint").alias("clean_len"),
        (F.length("text") - F.length("clean_text")).cast("bigint").alias(
            "removed_chars"
        ),
        "clean_text",
    )


# Mutual-kNN graph statistics (r9) — the neighborhood structure
# report a graph-based curation pass (kNN-graph clustering,
# SemDeDup-style neighborhood pruning, isolation scoring) reads
# before committing to a strategy: each vector's out-degree in the
# bucketed k=3 kNN graph and how many of those edges are MUTUAL
# (reciprocated — the strong-tie signal). Candidates are the same
# banded hyperplane buckets as embeddings_ann_self_join. Duplicate
# multi-band collisions cannot be groupBy-deduped BEFORE the rank —
# that shuffles the whole candidate mass (the r5 distinct-first OOM
# class; it killed the 40x context) — so the rank runs ON the
# duplicate-bearing stream: dups of a pair are rank-adjacent, the
# top K·N_EMB_BANDS rows provably contain the top-K distinct cnds
# (pigeonhole), WindowGroupLimit prunes map-side, and the tiny
# survivor set dedups after. Ranking orders by the 6dp-rounded
# ZERO-NORM-GUARDED cosine (the r8 rule: raw
# list_cosine_similarity NaNs sort first under DESC in DuckDB).
KNN_GRAPH_K = 3


def _knn_graph_oracle() -> str:
    guarded = vec.cosine6_sql("ea.v", "eb.v")
    return f"""
    WITH {_emb_lsh_cand_sql(N_EMB_BANDS, PLANES_PER_BAND)},
    directed AS (
        SELECT vec_a AS vec_id, vec_b AS cnd FROM cand
        UNION ALL
        SELECT vec_b, vec_a FROM cand
    ),
    ded AS (SELECT DISTINCT vec_id, cnd FROM directed),
    scored AS (
        SELECT d.vec_id, d.cnd, {guarded} AS cosine
        FROM ded d
        JOIN e ea ON ea.vec_id = d.vec_id
        JOIN e eb ON eb.vec_id = d.cnd
    ),
    knn AS MATERIALIZED (
        SELECT vec_id, cnd FROM (
            SELECT vec_id, cnd,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cosine DESC, cnd) AS rn
            FROM scored
        ) WHERE rn <= {KNN_GRAPH_K}
    )
    SELECT a.vec_id,
           CAST(count(*) AS INT) AS out_deg,
           CAST(count(m.vec_id) AS INT) AS n_mutual
    FROM knn a
    LEFT JOIN knn m ON m.vec_id = a.cnd AND m.cnd = a.vec_id
    GROUP BY a.vec_id
    """


def _knn_graph_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-checkpoint top-K kNN list (vec_id, cnd) — factored so the
    WindowGroupLimit plan pin can inspect it (the checkpoint in the
    registered builder executes the plan away)."""
    cand, e = _emb_lsh_candidates(
        spark, sf_dir, N_EMB_BANDS, PLANES_PER_BAND, distinct=False
    )
    directed = cand.select(
        F.col("doc_a").alias("vec_id"), F.col("doc_b").alias("cnd")
    ).unionByName(
        cand.select(
            F.col("doc_b").alias("vec_id"), F.col("doc_a").alias("cnd")
        )
    )
    ea = e.select(F.col("vec_id").alias("vec_id"), F.col("v").alias("va"))
    eb = e.select(F.col("vec_id").alias("cnd"), F.col("v").alias("vb"))
    # score the DUPLICATE-BEARING stream directly (a groupBy-dedup
    # first would shuffle the full candidate mass — the r5
    # distinct-first OOM class; the 40x replica corpus emits ~1e9
    # pairs and killed the context that way). Dups of a pair carry
    # identical (cosine, cnd), so each cnd occupies <= N_EMB_BANDS
    # adjacent ranks and the top K*N_EMB_BANDS ranked rows are
    # guaranteed to contain the top-K distinct cnds (pigeonhole).
    # row_number <= const is WindowGroupLimit-pushed: each mapper
    # pre-prunes to <= K*bands rows per vec_id BEFORE the exchange,
    # so the shuffle is |V|-scale however big the pair stream is.
    scored = (
        directed.join(F.broadcast(ea), "vec_id")
        .join(F.broadcast(eb), "cnd")
        .select(
            "vec_id",
            "cnd",
            vec.cosine6(F.col("va"), F.col("vb")).alias("cosine"),
        )
    )
    wr = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "cnd")
    top = (
        scored.select(
            "vec_id", "cnd", "cosine", F.row_number().over(wr).alias("rn")
        )
        .where(F.col("rn") <= KNN_GRAPH_K * N_EMB_BANDS)
        .groupBy("vec_id", "cnd")
        .agg(F.max("cosine").alias("cosine"))
    )
    wk = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "cnd")
    return (
        top.select("vec_id", "cnd", F.row_number().over(wk).alias("rn"))
        .where(F.col("rn") <= KNN_GRAPH_K)
        .select("vec_id", "cnd")
    )


@register("embeddings_knn_graph_stats", oracle=_knn_graph_oracle())
def embeddings_knn_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector out-degree and mutual-edge count in the bucketed
    k=3 kNN graph (see note above). Vectors with no bucket-mates
    emit nothing (the ann_self_join residue note).

    Scale shape: one banded candidate pass (never all-pairs); the
    pair stream carries only ids + one rounded double and is pruned
    to ≤K·bands rows per vector BY THE MAPPERS (WindowGroupLimit,
    plan-pinned) before any exchange — dedup happens after, on the
    |V|-scale survivors; vectors broadcast into the cosine join (the
    ann_self_join OOM lesson); the mutuality probe is a self-join of
    the checkpointed ≤K-per-vector kNN list — K·|V|-sized, id-only."""
    knn = _knn_graph_topk(spark, sf_dir).localCheckpoint(eager=True)
    rev = knn.select(
        F.col("cnd").alias("vec_id"),
        F.col("vec_id").alias("cnd"),
        F.lit(1).alias("_m"),
    )
    return (
        knn.join(rev, ["vec_id", "cnd"], "left")
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("out_deg"),
            F.sum(F.coalesce(F.col("_m"), F.lit(0)))
            .cast("int")
            .alias("n_mutual"),
        )
    )


def _knn_graph_ivf_oracle() -> str:
    return (
        _sem_vq_sql()
        + f""",
    upairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_sum(list_transform(range(1, 65),
                        i -> a.xi[i] * b.xi[i])) AS dot,
               a.nrm AS na, b.nrm AS nb
        FROM af AS a JOIN af AS b
          ON a.cid = b.cid AND a.shard = b.shard
         AND a.vec_id < b.vec_id
    ),
    directed AS (
        SELECT vec_a AS vec_id, vec_b AS cnd, dot, na, nb FROM upairs
        UNION ALL
        SELECT vec_b, vec_a, dot, nb, na FROM upairs
    ),
    scored AS (
        SELECT vec_id, cnd,
               round(CASE WHEN na > 0 AND nb > 0
                          THEN dot / (sqrt(na) * sqrt(nb))
                          ELSE 0.0 END, 6) AS cosine
        FROM directed
    ),
    knn AS MATERIALIZED (
        SELECT vec_id, cnd FROM (
            SELECT vec_id, cnd,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cosine DESC, cnd) AS rn
            FROM scored
        ) WHERE rn <= {KNN_GRAPH_K}
    )
    SELECT a.vec_id,
           CAST(count(*) AS INT) AS out_deg,
           CAST(count(m.vec_id) AS INT) AS n_mutual
    FROM knn a
    LEFT JOIN knn m ON m.vec_id = a.cnd AND m.cnd = a.vec_id
    GROUP BY a.vec_id
    """
    )


@register("embeddings_knn_graph_ivf", oracle=_knn_graph_ivf_oracle())
def embeddings_knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-kNN graph statistics over IVF (k-means) cells — the
    SCALE PATH the banded twin lacks (r10 finding, SCALING.md): with
    4-bit band keys the hyperplane LSH has only 16 buckets/band, so
    its candidate mass is Θ(n²/32) on ANY corpus — the perturbed 10×
    corpus still read 246 s, refuting the r9 hypothesis that the
    replica artifact was the cost. Blocking by the integer-VQ
    quantizer instead (shared ``_vq_assigned`` — corpus-derived
    nlist = n/{SEM_TARGET_CLUSTER} pins cell size near the TARGET,
    so pair mass grows LINEARLY with the corpus; the standard
    IVF/Faiss kNN-graph construction; nlist capped at
    {SEM_MAX_NLIST} with the in-cell shard split re-pinning block
    pair mass — r11 driver-state bound, see the SEM_SHARD_CAP note).
    Same output shape as embeddings_knn_graph_stats (vec_id,
    out_deg, n_mutual over the k={KNN_GRAPH_K} graph); candidates
    differ by design — block-mates instead of band-mates — and the
    recall trade is the classic one:
    IVF misses cross-cell neighbors, LSH misses low-cosine ones.
    Cosine = integer dot / (sqrt·sqrt of exact integer norms) — every
    input exact, every op IEEE-deterministic, zero-norm CASE-guarded
    (the r8/r9 repo-wide rule), rounded 6dp before the rank on both
    sides. Quantizer collects at plan time: BUILD_EXECUTES."""
    assigned, _, _ = _vq_assigned(spark, sf_dir)
    a, b = assigned.alias("a"), assigned.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.xi"), F.col("b.xi"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    upairs = a.join(
        b,
        (F.col("a.cid") == F.col("b.cid"))
        & (F.col("a.shard") == F.col("b.shard"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        # Generate-node materialization of the interpreted fold: the
        # two directed orientations below would otherwise inline and
        # re-run the 64-element dot per reference (the semdedup
        # lesson)
        F.explode(F.array(dot)).alias("dot"),
        F.col("a.nrm").alias("na"),
        F.col("b.nrm").alias("nb"),
    )
    directed = upairs.select(
        F.col("vec_a").alias("vec_id"),
        F.col("vec_b").alias("cnd"),
        "dot",
        "na",
        "nb",
    ).unionByName(
        upairs.select(
            F.col("vec_b").alias("vec_id"),
            F.col("vec_a").alias("cnd"),
            "dot",
            F.col("nb").alias("na"),
            F.col("na").alias("nb"),
        )
    )
    cosine = F.round(
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0),
            F.col("dot")
            / (F.sqrt(F.col("na").cast("double")) * F.sqrt(F.col("nb").cast("double"))),
        ).otherwise(F.lit(0.0)),
        6,
    )
    scored = directed.select("vec_id", "cnd", cosine.alias("cosine"))
    wr = Window.partitionBy("vec_id").orderBy(F.desc("cosine"), "cnd")
    knn = (
        scored.select(
            "vec_id", "cnd", F.row_number().over(wr).alias("rn")
        )
        .where(F.col("rn") <= KNN_GRAPH_K)
        .select("vec_id", "cnd")
        .localCheckpoint(eager=True)
    )
    rev = knn.select(
        F.col("cnd").alias("vec_id"),
        F.col("vec_id").alias("cnd"),
        F.lit(1).alias("_m"),
    )
    return (
        knn.join(rev, ["vec_id", "cnd"], "left")
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("out_deg"),
            F.sum(F.coalesce(F.col("_m"), F.lit(0)))
            .cast("int")
            .alias("n_mutual"),
        )
    )


def _ivf_cell_stats_oracle() -> str:
    return (
        _sem_vq_sql()
        + f""",
    cells AS (SELECT cid, count(*) AS m FROM af GROUP BY cid),
    blocks AS (
        SELECT cid, shard, count(*) AS m FROM af GROUP BY cid, shard
    ),
    bs AS (
        SELECT count(*) AS n_blocks,
               sum((m * (m - 1)) // 2) AS block_pair_mass
        FROM blocks
    ),
    s AS (
        SELECT count(*) AS n_cells_used,
               min(m) AS min_cell,
               max(m) AS max_cell,
               sum(m) AS n_vecs,
               sum((m * (m - 1)) // 2) AS pair_mass
        FROM cells
    )
    SELECT CAST(({SEM_NLIST_SQL}) AS BIGINT) AS nlist_cfg,
           CAST(n_cells_used AS BIGINT) AS n_cells_used,
           CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(min_cell AS BIGINT) AS min_cell,
           CAST(max_cell AS BIGINT) AS max_cell,
           CAST((n_vecs * 1000000) // n_cells_used AS BIGINT)
               AS avg_cell_micro,
           CAST((max_cell * n_cells_used * 1000000) // n_vecs AS BIGINT)
               AS imbalance_micro,
           CAST(pair_mass AS BIGINT) AS pair_mass,
           CAST(n_blocks AS BIGINT) AS n_blocks,
           CAST(block_pair_mass AS BIGINT) AS block_pair_mass
    FROM s, bs
    """
    )


@register("embeddings_ivf_cell_stats", oracle=_ivf_cell_stats_oracle())
def embeddings_ivf_cell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quantizer health report — the capacity-planning companion
    of embeddings_knn_graph_ivf / dedup_semdedup (the
    documents_dedup_cost_report idea applied to the ANN family):
    one row of cell statistics for the shared integer-VQ quantizer —
    configured vs used cell count, min/max cell size, ×1e6
    fixed-point average and imbalance factor (max/avg — the number
    that predicts the straggler task), the in-cell pair mass
    Σ m(m−1)/2, and (r11) the per-(cid, shard) BLOCK count and block
    pair mass — the mass the pair operators (semdedup,
    knn_graph_ivf) actually pay now that the in-cell shard split
    bounds blocks at SEM_SHARD_CAP (block == cell on any corpus
    whose cells stay under the cap, so the two masses are equal
    here and diverge exactly when the split engages). All exact
    integers (truncating div on both sides — Spark `div`, DuckDB
    `//` on BIGINT). Quantizer collects at plan time:
    BUILD_EXECUTES."""
    assigned, _n, nlist_cfg = _vq_assigned(spark, sf_dir)
    cells = assigned.groupBy("cid").agg(F.count(F.lit(1)).alias("m"))
    blocks = assigned.groupBy("cid", "shard").agg(
        F.count(F.lit(1)).alias("m")
    )
    bs = blocks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum(F.expr("(m * (m - 1)) div 2")).cast("bigint").alias(
            "block_pair_mass"
        ),
    )
    return cells.agg(
        F.lit(nlist_cfg).cast("bigint").alias("nlist_cfg"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells_used"),
        F.sum("m").cast("bigint").alias("n_vecs"),
        F.min("m").cast("bigint").alias("min_cell"),
        F.max("m").cast("bigint").alias("max_cell"),
        F.expr(
            "CAST((sum(m) * 1000000) div count(*) AS BIGINT)"
        ).alias("avg_cell_micro"),
        F.expr(
            "CAST((max(m) * count(*) * 1000000) div sum(m) AS BIGINT)"
        ).alias("imbalance_micro"),
        F.sum(F.expr("(m * (m - 1)) div 2")).cast("bigint").alias(
            "pair_mass"
        ),
    ).crossJoin(bs)


# Content-defined chunking dedup (r10) — the STORAGE-dedup primitive
# (rsync/LBFS/backup-dedup lineage, and the text-side complement of
# the fixed-gram span family): cut each document where the rolling
# window's hash hits 0 mod CDC_MOD, so chunk boundaries are
# CONTENT-ANCHORED — an insertion shifts at most the chunks it
# touches, unlike fixed-size chunking where one inserted byte
# re-hashes the whole tail. Duplicate chunk mass across the corpus is
# then what a chunk store would save. Boundary rule kept exactly
# SQL-restatable (no min/max chunk bounds): cut after char i+K−1
# whenever u32(md5(text[i..i+K−1])) ≡ 0 (mod CDC_MOD), end-of-doc
# cuts dropped (no-ops). Expected chunk ≈ CDC_MOD chars.
CDC_K = 8
CDC_MOD = 32


def _cdc_chunks(d: DataFrame, mod: int) -> DataFrame:
    """(doc_id, j, chunk) content-defined chunks of d(doc_id, text,
    n): cut after char i+K−1 whenever u32(md5(text[i..i+K−1])) ≡ 0
    (mod ``mod``), end-of-doc cuts dropped — boundaries are
    CONTENT-ANCHORED, so an edit shifts only the chunks it touches
    (the alignment property the chunk-grain fuzzy dedup depends on;
    fixed-size windows would misalign every repeat that starts at a
    different offset). Expected chunk ≈ ``mod`` chars. Shared by
    documents_cdc_dedup (CDC_MOD storage grain) and
    documents_chunk_fuzzy_dedup (CDC_FUZZY_MOD paragraph grain)."""
    grams = d.filter(F.col("n") >= CDC_K).select(
        "doc_id",
        "n",
        F.expr(
            f"explode(transform(sequence(1, n - {CDC_K - 1}),"
            f" i -> struct(i AS i, substring(text, i, {CDC_K}) AS g)))"
        ).alias("pg"),
    )
    u32 = hex_int(F.md5(F.col("pg.g")))
    cuts = (
        grams.withColumn("e", F.col("pg.i") + (CDC_K - 1))
        .filter((u32 % mod == 0) & (F.col("e") < F.col("n")))
        .select("doc_id", "e")
    )
    ends = cuts.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("e")).alias("ends")
    )
    segs = d.join(ends, "doc_id", "left").select(
        "doc_id",
        "text",
        "n",
        F.coalesce(F.col("ends"), F.expr("array()").cast("array<int>")).alias(
            "ends"
        ),
    )
    return segs.select(
        "doc_id",
        "text",
        "n",
        "ends",
        F.explode(F.expr("sequence(1, size(ends) + 1)")).alias("j"),
    ).select(
        "doc_id",
        "j",
        F.expr(
            """substring(text,
                 CASE WHEN j = 1 THEN 1 ELSE element_at(ends, j - 1) + 1 END,
                 (CASE WHEN j = size(ends) + 1 THEN n
                       ELSE element_at(ends, j) END)
                 - (CASE WHEN j = 1 THEN 0
                         ELSE element_at(ends, j - 1) END))"""
        ).alias("chunk"),
    )


def _cdc_oracle() -> str:
    u32 = hex_int_sql(f"md5(substring(text, x, {CDC_K}))")
    return f"""
    WITH d AS (SELECT doc_id, text, len(text) AS n FROM documents),
    segs AS (
        SELECT doc_id, text, n,
               [x + {CDC_K - 1}
                for x in generate_series(1, greatest(n - {CDC_K - 1}, 0))
                if ({u32}) % {CDC_MOD} = 0 AND x + {CDC_K - 1} < n]
                   AS ends
        FROM d
    ),
    chunks AS (
        SELECT doc_id,
               unnest([substring(text,
                         CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END,
                         (CASE WHEN j = len(ends) + 1 THEN n
                               ELSE ends[j] END)
                         - (CASE WHEN j = 1 THEN 0
                                 ELSE ends[j - 1] END))
                       for j in generate_series(1, len(ends) + 1)]) AS chunk
        FROM segs
    ),
    g AS (
        SELECT md5(chunk) AS h, len(chunk) AS L, count(*) AS m
        FROM chunks GROUP BY 1, 2
    ),
    tot AS (SELECT count(*) AS n_docs, sum(n) AS total_chars FROM d)
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_chars AS BIGINT) AS total_chars,
           CAST(sum(m) AS BIGINT) AS n_chunks,
           CAST(count(*) AS BIGINT) AS n_unique_chunks,
           CAST(sum((m - 1) * L) AS BIGINT) AS dup_chunk_mass,
           CAST(sum((m - 1) * L) * 1000000 // total_chars AS BIGINT)
               AS saved_ratio_micro,
           CAST(total_chars * 1000000 // sum(m) AS BIGINT)
               AS avg_chunk_micro
    FROM g, tot
    GROUP BY n_docs, total_chars
    """


@register("documents_cdc_dedup", oracle=_cdc_oracle())
def documents_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup report (see note above): one
    row — docs, char mass, chunk/unique-chunk counts, duplicate chunk
    mass (Σ (m−1)·L over distinct chunks — what a content-addressed
    chunk store saves), and ×1e6 fixed-point saved ratio / average
    chunk size (truncating div both sides).

    Scale shape: the rolling-hash scan is the span family's
    irreducible Θ(chars) gram pass (one md5 per position, codegen'd
    after one explode); cut lists collapse to ~chars/{CDC_MOD} rows,
    chunk texts materialize once per chunk, and the dedup is a
    map-side-combining (hash, len) aggregate. All outputs exact
    integers."""
    d = wide_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    chunks = _cdc_chunks(d, CDC_MOD)
    g = chunks.groupBy(
        F.md5("chunk").alias("h"), F.length("chunk").alias("L")
    ).agg(F.count(F.lit(1)).alias("m"))
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n").cast("bigint").alias("total_chars"),
    )
    return g.crossJoin(F.broadcast(tot)).groupBy(
        "n_docs", "total_chars"
    ).agg(
        F.sum("m").cast("bigint").alias("n_chunks"),
        F.count(F.lit(1)).cast("bigint").alias("n_unique_chunks"),
        F.sum((F.col("m") - 1) * F.col("L")).cast("bigint").alias(
            "dup_chunk_mass"
        ),
        F.expr(
            "CAST(sum((m - 1) * L) * 1000000 div first(total_chars)"
            " AS BIGINT)"
        ).alias("saved_ratio_micro"),
        F.expr(
            "CAST(first(total_chars) * 1000000 div sum(m) AS BIGINT)"
        ).alias("avg_chunk_micro"),
    ).select(
        "n_docs",
        "total_chars",
        "n_chunks",
        "n_unique_chunks",
        "dup_chunk_mass",
        "saved_ratio_micro",
        "avg_chunk_micro",
    )


def _agree_sdocs_sql() -> str:
    """The count-derived md5 doc-sample CTEs feeding both detectors
    (SPECTRUM_BLOCK_CAP design note; corpus-level cap here since the
    minhash side is unblocked)."""
    u32 = hex_int_sql("md5(CAST(d.doc_id AS VARCHAR))")
    return f"""nn AS (
        SELECT ({AGREE_DOC_CAP} * {_U32_SPAN}) // count(*) AS cut
        FROM documents
    ),
    sdocs AS (
        SELECT d.* FROM documents d, nn WHERE {u32} < nn.cut
    )"""


@register(
    "dedup_detector_agreement",
    oracle=f"""
    WITH {_agree_sdocs_sql()},
    m AS (
        SELECT doc_a, doc_b FROM ({_minhash_lsh_oracle(table="sdocs")})
    ),
    s AS (
        SELECT doc_a, doc_b FROM ({_simhash_pairs_oracle(table="sdocs")})
    ),
    nm AS (SELECT count(*) AS n_minhash FROM m),
    ns AS (SELECT count(*) AS n_simhash FROM s),
    nb AS (SELECT count(*) AS n_both FROM m JOIN s USING (doc_a, doc_b))
    SELECT CAST(n_minhash AS BIGINT) AS n_minhash,
           CAST(n_simhash AS BIGINT) AS n_simhash,
           CAST(n_both AS BIGINT) AS n_both,
           CAST(n_minhash - n_both AS BIGINT) AS n_only_minhash,
           CAST(n_simhash - n_both AS BIGINT) AS n_only_simhash,
           CASE WHEN n_minhash + n_simhash - n_both > 0
                THEN CAST(n_both * 1000000
                          // (n_minhash + n_simhash - n_both) AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS agreement_micro
    FROM nm, ns, nb
    """,
)
def dedup_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-DETECTOR agreement audit — how much do the two lexical
    near-dup detectors overlap on this corpus? MinHash-LSH (char-5
    Jaccard ≥ {JACCARD_THRESHOLD}, unblocked) vs SimHash (32-bit
    token simhash, Hamming ≤ {HAMMING_THRESHOLD}, lang-blocked):
    pair counts, intersection, each side's exclusives, and the
    detector-Jaccard as a ×1e6 truncating-div integer (zero-guarded
    union). The dedup_recall_audit honesty contract extended
    sideways: the two detectors target different similarity notions
    (set overlap vs weighted token profile), and a curation rollout
    reads THIS number before assuming one can replace the other.

    Scale shape (r11): both detectors run over the SAME
    count-derived md5 doc sample (corpus-level AGREE_DOC_CAP — see
    the SPECTRUM_BLOCK_CAP design note; an exact no-op on every
    natural test corpus, a ~CAP²-bounded pair mass on any 100×
    corpus — a doc-uniform sample estimates the agreement RATIO
    unbiasedly, which is this audit's deliverable); inside the
    sample each pipeline keeps its own shape (banded LSH; simhash
    blocked brute), and the comparison joins pair-id sets —
    output-mass-sized. All exact integers."""
    d = wide_table(spark, sf_dir, "documents")
    nn = d.agg(
        F.expr(
            f"CAST(({AGREE_DOC_CAP} * {_U32_SPAN}) div count(*) AS BIGINT)"
        ).alias("cut")
    )
    u32 = hex_int(F.md5(F.col("doc_id").cast("string")))
    sdocs = d.crossJoin(F.broadcast(nn)).where(u32 < F.col("cut")).drop("cut")
    # checkpoint each detector's pair set ONCE (r12 optimization):
    # m and sp each feed two consumers (their own count + the
    # intersection join), and AQE does NOT dedupe identical heavy
    # subtrees under a crossJoin union (the r6 association-rules
    # lesson) — the before-plan carried 28 scans / 12 Generates,
    # i.e. BOTH full detector pipelines twice. Pair sets are
    # output-mass-sized (hundreds of rows), so the checkpoint is
    # free. Measured: 7.6 -> 6.6 s best-of-3 at sf0.1.
    m = (
        _minhash_lsh_pairs(spark, sf_dir, sdocs.select("doc_id", "text"))
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    sp = (
        _simhash_brute_pairs(sdocs)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    nm = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_minhash"))
    ns = sp.agg(F.count(F.lit(1)).cast("bigint").alias("n_simhash"))
    nb = m.join(sp, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_both")
    )
    return (
        nm.crossJoin(ns)
        .crossJoin(nb)
        .select(
            "n_minhash",
            "n_simhash",
            "n_both",
            (F.col("n_minhash") - F.col("n_both"))
            .cast("bigint")
            .alias("n_only_minhash"),
            (F.col("n_simhash") - F.col("n_both"))
            .cast("bigint")
            .alias("n_only_simhash"),
            F.expr(
                "CASE WHEN n_minhash + n_simhash - n_both > 0"
                " THEN CAST(n_both * 1000000"
                " div (n_minhash + n_simhash - n_both) AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("agreement_micro"),
        )
    )


# Near-dup SIMILARITY SPECTRUM (r9): the threshold-calibration curve
# a dedup rollout reads before picking tau — how much pair mass does
# the CURRENT banding detect in each exact-Jaccard band? Same
# lang-blocked signature+candidate machinery as dedup_minhash_lsh
# (so the spectrum describes exactly what that pipeline would see),
# verified WITHOUT a threshold; the band index is pure integer
# arithmetic ((20·inter) div union = floor(20·J) exactly — never
# trunc(J·20) on doubles, whose representation error straddles the
# k/20 boundaries). Low bands are honest: they count the accidental
# collisions the banding lets through, which is precisely the
# precision cost a tau choice must price in. Recall caveat: bands
# detect low-J pairs with probability < 1 (1-(1-J^r)^b), so low
# bands UNDERCOUNT the corpus — the spectrum is a property of the
# (pipeline, corpus) pair, not the corpus alone (the knn_recall /
# langid_confusion honesty contract).
J_SPECTRUM_BANDS = 20


@register(
    "dedup_minhash_j_spectrum",
    oracle=f"""
    WITH {_minhash_cand_ctes("documents", 1, True)},
    {cand_overlap_ctes("mh_cand")}
    SELECT CAST((ni * {J_SPECTRUM_BANDS}) // nu AS INT) AS j_band,
           count(*) AS n_pairs
    FROM scored WHERE nu > 0
    GROUP BY 1
    """,
)
def dedup_minhash_j_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-Jaccard band histogram of the LSH pipeline's candidate
    pairs (see note above): j_band = floor(20·J), one row per
    non-empty band with the detected pair count.

    Scale shape: identical to dedup_minhash_lsh up to the verify
    (checkpointed signatures, banded candidates — never all-pairs),
    then ONE integer aggregate over the candidate stream; output is
    ≤21 rows. Builder runs jobs at plan time (signature checkpoint):
    BUILD_EXECUTES."""
    family = mh.minhash_family(sf_dir)
    d = wide_table(spark, sf_dir, "documents")
    sigs = mh.minhash_signature_from_text(
        d.select("doc_id", "lang", "text"),
        ["doc_id", "lang"],
        family=family,
    ).localCheckpoint(eager=True)
    cand = mh.lsh_candidate_pairs(sigs, block_cols=("lang",), family=family)
    v = _candidate_jaccard(d, cand).filter(F.col("nu") > 0)
    return (
        v.select(
            F.expr(f"CAST(ni * {J_SPECTRUM_BANDS} div nu AS INT)").alias(
                "j_band"
            )
        )
        .groupBy("j_band")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# Chunk-grain FUZZY dedup (r12) — the paragraph/window-grain operator
# the r11 verdict queued (with the vacuity check done FIRST: 16
# cross-doc duplicate chunks up to 425 chars exist at sf0.01, so the
# operator is non-vacuous on this corpus; a fixed token-window
# splitter was REJECTED at design time — repeats starting at
# different offsets misalign fixed windows, while CDC boundaries are
# content-anchored and land at the same cut points inside any shared
# region). Chunks at the CDC_FUZZY_MOD (~256-char paragraph) grain,
# length-floored at CHUNK_MIN_LEN, become derived documents with the
# composite id doc_id·2^20+j, and the UNCHANGED dedup_minhash_lsh
# pipeline runs over them; verified chunk pairs aggregate to doc
# pairs with match counts. Finds partial-overlap doc pairs whole-doc
# dedup misses (a doc that quotes one paragraph of another never
# reaches whole-doc Jaccard 0.7).
CDC_FUZZY_MOD = 256
CHUNK_MIN_LEN = 64
CHUNK_ID_BASE = 1 << 20  # chunk index bound: a 2^20-chunk doc ≈ 268 MB


def _chunk_docs_ctes() -> str:
    u32 = hex_int_sql(f"md5(substring(text, x, {CDC_K}))")
    return f"""cd AS (SELECT doc_id, text, len(text) AS n FROM documents),
    csegs AS (
        SELECT doc_id, text, n,
               [x + {CDC_K - 1}
                for x in generate_series(1, greatest(n - {CDC_K - 1}, 0))
                if ({u32}) % {CDC_FUZZY_MOD} = 0 AND x + {CDC_K - 1} < n]
                   AS ends
        FROM cd
    ),
    cch AS (
        SELECT doc_id, u['j'] AS j, u['c'] AS c FROM (
            SELECT doc_id,
                   unnest([{{'j': j, 'c': substring(text,
                        CASE WHEN j = 1 THEN 1 ELSE ends[j - 1] + 1 END,
                        (CASE WHEN j = len(ends) + 1 THEN n
                              ELSE ends[j] END)
                        - (CASE WHEN j = 1 THEN 0
                                ELSE ends[j - 1] END))}}
                       for j in generate_series(1, len(ends) + 1)]) AS u
            FROM csegs
        )
    ),
    chunk_docs AS (
        SELECT doc_id * {CHUNK_ID_BASE} + j AS doc_id, c AS text
        FROM cch WHERE len(c) >= {CHUNK_MIN_LEN}
    ),
    """


def _chunk_fuzzy_oracle() -> str:
    """The FULL dedup_minhash_lsh restatement nested over the
    chunk_docs CTE (the kept_docs/index-delete idiom), then the
    doc-pair rollup — integer counts, 6dp max of identically-rounded
    jaccards."""
    inner = _minhash_lsh_oracle(
        table="chunk_docs", pre_ctes=_chunk_docs_ctes()
    )
    return f"""
    WITH cpairs AS ({inner})
    SELECT least(doc_a // {CHUNK_ID_BASE}, doc_b // {CHUNK_ID_BASE})
               AS doc_a,
           greatest(doc_a // {CHUNK_ID_BASE}, doc_b // {CHUNK_ID_BASE})
               AS doc_b,
           CAST(count(*) AS BIGINT) AS n_chunk_matches,
           round(max(jaccard), 6) AS max_jaccard
    FROM cpairs
    WHERE doc_a // {CHUNK_ID_BASE} <> doc_b // {CHUNK_ID_BASE}
    GROUP BY 1, 2
    """


@register("documents_chunk_fuzzy_dedup", oracle=_chunk_fuzzy_oracle())
def documents_chunk_fuzzy_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chunk-grain fuzzy dedup (design note above): doc pairs sharing
    ≥1 near-duplicate CDC chunk (chunk-level Jaccard ≥ 0.7), with the
    matched-chunk count and the best chunk Jaccard.

    Scale shape: the chunker is the span family's irreducible
    Θ(chars) rolling-hash scan (one md5 per position, codegen'd);
    everything after runs on the chunk table (~chars/{CDC_FUZZY_MOD}
    rows, persist()ed — the signature build and the verify side both
    read it) through the UNCHANGED banded LSH pipeline — candidates
    shuffle (band, key) only, the verify is exact chunk-shingle
    Jaccard, and the rollup is one map-side-combining aggregate.
    Same-doc chunk pairs are excluded AFTER verification on both
    sides. Builder runs jobs at plan time (signature checkpoint):
    BUILD_EXECUTES."""
    d = wide_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    cd = (
        _cdc_chunks(d, CDC_FUZZY_MOD)
        .filter(F.length("chunk") >= CHUNK_MIN_LEN)
        .select(
            (F.col("doc_id") * CHUNK_ID_BASE + F.col("j")).alias("doc_id"),
            F.col("chunk").alias("text"),
        )
        .persist()
    )
    pairs = _minhash_lsh_pairs(spark, sf_dir, cd, verify_docs=cd)
    # decompose in a PRIOR select: aliasing an output "doc_a" beside
    # a sibling expression that still reads the raw doc_a would hit
    # lateral-alias shadowing (the CLAUDE.md class — only
    # coincidentally benign here because chunk pairs are canonical)
    decomp = pairs.select(
        F.expr(f"doc_a div {CHUNK_ID_BASE}").alias("da"),
        F.expr(f"doc_b div {CHUNK_ID_BASE}").alias("db"),
        "jaccard",
    )
    return (
        decomp.select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunk_matches"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )
