"""Similarity-search queries over ``embeddings``.

Brute-force top-k is the correctness baseline (oracle-checked); the
LSH-bucketed variant is the scale path — at 100 TB you never score
all N vectors per query, you score one bucket's worth. Both keep
vector math in JVM higher-order functions (no UDF, no collect).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import text as tx
from ..functions import vectors as vec
from ..functions.hexdigest import hex_int, hex_int_sql
from ..operators.sampling import md5_bucket, md5_bucket_sql
from ..sources.catalog import table, wide_table
from .registry import register

QUERY_VEC_ID = 0
TOP_K = 10

# IVF quantizer parameters — single source of truth for BOTH the
# Spark plan (knn_ivf_plan) and its SQL oracle (_ivf_oracle), so
# changing one can't silently desynchronize plan and oracle.
#
# DEPLOYMENT RULE (r10 verdict item): IVF_NLIST=8 is the
# TEACHING/ORACLE configuration — small enough that the k-means
# unroll stays a readable SQL restatement and the recall/nprobe
# sweep (knn_ivf_nprobe_sweep) can enumerate every level. With nlist
# FIXED, cells grow as n/nlist, so probe cost per query is LINEAR in
# the corpus at fixed nprobe — do NOT ship this constant. Production
# sizing is nlist ∝ √n (e.g. 4·√n — per-query cost ~ nlist·d for the
# coarse scan + nprobe·(n/nlist)·d for the probe, minimized when the
# two balance at nlist ~ √(nprobe·n)), with nlist capped and cells
# re-split once the cap binds — exactly the capped-nlist +
# in-cell-shard design the corpus-derived VQ family implements
# (plans/dedup.py SEM_MAX_NLIST/SEM_SHARD_CAP note). The
# recall-vs-scanned-rows trade at any sizing is priced honestly by
# knn_ivf_nprobe_sweep and knn_recall_audit.
IVF_NLIST = 8
IVF_NPROBE = 2
IVF_ITERS = 3


@register(
    "knn_brute_cosine",
    oracle=f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
               WHERE vec_id = {QUERY_VEC_ID}),
         scored AS (
           SELECT e.vec_id, {vec.cosine6_sql('CAST(e.embedding AS DOUBLE[])', 'q.qv')} AS cosine
           FROM embeddings e, q
           WHERE e.vec_id <> {QUERY_VEC_ID}
         )
    SELECT vec_id, cosine FROM scored
    ORDER BY cosine DESC, vec_id
    LIMIT {TOP_K}
    """,
)
def knn_brute_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact k-NN: broadcast the 1-row query vector against all
    candidates, score with a zip_with/aggregate dot-product fold,
    TakeOrderedAndProject for the top-k (no global sort — each
    partition keeps k rows). This plan shape is exactly how a scoped
    ANN verify pass runs at scale."""
    e = wide_table(spark, sf_dir, "embeddings")
    q = (
        e.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(vec.as_double(F.col("embedding")).alias("qv"))
    )
    return vec.top_k_cosine(
        e.filter(F.col("vec_id") != QUERY_VEC_ID).join(F.broadcast(q)),
        vec.as_double(F.col("embedding")),
        F.col("qv"),
        TOP_K,
    )


N_PLANES = 8


def _lsh_query_ctes() -> str:
    """WITH-head of the two kNN-LSH oracles: the 1-band, N_PLANES-bit
    sign buckets (``vectors.hyperplane_bucket_ctes``) and the query
    row's bucket ``q(qb, qv)``."""
    return f"""
    WITH {vec.hyperplane_bucket_ctes(1, N_PLANES)},
    q AS (
        SELECT b.bucket AS qb, e.v AS qv
        FROM buckets AS b JOIN e USING (vec_id) WHERE vec_id = {QUERY_VEC_ID}
    )"""


@register(
    "knn_lsh_bucketed",
    oracle=_lsh_query_ctes()
    + f"""
    SELECT b.vec_id, {vec.cosine6_sql('e.v', 'q.qv')} AS cosine
    FROM buckets AS b JOIN e USING (vec_id), q
    WHERE b.vec_id <> {QUERY_VEC_ID} AND b.bucket = q.qb
    ORDER BY cosine DESC, b.vec_id
    LIMIT {TOP_K}
    """,
)
def knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via random-hyperplane LSH (SimHash-for-vectors):

      1. 8 deterministic hyperplanes → 8 sign bits → 256 buckets;
      2. probe = the query vector's bucket;
      3. exact cosine ONLY within the probe bucket, top-k.

    At scale the signature step is one narrow map over the corpus
    (persisted/bucketed by signature), and each query touches
    ~N/256 of the data; multi-probe (flip lowest-margin bits) trades
    recall vs cost. Recall is probabilistic by design, but the
    planes are md5-derived, so the WHOLE pipeline — planes, sign
    bits, bucket fold, in-bucket exact scoring — restates in SQL
    and the output is value-checked; unit tests additionally assert
    bucket determinism and that returned neighbors are a subset of
    the brute-force ranking.
    """
    e = wide_table(spark, sf_dir, "embeddings")
    with_bits = vec.hyperplane_buckets(
        e, "embedding", 1, N_PLANES, carry=("embedding",)
    )
    probe = (
        with_bits.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(
            F.col("bucket").alias("probe_bucket"),
            vec.as_double(F.col("embedding")).alias("qv"),
        )
    )
    return vec.top_k_cosine(
        with_bits.filter(F.col("vec_id") != QUERY_VEC_ID).join(
            F.broadcast(probe), F.col("bucket") == F.col("probe_bucket")
        ),
        vec.as_double(F.col("embedding")),
        F.col("qv"),
        TOP_K,
    )


def _ivf_oracle(
    nlist: int = IVF_NLIST,
    nprobe: int = IVF_NPROBE,
    iters: int = IVF_ITERS,
    label: int | None = None,
    train_pred: str | None = None,
    final_pred: str | None = None,
) -> str:
    """DuckDB restatement of the ENTIRE IVF pipeline — the
    deterministic k-means quantizer unrolled by
    ``similarity/knn.py::kmeans_unrolled_cte`` (``train_pred``, the
    frozen-centroid append regime, is its training set), then the
    nprobe-list probe and exact cosine top-k.

    ``final_pred``: optional SQL predicate on the final candidate row
    ``f`` (e.g. a keep-filter on ``f.vec_id``) — the tombstone-probe
    regime (knn_ivf_index_delete): quantizer AND assignment still
    cover the full corpus (the index was built before the deletes),
    only the probe's candidates are filtered."""
    from ..similarity.knn import kmeans_unrolled_cte

    label_join = (
        ""
        if label is None
        else " JOIN embeddings AS lab ON lab.vec_id = f.vec_id"
    )
    label_pred = "" if label is None else f" AND lab.label = {label}"
    keep_pred = "" if final_pred is None else f" AND ({final_pred})"
    return f"""
    {kmeans_unrolled_cte(nlist, iters, train_pred=train_pred)},
    q AS (SELECT v AS qv FROM e WHERE vec_id = {QUERY_VEC_ID}),
    probe AS (
        SELECT c.cid FROM c{iters} AS c, q
        ORDER BY {vec.l2sq_sql('q.qv', 'c.c', 64)}, c.cid LIMIT {nprobe}
    )
    SELECT f.vec_id, {vec.cosine6_sql('f.v', 'q.qv')} AS cosine
    FROM af AS f{label_join}, probe, q
    WHERE f.cid = probe.cid AND f.vec_id <> {QUERY_VEC_ID}{label_pred}{keep_pred}
    ORDER BY cosine DESC, f.vec_id
    LIMIT {TOP_K}
    """


@register("knn_ivf", oracle=_ivf_oracle())
def knn_ivf_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: deterministic k-means coarse quantizer (8 lists,
    3 Lloyd iterations, lowest-id seeding, 9-dp-rounded centroid
    components) + 2-probe exact search — the index-backed scale path
    beside the LSH variant. The ORACLE unrolls the whole quantizer
    in SQL (``_ivf_oracle``), so even this iterative approximate
    index is value-checked end-to-end; tests additionally assert
    determinism and brute-force score parity for returned ids."""
    from ..similarity.knn import knn_ivf

    e = wide_table(spark, sf_dir, "embeddings")
    return knn_ivf(
        e, QUERY_VEC_ID, TOP_K, nlist=IVF_NLIST, nprobe=IVF_NPROBE, iters=IVF_ITERS
    )


@register("knn_ivf_indexed", oracle=_ivf_oracle())
def knn_ivf_indexed_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF DEPLOYMENT path (similarity/knn.py:104,137), end to
    end: build the index — k-means quantizer saved as a tiny table
    plus the corpus assignment table written BUCKETED by cluster_id —
    then probe it. The probe collects only the nlist centroids and
    the query row, computes the nprobe probe lists driver-side, and
    scans the assignment table with a ``cluster_id IN (...)`` filter
    that bucket-prunes to nprobe/nlist of the files: a pruned scan +
    TakeOrdered, ZERO exchanges (plan-asserted in test_similarity;
    inline/indexed output parity pinned there too). The quantizer is
    deterministic (lowest-id seeding, 9-dp centroids), so the same
    ``_ivf_oracle`` SQL that value-checks knn_ivf value-checks the
    indexed path — a green row here certifies the materialized
    index, not just the inline recompute. Builder runs jobs at plan
    time (index write): BUILD_EXECUTES."""
    from ..similarity.knn import knn_ivf_indexed, write_ivf_index

    e = wide_table(spark, sf_dir, "embeddings")
    write_ivf_index(spark, e, "ivf_query_idx", nlist=IVF_NLIST, iters=IVF_ITERS)
    return knn_ivf_indexed(
        spark, "ivf_query_idx", QUERY_VEC_ID, TOP_K, nprobe=IVF_NPROBE
    )


# The TRAIN/corpus predicate for the IVF append (its negation is the
# delta): md5-nibble-0 vec_ids (~1/16 of the corpus) play the
# just-ingested vectors; QUERY_VEC_ID=0 hashes to 'c', so the query
# row is corpus-side and seeds stay corpus-only.
IVF_APPEND_TRAIN_SQL = "substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) <> '0'"


@register(
    "knn_ivf_index_append",
    oracle=_ivf_oracle(train_pred=IVF_APPEND_TRAIN_SQL),
)
def knn_ivf_index_append_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index MAINTENANCE — the ANN-family twin of
    dedup_minhash_index_append, completing the vector-ingestion
    loop: build the IVF index from the corpus shard (md5-nibble
    split), APPEND the delta batch assigned against the FROZEN
    centroid table (``append_ivf_index`` — no retrain, the
    production regime between periodic rebuilds; the bucketed append
    adds per-bucket files and never rewrites existing ones, so
    bucket pruning survives), then probe the appended index. The
    oracle is ``_ivf_oracle`` with the quantizer TRAINED on the
    corpus shard only (``train_pred``) while assignment, probe, and
    top-k run over ALL vectors — exactly the frozen-centroid
    semantics; a green row certifies that the appended index holds
    the complete, correctly-assigned union. Untouched-files pin in
    test_similarity. Builder writes + appends at plan time:
    BUILD_EXECUTES."""
    from ..similarity.knn import (
        append_ivf_index,
        knn_ivf_indexed,
        write_ivf_index,
    )

    e = wide_table(spark, sf_dir, "embeddings")
    nib = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
    corpus = e.filter(nib != "0")
    delta = e.filter(nib == "0")
    write_ivf_index(
        spark, corpus, "ivf_append_idx", nlist=IVF_NLIST, iters=IVF_ITERS
    )
    append_ivf_index(spark, delta, "ivf_append_idx")
    return knn_ivf_indexed(
        spark, "ivf_append_idx", QUERY_VEC_ID, TOP_K, nprobe=IVF_NPROBE
    )


@register(
    "knn_ivf_index_compact",
    oracle=_ivf_oracle(train_pred=IVF_APPEND_TRAIN_SQL),
)
def knn_ivf_index_compact_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index COMPACTION — the ANN-family twin of
    dedup_minhash_index_compact, completing this family's
    write → probe → append → COMPACT lifecycle (r11): every
    ``append_ivf_index`` leaves a fresh set of per-bucket files next
    to the existing ones, so the inverted lists fragment linearly
    with append batches. ``compact_bucketed_table`` FFD-merges each
    cluster bucket's files into one bucket-id-encoded file (merge
    only within a bucket — every row already hashes to its bucket,
    so the probe's ``cluster_id IN (...)`` bucket-pruned,
    exchange-free scan survives; plan-pinned in test_similarity).
    Certification: build from the corpus shard, append the delta
    against the FROZEN centroids, COMPACT, probe — the same
    frozen-centroid ``_ivf_oracle`` green row certifies that
    compaction preserved every inverted-list row. Builder writes +
    appends + compacts at plan time: BUILD_EXECUTES."""
    from ..operators.compaction import compact_bucketed_table
    from ..similarity.knn import (
        append_ivf_index,
        knn_ivf_indexed,
        write_ivf_index,
    )

    e = wide_table(spark, sf_dir, "embeddings")
    nib = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
    corpus = e.filter(nib != "0")
    delta = e.filter(nib == "0")
    write_ivf_index(
        spark, corpus, "ivf_compact_idx", nlist=IVF_NLIST, iters=IVF_ITERS
    )
    append_ivf_index(spark, delta, "ivf_compact_idx")
    compact_bucketed_table(spark, "ivf_compact_idx_assign")
    return knn_ivf_indexed(
        spark, "ivf_compact_idx", QUERY_VEC_ID, TOP_K, nprobe=IVF_NPROBE
    )


# The delete shard: md5-nibble-'f' vec_ids (~1/16 of the corpus) play
# the just-retracted vectors (takedowns, opt-outs, re-embedding
# recalls — the operational reasons an ANN deployment must support
# DELETE). QUERY_VEC_ID=0 hashes to 'c', so the query row is always
# kept; distinct from the append shard's nibble '0' so the two
# maintenance certifications exercise different rows.
IVF_DELETE_NIBBLE = "f"
_IVF_KEEP_SQL = (
    "substring(md5(CAST(f.vec_id AS VARCHAR)), 1, 1) "
    f"<> '{IVF_DELETE_NIBBLE}'"
)


@register(
    "knn_ivf_index_delete",
    oracle=_ivf_oracle(final_pred=_IVF_KEEP_SQL),
)
def knn_ivf_index_delete_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index DELETE — the verb that completes this family's
    lifecycle symmetry with the minhash index (write → probe → append
    → compact → DELETE; r11 verdict item 1), done the LSM/tombstone
    way (`dedup_minhash_index_delete`'s mold): retracted vec_ids
    append to a tiny ``_dels`` table
    (``similarity/knn.py::delete_from_ivf_index``) and the probe
    broadcast-anti-joins them out of the assignment scan map-side —
    the bucket-pruned, exchange-free probe plan survives (plan-pinned
    in test_similarity). Nothing in ``_assign``/``_centroids`` is
    read or rewritten — a delete costs one tiny append no matter the
    index size (content-hash byte-stability pinned); dead rows are
    reclaimed by ``vacuum_ivf_index`` (which rewrites ONLY the cluster
    buckets holding a deleted vector) or the next rebuild.

    Certification: build the FULL-corpus index, tombstone the
    md5-nibble-'f' shard, probe — the output must equal the frozen
    full-corpus quantizer's top-k over the KEPT vectors (the oracle
    is ``_ivf_oracle`` with a keep-filter on the final candidates
    only: quantizer and assignment saw every vector because the index
    predates the deletes), which it can only do if the tombstone
    filter removes exactly the deleted vectors from the probed lists.
    Builder writes + deletes at plan time: BUILD_EXECUTES."""
    from ..similarity.knn import (
        delete_from_ivf_index,
        knn_ivf_indexed,
        write_ivf_index,
    )

    e = wide_table(spark, sf_dir, "embeddings")
    write_ivf_index(
        spark, e, "ivf_del_idx", nlist=IVF_NLIST, iters=IVF_ITERS
    )
    dels = e.where(
        F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
        == IVF_DELETE_NIBBLE
    ).select("vec_id")
    delete_from_ivf_index(spark, dels, "ivf_del_idx")
    return knn_ivf_indexed(
        spark,
        "ivf_del_idx",
        QUERY_VEC_ID,
        TOP_K,
        nprobe=IVF_NPROBE,
    )


# ANN quality EVALUATION (r8): recall@K of the IVF probe against the
# exact scan, per query — the audit every vector-search deployment
# runs before trusting an index (FAISS's standard metric). A fixed
# panel of stored vectors stands in for the query set; both rankings
# use the 6dp-rounded cosine with the vec_id tiebreak (the knn_ivf
# ordering), so the two top-K SETS are engine-exact and the recall
# is an integer ratio.
AUDIT_QVECS = [0, 7, 23, 48, 77, 111, 222, 333]


def _recall_audit_oracle() -> str:
    from ..similarity.knn import kmeans_unrolled_cte, probe_ranks_cte

    ids = ", ".join(str(v) for v in AUDIT_QVECS)
    return f"""
    {kmeans_unrolled_cte(IVF_NLIST, IVF_ITERS)},
    q AS (SELECT vec_id AS qvec, v AS qv FROM e WHERE vec_id IN ({ids})),
    {probe_ranks_cte(f"c{IVF_ITERS}")},
    probe AS (SELECT qvec, cid FROM ranked WHERE rn <= {IVF_NPROBE}),
    ivf AS (
        SELECT qvec, vec_id FROM (
            SELECT q.qvec, f.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qvec
                       ORDER BY {vec.cosine6_sql('f.v', 'q.qv')}
                                DESC, f.vec_id) AS rn
            FROM probe p
            JOIN af f ON f.cid = p.cid
            JOIN q ON q.qvec = p.qvec
            WHERE f.vec_id <> q.qvec
        ) WHERE rn <= {TOP_K}
    ),
    brute AS (
        SELECT qvec, vec_id FROM (
            SELECT q.qvec, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qvec
                       ORDER BY {vec.cosine6_sql('e.v', 'q.qv')}
                                DESC, e.vec_id) AS rn
            FROM e, q WHERE e.vec_id <> q.qvec
        ) WHERE rn <= {TOP_K}
    )
    SELECT b.qvec,
           CAST(count(i.vec_id) AS BIGINT) AS n_hits,
           round(CAST(count(i.vec_id) AS DOUBLE) / {TOP_K}, 6) AS recall
    FROM brute b
    LEFT JOIN ivf i ON i.qvec = b.qvec AND i.vec_id = b.vec_id
    GROUP BY b.qvec
    """


@register("knn_recall_audit", oracle=_recall_audit_oracle())
def knn_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the IVF probe vs the exact scan over the
    AUDIT_QVECS panel (see note above) — one row per query vector
    with the hit count and recall.

    Scale shape: ONE quantizer build is shared by all queries (the
    per-query knn_ivf would retrain k-means per panel member); the
    probe ranking is |panel| × nlist rows; IVF candidates scan only
    the probed lists; the brute side is the scoped-ANN verify scan
    (|panel| broadcast queries against one embeddings pass). The
    set-compare is a (qvec, vec_id) left join of two ≤K-per-query
    lists. Builder runs jobs at plan time (kmeans checkpoints):
    BUILD_EXECUTES."""
    from ..similarity.knn import assign_clusters, kmeans_centroids

    e = wide_table(spark, sf_dir, "embeddings")
    centroids = kmeans_centroids(e, IVF_NLIST, IVF_ITERS)
    assigned = assign_clusters(e, centroids)
    q = (
        e.filter(F.col("vec_id").isin(AUDIT_QVECS))
        .select(
            F.col("vec_id").alias("qvec"),
            vec.as_double(F.col("embedding")).alias("qv"),
        )
    )
    wp = Window.partitionBy("qvec").orderBy("_d", "cluster_id")
    probe = (
        centroids.crossJoin(F.broadcast(q))
        .withColumn("_d", vec.l2_distance(F.col("centroid"), F.col("qv")))
        .select("qvec", "cluster_id", F.row_number().over(wp).alias("rn"))
        .where(F.col("rn") <= IVF_NPROBE)
        .select("qvec", "cluster_id")
    )
    score = vec.cosine6(vec.as_double(F.col("embedding")), F.col("qv"))
    wr = Window.partitionBy("qvec").orderBy(F.desc("_s"), "vec_id")
    ivf = (
        assigned.join(F.broadcast(probe), "cluster_id")
        .join(F.broadcast(q), "qvec")
        .where(F.col("vec_id") != F.col("qvec"))
        .select("qvec", "vec_id", score.alias("_s"))
        .select("qvec", "vec_id", F.row_number().over(wr).alias("rn"))
        .where(F.col("rn") <= TOP_K)
        .select("qvec", "vec_id")
    )
    brute = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qvec"))
        .select("qvec", "vec_id", score.alias("_s"))
        .select("qvec", "vec_id", F.row_number().over(wr).alias("rn"))
        .where(F.col("rn") <= TOP_K)
        .select("qvec", F.col("vec_id").alias("bvec"))
    )
    hits = brute.join(
        ivf.withColumnRenamed("vec_id", "bvec").withColumn("_hit", F.lit(1)),
        ["qvec", "bvec"],
        "left",
    )
    return hits.groupBy("qvec").agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
        .cast("bigint")
        .alias("n_hits"),
        F.round(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("double") / TOP_K,
            6,
        ).alias("recall"),
    )


@register(
    "embedding_centroids",
    oracle="""
    WITH comps AS (
        SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS c
        FROM embeddings, generate_series(1, 64) AS t(i)
        GROUP BY label, i
    )
    SELECT label,
           CAST(count(*) / 64 AS BIGINT) AS n_vectors,
           round(sqrt(sum(c * c)), 6) AS centroid_norm
    FROM comps
    GROUP BY label
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid (element-wise mean) — the IVF coarse-
    quantizer build step. posexplode → (label, dim) partial means →
    reassemble; emitted as (label, n, ||centroid||) for the oracle."""
    e = wide_table(spark, sf_dir, "embeddings")
    comps = (
        e.select(
            "label", F.posexplode(vec.as_double(F.col("embedding"))).alias("i0", "x")
        )
        .groupBy("label", (F.col("i0") + 1).alias("i"))
        .agg(F.avg("x").alias("c"))
    )
    return (
        comps.groupBy("label")
        .agg(
            (F.count(F.lit(1)) / 64).cast("bigint").alias("n_vectors"),
            F.round(F.sqrt(F.sum(F.col("c") * F.col("c"))), 6).alias("centroid_norm"),
        )
    )


_MULTIPROBE_SET = ", ".join(
    ["q.qb"] + [f"xor(q.qb, {1 << i})" for i in range(N_PLANES)]
)


@register(
    "knn_lsh_multiprobe",
    oracle=_lsh_query_ctes()
    + f""",
    probes AS (SELECT unnest([{_MULTIPROBE_SET}]) AS pb FROM q)
    SELECT b.vec_id, {vec.cosine6_sql('e.v', 'q.qv')} AS cosine
    FROM buckets AS b JOIN e USING (vec_id) JOIN probes ON b.bucket = probes.pb, q
    WHERE b.vec_id <> {QUERY_VEC_ID}
    ORDER BY cosine DESC, b.vec_id
    LIMIT {TOP_K}
    """,
)
def knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe ANN: probe the query's bucket PLUS every 1-bit
    flip of it (9 of 256 buckets at 8 planes) — the standard
    recall/cost knob for hyperplane LSH: near neighbors that landed
    just across one hyperplane come back without rebuilding the
    index. Scoring stays exact within probed buckets, and the whole
    probe set restates in SQL (bucket XOR 2^i), so the output is
    value-checked like the single-probe form; tests assert the
    result is a superset of the single-probe query with brute-force
    scores."""
    e = wide_table(spark, sf_dir, "embeddings")
    with_bits = vec.hyperplane_buckets(
        e, "embedding", 1, N_PLANES, carry=("embedding",)
    )
    probe = (
        with_bits.filter(F.col("vec_id") == QUERY_VEC_ID)
        .select(
            # bucket ∪ {bucket XOR 2^i}: the 1-bit-flip probe set
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << i))
                        for i in range(N_PLANES)
                    ],
                )
            ).alias("probe_bucket"),
            vec.as_double(F.col("embedding")).alias("qv"),
        )
    )
    return vec.top_k_cosine(
        with_bits.filter(F.col("vec_id") != QUERY_VEC_ID).join(
            F.broadcast(probe), F.col("bucket") == F.col("probe_bucket")
        ),
        vec.as_double(F.col("embedding")),
        F.col("qv"),
        TOP_K,
    )


# Hard-negative mining for contrastive training: for each anchor
# vector, the top-k most-similar vectors with a DIFFERENT label —
# the negatives that actually move an embedding model. Anchors are
# the N_ANCHORS lowest vec_ids (deterministic); ranking is by
# 6dp-ROUNDED cosine (floats feeding a cross-engine rank must be
# rounded first — the ordering invariant) with vec_id as the unique
# tiebreak.
N_ANCHORS = 8
HARD_NEG_K = 5


@register(
    "embedding_hard_negatives",
    oracle=f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
               FROM embeddings),
    a AS (SELECT vec_id AS anchor_id, label AS anchor_label, v AS av
          FROM e WHERE vec_id < {N_ANCHORS}),
    scored AS (
        SELECT a.anchor_id, e.vec_id,
               {vec.cosine6_sql('a.av', 'e.v')} AS cosine
        FROM a JOIN e ON e.label <> a.anchor_label
    ),
    ranked AS (
        SELECT anchor_id, vec_id, cosine,
               row_number() OVER (PARTITION BY anchor_id
                                  ORDER BY cosine DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT anchor_id, vec_id, cosine, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= {HARD_NEG_K}
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``HARD_NEG_K`` different-label neighbors per anchor (see
    note above). Scale shape: the ``N_ANCHORS`` anchors broadcast
    against one corpus scan (no shuffle of vectors), and the rank
    filter pushes down as WindowGroupLimit — each map task forwards
    at most k rows per anchor before the exchange, so the window
    shuffle carries O(anchors x k x tasks) rows, never the corpus.
    At 100 TB the anchor set is whatever batch the trainer is mining
    for; the same plan serves it as long as the batch stays
    broadcastable, and the ANN bucket paths take over beyond that."""
    from pyspark.sql.window import Window

    e = wide_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", vec.as_double(F.col("embedding")).alias("v")
    )
    anchors = e.filter(F.col("vec_id") < N_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("v").alias("av"),
    )
    scored = (
        e.join(
            F.broadcast(anchors), F.col("label") != F.col("anchor_label")
        )
        .select(
            "anchor_id",
            "vec_id",
            vec.cosine6(F.col("av"), F.col("v")).alias("cosine"),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= HARD_NEG_K)
        .withColumn("rnk", F.col("rnk").cast("int"))
    )


# Scalar int8 quantization — the vector-storage compression step an
# ANN deployment runs before indexing (4x smaller than float32, 8x
# smaller than the double math type). Per-vector max-abs scaling:
# q_i = round(v_i * 127 / scale). Both engines evaluate the identical
# double expression before the round, and the fold that sums the
# reconstruction error runs left-to-right on both sides (F.aggregate
# / list_reduce), so the emitted codes and the 6dp error are
# value-checked, not rows-only.
@register(
    "embeddings_quantize_int8",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
        SELECT vec_id, v,
               list_reduce(list_transform(v, x -> abs(x)),
                           (a, b) -> CASE WHEN b > a THEN b ELSE a END) AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, v, scale,
               list_transform(v, x -> CAST(round(x * 127.0 / scale) AS INT)) AS codes
        FROM s
    )
    SELECT vec_id,
           round(scale, 6) AS scale,
           -- string-serialized: the driver's pandas canonicalizer
           -- cannot hash list-valued cells (r05 ERR row), so the
           -- registry forbids nested output types — emit the codes
           -- as a '|'-joined string on BOTH sides (value check is
           -- still exact: the ints print identically)
           array_to_string(codes, '|') AS codes,
           round(list_reduce(
                     list_transform(list_zip(v, codes),
                                    p -> abs(p[1] - p[2] * scale / 127.0)),
                     (a, b) -> a + b) / len(v), 6) AS mean_abs_err
    FROM q
    """,
)
def embeddings_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantize every embedding by per-vector max-abs scaling
    and report the per-vector mean absolute reconstruction error
    (see note above). Narrow per-row map — no shuffle, no join: the
    plan is a pure projection over the scan, so it scales as the
    scan does; at deployment the codes column writes back through
    the parquet sink as the ANN index's compact payload."""
    # wide_table: the interpreted per-row folds dominate the tiny
    # scan — a single-file read otherwise serializes them on one
    # core (measured 5.1 s → ~1 s at the 10x scale-up)
    e = wide_table(spark, sf_dir, "embeddings")
    v = vec.as_double(F.col("embedding"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x)))
    codes = F.transform(v, lambda x: F.round(x * 127.0 / scale).cast("int"))
    # raw scale is named scale_raw: aliasing the 6dp-rounded output
    # "scale" in the final select would SHADOW the raw input for the
    # mae expression via Spark's lateral-column-alias resolution —
    # the error sum would silently use the rounded scale (measured:
    # flips the 6th decimal of mean_abs_err vs the oracle).
    base = e.select(
        "vec_id", v.alias("v"), scale.alias("scale_raw"), codes.alias("codes")
    )
    err_terms = F.zip_with(
        F.col("v"),
        F.col("codes"),
        lambda x, q: F.abs(x - q * F.col("scale_raw") / 127.0),
    )
    mae = F.aggregate(err_terms, F.lit(0.0), lambda acc, x: acc + x) / F.size(
        F.col("v")
    )
    return base.select(
        "vec_id",
        F.round("scale_raw", 6).alias("scale"),
        # '|'-joined string, not array<int>: the driver's pandas
        # canonicalizer dies on list cells (unhashable) — nested
        # output types are forbidden registry-wide (test_schemas)
        F.concat_ws("|", F.col("codes").cast("array<string>")).alias(
            "codes"
        ),
        F.round(mae, 6).alias("mean_abs_err"),
    )


# ANN over the COMPRESSED vectors: int8-quantize, then score
# candidates with an INTEGER dot product of code arrays — the
# search-side payoff of embeddings_quantize_int8 (4x smaller scans;
# integer multiply-adds). Normalize-then-quantize collapses
# algebraically: codes of the unit vector under max-abs scaling are
# round((x/‖x‖)·127/(max|x|/‖x‖)) = round(x·127/max|x|) — so the
# codes come straight off the RAW vector (one fewer nested lambda;
# nesting is what made the first version 75x slower than brute: the
# per-element normalize recomputed the norm fold 64x per row after
# projection collapse). score = dot_i8 · (mx_c·mx_q)/(127²·‖c‖·‖q‖).
# The integer dot is bit-exact in any order; every double factor is
# a per-row scalar fold evaluated left-to-right identically on both
# engines, so the ranking (6dp-rounded score, vec_id tiebreak) is
# value-checked. The pre-limit scan evaluates ONE score expression
# per row; dot_i8 is recomputed only for the TOP_K survivors.
@register(
    "knn_quantized_int8",
    oracle=f"""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
        SELECT vec_id, v,
               list_reduce(list_transform(v, x -> abs(x)),
                           (a, b) -> CASE WHEN b > a THEN b ELSE a END) AS mx,
               sqrt(list_reduce(list_transform(v, x -> x * x),
                                (a, b) -> a + b)) AS nrm
        FROM v
    ),
    q AS (
        SELECT vec_id, mx, nrm,
               list_transform(v, x -> CAST(round(x * 127.0 / mx) AS INT))
                   AS codes
        FROM s
    ),
    qq AS (SELECT mx AS qmx, nrm AS qnrm, codes AS qc FROM q
           WHERE vec_id = {QUERY_VEC_ID}),
    scored AS (
        SELECT c.vec_id,
               CAST(list_reduce(list_transform(list_zip(c.codes, qq.qc),
                                               p -> p[1] * p[2]),
                                (a, b) -> a + b) AS BIGINT) AS dot_i8,
               round(list_reduce(list_transform(list_zip(c.codes, qq.qc),
                                                p -> p[1] * p[2]),
                                 (a, b) -> a + b)
                     * c.mx * qq.qmx / (16129.0 * c.nrm * qq.qnrm), 6)
                   AS score
        FROM q c, qq WHERE c.vec_id <> {QUERY_VEC_ID}
    )
    SELECT vec_id, dot_i8, score FROM scored
    ORDER BY score DESC, vec_id LIMIT {TOP_K}
    """,
)
def knn_quantized_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k nearest neighbors scored on int8-quantized vectors (see
    note above). Plan shape mirrors knn_brute_cosine: the 1-row query
    codes broadcast against the candidate scan, the folds run
    per-row in one projection, and TakeOrderedAndProject keeps k rows
    per partition — no global sort, no shuffle of the vectors. The
    TOP_K survivors carry their arrays through the limit so dot_i8's
    recompute touches k rows, not the corpus. At deployment the codes
    come from the written quantized table instead of being derived
    in-plan, dropping the scan width 4x; deriving them here keeps the
    query self-contained and the oracle total."""
    e = wide_table(spark, sf_dir, "embeddings")

    def mx(col):
        return F.array_max(F.transform(col, lambda x: F.abs(x)))

    def codes(col):
        return F.transform(
            col, lambda x: F.round(x * 127.0 / mx(col)).cast("int")
        )

    def dot_i8(a, b):
        return F.aggregate(
            F.zip_with(codes(a), codes(b), lambda x, y: x * y),
            F.lit(0),
            lambda acc, x: acc + x,
        )

    base = e.select("vec_id", vec.as_double(F.col("embedding")).alias("v"))
    qq = base.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("v").alias("qv")
    )
    score = F.round(
        dot_i8(F.col("v"), F.col("qv"))
        * mx(F.col("v"))
        * mx(F.col("qv"))
        / (
            16129.0
            * vec.norm(F.col("v"))
            * vec.norm(F.col("qv"))
        ),
        6,
    )
    top = (
        base.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(qq))
        .select("vec_id", "v", "qv", score.alias("score"))
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(TOP_K)
    )
    return top.select(
        "vec_id",
        dot_i8(F.col("v"), F.col("qv")).cast("bigint").alias("dot_i8"),
        "score",
    )


# Embedding-dimension covariance profile (r5): the feature-drift /
# redundancy monitor for an embedding column. Components quantize to
# 1e6-scaled integers FIRST (the documented semantic: covariance of
# the quantized vectors), so Σx, Σx², Σx_i·x_j are exact 128-bit
# integer sums and the top-k ordering runs on the EXACT integer
# numerator n·Sxy − Sx·Sy — no float enters until the display
# rounding. Same exactness family as lineitem_correlation_matrix.
COV_TOPK = 20


@register(
    "embeddings_covariance_topk",
    oracle=f"""
    WITH x AS (
        SELECT vec_id, i,
               CAST(round(CAST(embedding[i] AS DOUBLE) * {vec.QUANT_SCALE}) AS BIGINT) AS xi
        FROM embeddings, generate_series(1, 64) AS t(i)
    ),
    n AS (SELECT count(*) AS n FROM embeddings),
    s AS (SELECT i, CAST(sum(xi) AS HUGEINT) AS sx FROM x GROUP BY i),
    sxy AS (
        SELECT a.i AS di, b.i AS dj, CAST(sum(a.xi * b.xi) AS HUGEINT) AS sxy
        FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i < b.i
        GROUP BY a.i, b.i
    ),
    num AS (
        SELECT sxy.di, sxy.dj,
               CAST(n.n AS HUGEINT) * sxy.sxy - sa.sx * sb.sx AS num, n.n
        FROM sxy, n
        JOIN s sa ON sa.i = sxy.di
        JOIN s sb ON sb.i = sxy.dj
    )
    SELECT CAST(di AS INTEGER) AS dim_i, CAST(dj AS INTEGER) AS dim_j,
           round(CAST(num AS DOUBLE)
                 / (CAST(n AS DOUBLE) * n * {vec.QUANT_SCALE}.0 * {vec.QUANT_SCALE}), 9)
               AS cov
    FROM (
        SELECT di, dj, num, n,
               row_number() OVER (ORDER BY abs(num) DESC, di, dj) AS rn
        FROM num
    ) WHERE rn <= {COV_TOPK}
    """,
)
def embeddings_covariance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{COV_TOPK} most-covarying embedding-dimension pairs (see
    exactness note above — ranking happens on exact integers, the
    9-dp double is display-only). Plan: posexplode to (vec_id, dim,
    x) with the quantization as a codegen scalar AFTER the explode
    (never a per-element lambda); each side of the dim-pair join is
    its own parquet scan (two cheap scans beat checkpointing the
    exploded stream and beat self-joining one derived pipeline,
    which would recompute per side); the 64·63/2 co-moment groups
    map-side-combine, so the shuffle after the pair join carries
    ~2016 rows per task regardless of corpus size. The dimension
    ranking window runs on the 2016-row grid — metadata-scale."""

    def exploded():
        e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        return e.select(
            "vec_id", F.posexplode("embedding").alias("p", "xf")
        ).select(
            "vec_id",
            (F.col("p") + 1).alias("i"),
            F.round(F.col("xf").cast("double") * vec.QUANT_SCALE)
            .cast("bigint")
            .alias("xi"),
        )

    from ..similarity.comoment import comoment_upper_exact

    n_df = table(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).alias("n")
    )
    s = exploded().groupBy("i").agg(
        F.sum(F.col("xi").cast("decimal(38,0)")).alias("sx")
    )
    # co-moments by Arrow-batched GEMM (similarity/comoment.py) —
    # the posexplode self-join this replaces shuffled O(n * d^2)
    # rows (measured 25.5 s at the 10x corpus vs ~1 s GEMM); bit
    # equality pinned by TestComomentGemm. Downstream stays fully
    # declarative — the partials never leave the cluster.
    sxy = comoment_upper_exact(
        wide_table(spark, sf_dir, "embeddings")
    ).filter(F.col("di") < F.col("dj"))
    sa = s.select(F.col("i").alias("di"), F.col("sx").alias("sxa"))
    sb = s.select(F.col("i").alias("dj"), F.col("sx").alias("sxb"))
    num = (
        sxy.join(F.broadcast(n_df))
        .join(F.broadcast(sa), "di")
        .join(F.broadcast(sb), "dj")
        .select(
            "di",
            "dj",
            (
                F.col("n").cast("decimal(38,0)") * F.col("sxy")
                - F.col("sxa") * F.col("sxb")
            ).alias("num"),
            "n",
        )
    )
    w = Window.orderBy(F.abs(F.col("num")).desc(), "di", "dj")
    return (
        num.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= COV_TOPK)
        .select(
            F.col("di").cast("int").alias("dim_i"),
            F.col("dj").cast("int").alias("dim_j"),
            F.round(
                F.col("num").cast("double")
                / (
                    F.col("n").cast("double")
                    * F.col("n")
                    * float(vec.QUANT_SCALE)
                    * vec.QUANT_SCALE
                ),
                9,
            ).alias("cov"),
        )
    )


# PCA top principal component (r6 queue's open problem: an
# ORACLE-EXACT eigensolve). Why this is normally impossible to
# value-check: float power iteration accumulates merge-order noise
# every round, and the synthetic embeddings are near-isotropic
# (lambda1/lambda2 = 1.013 measured at sf0.01), so plain power
# iteration needs ~hundreds of rounds to converge at all. Both
# problems fall to the same move: the d x d co-moment matrix is
# METADATA-scale (64x64), so instead of iterating M.v we square the
# MATRIX itself PCA_SQUARINGS times in fixed-point integer arithmetic
# (M -> M^2 -> M^4 ... -> M^1024), renormalizing entries to
# PCA_MSCALE after each squaring. An effective exponent of 1024
# turns the 1.013 gap into 1.013^1024 ~ 5e5 — one matvec of the
# powered matrix against the all-ones vector is fully converged
# (cosine vs float eigh = 0.9999999993 measured at sf0.01). Every
# step is exact integer (products <= 1e12, row sums <= 6.4e13 —
# int64-safe after the first normalization), so the WHOLE algorithm
# restates in SQL and the eigenvector is value-checked bit-for-bit.
# The reported eigenvalue is the Rayleigh quotient of the normalized
# matrix (exact-integer numerator/denominator cast to double in the
# same order on both sides), with ~1e-5 relative truncation error vs
# the unnormalized quotient — corpus-size-independent overflow
# headroom (all integer magnitudes bounded by d and the fixed-point
# scales, not n).
PCA_DIM = 64
PCA_MSCALE = 1_000_000
PCA_VSCALE = 1_000_000
PCA_SQUARINGS = 10


def _pca_norm_sql(src: str, val: str, out: str) -> str:
    """One fixed-point renormalization CTE pair: scale ``val`` rows of
    ``src`` so max|value| = PCA_MSCALE, sign-preserving, truncating
    (both engines' integer division truncates toward zero on the
    nonnegative operands used here)."""
    return f"""mx_{out} AS (SELECT max(abs({val})) AS am FROM {src}),
    {out} AS MATERIALIZED (
        SELECT di, dj,
               CASE WHEN am = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST((CASE WHEN {val} < 0 THEN -1 ELSE 1 END)
                              * ((CAST(abs({val}) AS HUGEINT)
                                  * {PCA_MSCALE}) // am)
                              AS BIGINT)
               END AS e
        FROM {src}, mx_{out}
    )"""


def _pca_oracle() -> str:
    parts = [
        f"""
    WITH x AS MATERIALIZED (
        SELECT vec_id, i,
               CAST(round(CAST(embedding[i] AS DOUBLE) * {vec.QUANT_SCALE})
                    AS BIGINT) AS xi
        FROM embeddings, generate_series(1, {PCA_DIM}) AS t(i)
    ),
    n AS (SELECT count(*) AS n FROM embeddings),
    s AS (SELECT i, CAST(sum(xi) AS HUGEINT) AS sx FROM x GROUP BY i),
    sxy AS (
        SELECT a.i AS di, b.i AS dj, CAST(sum(a.xi * b.xi) AS HUGEINT) AS sxy
        FROM x a JOIN x b ON a.vec_id = b.vec_id
        GROUP BY a.i, b.i
    ),
    m AS MATERIALIZED (
        SELECT sxy.di, sxy.dj,
               CAST(n.n AS HUGEINT) * sxy.sxy - sa.sx * sb.sx AS num
        FROM sxy, n
        JOIN s sa ON sa.i = sxy.di
        JOIN s sb ON sb.i = sxy.dj
    ),
    {_pca_norm_sql("m", "num", "p0")}"""
    ]
    for k in range(1, PCA_SQUARINGS + 1):
        parts.append(
            f"""q{k} AS MATERIALIZED (
        SELECT a.di, b.dj, CAST(sum(a.e * b.e) AS BIGINT) AS e
        FROM p{k - 1} a JOIN p{k - 1} b ON a.dj = b.di
        GROUP BY a.di, b.dj
    ),
    {_pca_norm_sql(f"q{k}", "e", f"p{k}")}"""
        )
    last = f"p{PCA_SQUARINGS}"
    parts.append(
        f"""w AS (SELECT di AS i, CAST(sum(e) AS BIGINT) AS w
         FROM {last} GROUP BY di),
    mw AS (SELECT max(abs(w)) AS am FROM w),
    v0 AS (
        SELECT i,
               CASE WHEN am = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST((CASE WHEN w < 0 THEN -1 ELSE 1 END)
                              * ((abs(w) * {PCA_VSCALE}) // am) AS BIGINT)
               END AS v
        FROM w, mw
    ),
    vm AS (SELECT max(abs(v)) AS am FROM v0),
    sgn AS (
        SELECT CASE WHEN (SELECT v0.v FROM v0, vm
                          WHERE abs(v0.v) = vm.am
                          ORDER BY v0.i LIMIT 1) < 0
                    THEN -1 ELSE 1 END AS sg
    ),
    v AS (SELECT i, CAST(v0.v * sgn.sg AS BIGINT) AS v FROM v0, sgn),
    pv AS (
        SELECT p.di AS i, CAST(sum(p.e * v.v) AS HUGEINT) AS pv
        FROM p0 p JOIN v ON p.dj = v.i
        GROUP BY p.di
    ),
    ray AS (
        SELECT CAST(sum(pv.pv * v.v) AS HUGEINT) AS nq,
               CAST(sum(v.v * v.v) AS HUGEINT) AS dn
        FROM pv JOIN v ON pv.i = v.i
    ),
    lam AS (
        SELECT CASE WHEN ray.dn = 0 THEN 0.0
                    ELSE round(CAST(ray.nq AS DOUBLE)
                               * CAST(mx_p0.am AS DOUBLE)
                               / (CAST({PCA_MSCALE} AS DOUBLE)
                                  * CAST(ray.dn AS DOUBLE)
                                  * CAST(n.n AS DOUBLE)
                                  * CAST(n.n AS DOUBLE)
                                  * {vec.QUANT_SCALE}.0 * {vec.QUANT_SCALE}), 9)
               END AS lambda_cov
        FROM ray, mx_p0, n
    )
    SELECT CAST(v.i AS INTEGER) AS dim,
           v.v AS loading_fp,
           round(CAST(v.v AS DOUBLE) / {PCA_VSCALE}, 6) AS loading,
           lam.lambda_cov
    FROM v, lam
    """
    )
    return ",\n    ".join(parts)


@register("embeddings_pca_power", oracle=_pca_oracle())
def embeddings_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by integer
    fixed-point matrix powering (see exactness + convergence note
    above). Output: one row per dimension with the fixed-point
    loading (exact BIGINT, value-checked bit-for-bit), its 6-dp
    double display form, and the Rayleigh-quotient eigenvalue in
    covariance units.

    Scale shape: the ONLY corpus-sized stages are the co-moment
    aggregates (posexplode + codegen quantization, map-side combine
    to d(d+1)/2 = 2080 groups — the shuffle after the dim-pair join
    carries ~2080 rows per task regardless of corpus size, the
    embeddings_covariance_topk plan). The d x d matrix (4096 entries)
    is then collected and the squaring cascade runs driver-side in
    exact numpy int64 (bounds in the note above) — the same division
    of labor as Spark MLlib's RowMatrix.computePrincipalComponents,
    which collects the d x d Gram matrix and runs the eigensolve on
    the driver. Driver state is O(d^2), never O(corpus).
    """
    import numpy as np

    d = PCA_DIM

    def exploded():
        e = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        return e.select(
            "vec_id", F.posexplode("embedding").alias("p", "xf")
        ).select(
            "vec_id",
            (F.col("p") + 1).alias("i"),
            F.round(F.col("xf").cast("double") * vec.QUANT_SCALE)
            .cast("bigint")
            .alias("xi"),
        )

    # one job for Sx AND n (n = row count of any one dimension's
    # group) instead of a separate count() scan
    s_rows = (
        exploded()
        .groupBy("i")
        .agg(
            F.sum(F.col("xi").cast("decimal(38,0)")).alias("sx"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    if not s_rows:
        raise ValueError(
            "embeddings_pca_power: embeddings table is empty at "
            f"{sf_dir!r} — no rows to decompose"
        )
    n = int(s_rows[0]["cnt"])
    # co-moments via Arrow-batched GEMM (similarity/comoment.py) —
    # the posexplode self-join shape shuffles O(n * d^2) rows and
    # measured 79.7 s at the 40x corpus with this stage dominant;
    # the GEMM path shuffles only per-partition d x d partials
    from ..similarity.comoment import comoment_upper_exact

    sxy_rows = comoment_upper_exact(
        wide_table(spark, sf_dir, "embeddings")
    ).collect()
    sx = {int(r["i"]): int(r["sx"]) for r in s_rows}
    # exact Python-int co-moment matrix, mirrored from the upper
    # triangle (n*Sxy - Sx*Sy can exceed int64 past sf~0.03, so the
    # raw matrix stays arbitrary-precision until normalized)
    M = [[0] * d for _ in range(d)]
    for r in sxy_rows:
        di, dj = int(r["di"]), int(r["dj"])
        val = n * int(r["sxy"]) - sx[di] * sx[dj]
        M[di - 1][dj - 1] = val
        M[dj - 1][di - 1] = val

    def norm_to(vals, scale):
        mx = max(abs(x) for row in vals for x in row) if vals else 0
        if mx == 0:
            return [[0] * len(vals[0]) for _ in vals], 0
        return [
            [
                (1 if x >= 0 else -1) * ((abs(x) * scale) // mx)
                for x in row
            ]
            for row in vals
        ], mx

    p0_list, am = norm_to(M, PCA_MSCALE)
    # entries <= PCA_MSCALE from here on: products <= 1e12, 64-term
    # sums <= 6.4e13 — exact in int64, so numpy matmul is safe
    p = np.array(p0_list, dtype=np.int64)
    for _ in range(PCA_SQUARINGS):
        # the matmul itself is int64-exact (|p| <= 1e6, 64-term sums
        # <= 6.4e13) but abs(entry) * MSCALE can reach 6.4e19 > int64
        # — the renormalization runs in exact Python ints, mirroring
        # the oracle's HUGEINT cast
        sq = (p @ p).tolist()
        nrm, _ = norm_to(sq, PCA_MSCALE)
        p = np.array(nrm, dtype=np.int64)
    w = p.sum(axis=1)
    mw = int(np.max(np.abs(w)))
    if mw == 0:
        v = np.zeros(d, dtype=np.int64)
    else:
        v = np.where(w < 0, -1, 1) * ((np.abs(w) * PCA_VSCALE) // mw)
    # canonical sign: the largest-|loading| dimension (smallest index
    # on ties) reports positive
    pidx = int(np.argmax(np.abs(v)))  # first max — the min-i tie rule
    if v[pidx] < 0:
        v = -v
    p0 = np.array(p0_list, dtype=np.int64)
    pv = p0 @ v  # <= 64 * 1e6 * 1e6 = 6.4e13, int64-exact
    nq = sum(int(pv[i]) * int(v[i]) for i in range(d))
    den = sum(int(v[i]) * int(v[i]) for i in range(d))
    rows = [(i + 1, int(v[i])) for i in range(d)]
    out = spark.createDataFrame(rows, "dim int, loading_fp long")
    if den == 0:
        lam_col = F.lit(0.0)
    else:
        # identical literal order to the oracle's double expression:
        # exact integers -> double, one multiply/divide chain
        lam_col = F.round(
            F.lit(float(nq))
            * F.lit(float(am))
            / (
                F.lit(float(PCA_MSCALE))
                * F.lit(float(den))
                * F.lit(float(n))
                * F.lit(float(n))
                * float(vec.QUANT_SCALE)
                * vec.QUANT_SCALE
            ),
            9,
        )
    return out.select(
        "dim",
        "loading_fp",
        F.round(F.col("loading_fp").cast("double") / PCA_VSCALE, 6).alias(
            "loading"
        ),
        lam_col.alias("lambda_cov"),
    )


# Product quantization + asymmetric-distance (ADC) ANN — the standard
# 100 TB vector-compression path (Jegou et al., "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011): split each vector into
# PQ_M subspaces, k-means each subspace to PQ_K centroids, store each
# vector as PQ_M small codes (8 bytes/vector here vs 256 for the raw
# floats), and score a query by summing per-subspace
# query-to-centroid distances looked up by code. What makes THIS
# variant value-checkable where textbook PQ is not: the whole
# quantizer runs in the 1e6-scaled integer domain — centroid
# components are `sum div count` (exact BIGINT, no float average),
# every squared distance is an exact integer (<= 8*(2e6)^2 per
# subspace), argmin ties break to the lower centroid id, and the ADC
# score is an exact integer sum — so the codes AND the ranking are
# bit-identical cross-engine and the oracle unrolls the full two-
# round Lloyd cascade per subspace, knn_ivf-style.
PQ_M = 8        # subspaces
PQ_SUBDIM = 8   # dims per subspace (PQ_M * PQ_SUBDIM = 64)
PQ_K = 16       # centroids per subspace
PQ_ITERS = 2    # Lloyd rounds
PQ_RERANK = 100  # ADC shortlist size handed to the exact re-rank


def _pq_oracle(e_head: str | None = None, disp_div: str = "") -> str:
    """The unrolled PQ cascade: one ``vq_kmeans_unrolled_cte`` codebook
    per subspace. ``e_head``: override the WITH-head up to (and
    producing) CTE ``e(vec_id, xi)`` — the OPQ variant swaps in a
    rotated component list; ``disp_div``: extra divisor appended to
    the display-scale division chain (rotation scales squared
    distances by d)."""
    from ..similarity.pq import vq_kmeans_unrolled_cte

    if e_head is None:
        e_head = f"WITH {vec.quantized_sql()}"
    return f"""{e_head},
    sub AS MATERIALIZED (
        SELECT vec_id, t.s,
               list_transform(range(1, {PQ_SUBDIM} + 1),
                              i -> xi[t.s * {PQ_SUBDIM} + i]) AS v
        FROM e, generate_series(0, {PQ_M - 1}) AS t(s)
    ),
    {vq_kmeans_unrolled_cte(PQ_ITERS, str(PQ_K), PQ_SUBDIM, src="sub", col="v", key="s")},
    q AS (SELECT s, v FROM sub WHERE vec_id = {QUERY_VEC_ID}),
    dq AS (
        SELECT c.s, c.cid, {vec.l2sq_sql('q.v', 'c.c', PQ_SUBDIM)} AS d
        FROM c{PQ_ITERS} AS c JOIN q ON q.s = c.s
    ),
    scored AS (
        SELECT f.vec_id, CAST(sum(dq.d) AS BIGINT) AS adc_fp
        FROM af AS f JOIN dq ON f.s = dq.s AND f.cid = dq.cid
        WHERE f.vec_id <> {QUERY_VEC_ID}
        GROUP BY f.vec_id
    ),
    shortlist AS MATERIALIZED (
        SELECT vec_id, adc_fp FROM scored
        ORDER BY adc_fp, vec_id LIMIT {PQ_RERANK}
    ),
    exact AS (
        SELECT s.vec_id,
               CAST(sum({vec.l2sq_sql('s.v', 'q.v', PQ_SUBDIM)}) AS BIGINT) AS l2sq_fp
        FROM sub AS s
        JOIN q ON q.s = s.s
        JOIN shortlist AS sl ON sl.vec_id = s.vec_id
        GROUP BY s.vec_id
    )
    SELECT x.vec_id, x.l2sq_fp,
           round(CAST(x.l2sq_fp AS DOUBLE) / {vec.QUANT_SCALE}.0 / {vec.QUANT_SCALE}{disp_div}, 6)
               AS l2sq,
           sl.adc_fp
    FROM exact AS x JOIN shortlist AS sl ON sl.vec_id = x.vec_id
    ORDER BY x.l2sq_fp, x.vec_id
    LIMIT {TOP_K}
    """


@register("knn_pq_adc", oracle=_pq_oracle())
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} nearest neighbors by product quantization:
    ADC shortlist (PQ_RERANK candidates scored purely in the
    compressed domain) -> exact re-rank of the shortlist on the
    quantized vectors — the standard two-stage PQ deployment
    (compressed scan over everything, exact math over almost
    nothing). Integer-domain Lloyd rounds make codes, ADC sums AND
    the re-rank distances exact, so codebook training, encoding,
    shortlisting and re-ranking are all value-checked against the
    unrolled SQL restatement. Measured at sf0.001: the 100-candidate
    shortlist contains 10/10 of the exact top-10 (pinned loosely in
    test_similarity::TestPqAdc); plain ADC top-10 alone held 1/10 —
    random near-isotropic data is VQ's worst case, which is exactly
    why the operator ships with the re-rank stage.

    Trainer, LUT, scoring scan and re-rank are similarity/pq.py's
    (its docstring has the scale shape: 5.4/31.4/125.9 s at
    1x/10x/40x declaratively vs 2.5/2.4/3.0 s vectorized, SCALING.md
    round-6). At deployment the codes table (PQ_M bytes per vector)
    is what an index write would persist; the ADC scan reads codes +
    the 128-entry lookup table, never the raw vectors — that
    asymmetry is the entire point of PQ at 100 TB. Builder collects
    codebook state at plan time: BUILD_EXECUTES."""
    from ..similarity import pq

    e = wide_table(spark, sf_dir, "embeddings")
    q = pq.query_row(e, QUERY_VEC_ID, sf_dir)
    cents = pq.train(e, pq.seed_rows(e, PQ_K), PQ_M, PQ_ITERS)
    scored = pq.pq_score_pass(e, cents, pq.query_lut(cents, q), QUERY_VEC_ID)
    return pq.exact_rerank(
        table(spark, sf_dir, "embeddings"), scored, q, PQ_RERANK, TOP_K
    )


# OPQ-style rotated product quantization (Ge et al., "Optimized
# Product Quantization", CVPR'13): PQ's subspace independence
# assumption fails when variance concentrates in a few correlated
# dims, so deployments rotate vectors before quantizing. Training R
# needs per-iteration SVDs (not oracle-expressible); the standard
# train-free substitute at scale is a STRUCTURED rotation — a
# sign-flip diagonal D then a Sylvester-Hadamard H (the FJLT /
# "random rotation" option in FAISS's OPQ family) — which this
# operator makes fully deterministic: D's signs come from md5
# nibbles (the house portable hash family) and S = H·D has ±1
# entries with SᵀS = 64·I. Rotating the 1e6-quantized INTEGER
# vectors is therefore exact (64 signed int64 terms per coordinate,
# |y| ≤ 1.28e8) and distance-preserving up to the integer factor 64:
# ‖S(a−b)‖² = 64·‖a−b‖² exactly — so the exact re-rank returns the
# SAME neighbor ranking as the unrotated pipeline (pinned in
# test_similarity::TestOpqAdc), while codes, ADC sums and the
# shortlist are genuinely computed in the rotated domain.
OPQ_DIM = PQ_M * PQ_SUBDIM  # 64


def _opq_e_head() -> str:
    """WITH-head producing CTE e(vec_id, xi) of ROTATED quantized
    components: y_i = Σ_j sgn(i,j)·x_j with sgn = Hadamard
    (-1)^popcount(i&j) times the md5 sign of column j. Integer sums
    are exact in any order, so a plain SQL GROUP BY restates the
    rotation."""
    return f"""
    WITH {vec.quantized_sql("raw", "x0")},
    rot AS (
        SELECT ti.i, tj.j,
               CASE WHEN (bit_count(CAST(ti.i AS BIGINT) & CAST(tj.j AS BIGINT))
                          + CASE WHEN strpos('13579bdf',
                                substr(md5('opq:' || CAST(tj.j AS VARCHAR)), 1, 1)) > 0
                            THEN 1 ELSE 0 END) % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM range(0, {OPQ_DIM}) AS ti(i), range(0, {OPQ_DIM}) AS tj(j)
    ),
    e AS MATERIALIZED (
        SELECT vec_id, list(y ORDER BY i) AS xi FROM (
            SELECT raw.vec_id, rot.i,
                   CAST(sum(rot.sgn * raw.x0[rot.j + 1]) AS BIGINT) AS y
            FROM raw, rot GROUP BY raw.vec_id, rot.i
        ) GROUP BY vec_id
    )"""


@register(
    "knn_opq_adc", oracle=_pq_oracle(e_head=_opq_e_head(), disp_div=" / 64")
)
def knn_opq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} nearest neighbors by ROTATED product quantization
    (see the structured-rotation note above): deterministic
    Hadamard·sign-diagonal rotation of the integer-quantized vectors,
    then the identical integer-Lloyd PQ cascade — codebooks, codes,
    ADC shortlist and exact re-rank all live in the rotated domain,
    and every stage stays exact-integer, so the whole pipeline
    value-checks against the unrolled SQL restatement (the rotation
    itself is one GROUP BY of signed integer sums in the oracle).

    The rotation rides the similarity/pq.py passes as their ``rot``
    (one 64×64 ±1 GEMM per Arrow batch) and the re-rank's.
    ‖S(a−b)‖² = 64·‖a−b‖² exactly, so every re-ranked distance is 64×
    the unrotated pipeline's for the same pair (pinned in
    test_similarity::TestOpqAdc); the SHORTLISTS may differ —
    measured at sf0.001 the rotated ADC holds 8/10 of the true top-10
    vs plain PQ's 10/10, the honest cost of rotating an
    already-isotropic corpus (OPQ pays off when variance is
    concentrated, which random synthetic data is not). Builder
    collects codebook state at plan time: BUILD_EXECUTES."""
    from ..similarity import pq

    R = pq.opq_rotation(OPQ_DIM)
    e = wide_table(spark, sf_dir, "embeddings")
    q = pq.query_row(e, QUERY_VEC_ID, sf_dir, rot=R)
    cents = pq.train(e, pq.seed_rows(e, PQ_K), PQ_M, PQ_ITERS, rot=R)
    scored = pq.pq_score_pass(
        e, cents, pq.query_lut(cents, q), QUERY_VEC_ID, rot=R
    )
    return pq.exact_rerank(
        table(spark, sf_dir, "embeddings"), scored, q, PQ_RERANK, TOP_K, rot=R
    )


# Matryoshka-truncation retrieval audit (Kusupati et al., "Matryoshka
# Representation Learning", NeurIPS 2022): MRL-style deployments
# serve ANN from a PREFIX of each embedding (8/16/32 of 64 dims) and
# re-rank with the full vector — this audit measures what the
# truncation costs on THIS corpus by running the same top-k search
# at each prefix width over a deterministic MRL_QUERIES-vector query
# sample and reporting total/mean overlap with the full-width
# answers. Rankings order by the 6-dp-rounded cosine with vec_id
# tiebreak (the knn_brute_cosine idiom), so both engines rank
# identically and the overlap counts are exact integers; the mean is
# one exact division, rounded 3 dp identically.
MRL_DIMS = (8, 16, 32)
MRL_QUERIES = 8  # query sample: the MRL_QUERIES lowest vec_ids


def _mrl_oracle() -> str:
    def ranked(vexpr: str, name: str) -> str:
        return f"""{name} AS MATERIALIZED (
        SELECT qs.qid, e.vec_id
        FROM e, qs
        WHERE e.vec_id <> qs.qid
        QUALIFY row_number() OVER (
            PARTITION BY qs.qid
            ORDER BY {vec.cosine6_sql(vexpr, f"qs.qv[1:len({vexpr})]")} DESC, e.vec_id
        ) <= {TOP_K}
    )"""

    parts = [
        f"""
    WITH e AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    qs AS (
        SELECT vec_id AS qid, v AS qv FROM e
        ORDER BY vec_id LIMIT {MRL_QUERIES}
    ),
    {ranked("e.v", "full10")}"""
    ]
    selects = []
    for d in MRL_DIMS:
        parts.append(ranked(f"e.v[1:{d}]", f"t{d}"))
        selects.append(
            f"""SELECT {d} AS trunc_dim,
               CAST((SELECT count(*) FROM t{d}
                     JOIN full10 USING (qid, vec_id)) AS INTEGER)
                   AS sum_overlap,
               round(CAST((SELECT count(*) FROM t{d}
                           JOIN full10 USING (qid, vec_id)) AS DOUBLE)
                     / {MRL_QUERIES}, 3) AS mean_overlap"""
        )
    return (
        ",\n    ".join(parts)
        + "\n    "
        + "\n    UNION ALL\n    ".join(selects)
    )


@register("embeddings_matryoshka_audit", oracle=_mrl_oracle())
def embeddings_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Total and mean overlap@{TOP_K} between prefix-width retrieval
    and full-width retrieval over the MRL_QUERIES-vector query
    sample, per MRL_DIMS truncation (see note above).

    Scale shape: per width, cosines compute in one projection over
    the corpus x query-sample cross join (the query side is
    MRL_QUERIES broadcast rows), THEN the per-query top-k window
    runs — its partition count equals the query-sample size, which
    is the audit's natural parallelism unit (a production audit
    scales Q, not the corpus side of each partition; rank<=k pushes
    down to WindowGroupLimit so no partition fully sorts). Overlap
    joins are k x Q-row metadata."""
    e = wide_table(spark, sf_dir, "embeddings")
    base = e.select("vec_id", vec.as_double(F.col("embedding")).alias("v"))
    qs = (
        base.orderBy("vec_id")
        .limit(MRL_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
    )

    def ranked(width: int | None):
        vcol = F.col("v") if width is None else F.slice("v", 1, width)
        qcol = F.col("qv") if width is None else F.slice("qv", 1, width)
        w = Window.partitionBy("qid").orderBy(
            F.desc("c"), F.asc("vec_id")
        )
        return (
            base.join(F.broadcast(qs))
            .filter(F.col("vec_id") != F.col("qid"))
            .select(
                "qid",
                "vec_id",
                vec.cosine6(vcol, qcol).alias("c"),
            )
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= TOP_K)
            .select("qid", "vec_id")
        )

    full10 = ranked(None).localCheckpoint(eager=True)
    out = None
    for d in MRL_DIMS:
        row = (
            ranked(d)
            .join(full10, ["qid", "vec_id"])
            .agg(F.count(F.lit(1)).cast("int").alias("sum_overlap"))
            .select(
                F.lit(d).alias("trunc_dim"),
                "sum_overlap",
                F.round(
                    F.col("sum_overlap").cast("double") / MRL_QUERIES, 3
                ).alias("mean_overlap"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# Filtered ANN: attribute-constrained vector search ("nearest
# same-class items"), the variant every production vector store
# exposes. The constraint applies BEFORE scoring (pre-filtering):
# candidates from the probed lists are pruned by the predicate and
# the top-k comes from the filtered set — post-filtering a plain
# top-k can return fewer than k. At deployment the predicate rides
# the bucketed assignment table's parquet row-group stats (the
# knn_ivf_indexed layout) — here the inline form keeps the oracle
# total: same unrolled k-means, plus the label join.
KNN_FILTER_LABEL = 2  # the query vector's own class — same-class retrieval


@register(
    "knn_ivf_filtered",
    oracle=_ivf_oracle(label=KNN_FILTER_LABEL),
)
def knn_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} same-class (label = {KNN_FILTER_LABEL}) neighbors
    via the IVF quantizer (see note above — pre-filtering semantics;
    quantizer trained on the FULL corpus, so index layout is shared
    across predicates). Oracle: knn_ivf's unrolled k-means plus the
    label join. Builder checkpoints per Lloyd round: BUILD_EXECUTES."""
    from ..similarity.knn import knn_ivf

    e = wide_table(spark, sf_dir, "embeddings")
    return knn_ivf(
        e,
        QUERY_VEC_ID,
        TOP_K,
        nlist=IVF_NLIST,
        nprobe=IVF_NPROBE,
        iters=IVF_ITERS,
        label_filter=KNN_FILTER_LABEL,
    )


# IVFPQ — the coarse-quantizer + residual-PQ composition (Jegou et
# al. 2011 §IV; the FAISS "IVFx,PQy" workhorse index): an integer
# coarse k-means partitions the corpus into inverted lists, each
# vector stores PQ codes of its RESIDUAL (x - coarse centroid) —
# residuals are far better conditioned for VQ than raw vectors — and
# a query probes the nearest lists with a PER-LIST ADC table (the
# query residual differs per list). Everything runs in the same
# exact-integer regime as knn_pq_adc (sum-div-count centroids,
# first-argmin ties, residuals exact int64 with |x-c| <= 4e6), so
# coarse training, residual codebooks, probing, ADC and re-rank all
# value-check against the doubly-unrolled SQL restatement.
IVFPQ_NLIST = 8
IVFPQ_COARSE_ITERS = 2
IVFPQ_NPROBE = 2


def _ivfpq_oracle() -> str:
    """Two ``vq_kmeans_unrolled_cte`` unrolls: the coarse lists
    (``cc*``, ``caf``) over the quantized vectors, then the residual
    PQ codebooks (``pc*``, ``paf``) per subspace."""
    from ..similarity.pq import vq_kmeans_unrolled_cte

    cents = f"cc{IVFPQ_COARSE_ITERS}"
    return f"""
    WITH {vec.quantized_sql()},
    {vq_kmeans_unrolled_cte(IVFPQ_COARSE_ITERS, str(IVFPQ_NLIST), prefix="c")},
    res AS MATERIALIZED (
        SELECT f.vec_id, f.cid AS lst,
               list_transform(range(1, 65), i -> f.xi[i] - c.c[i]) AS r
        FROM caf AS f JOIN {cents} AS c ON c.cid = f.cid
    ),
    sub AS MATERIALIZED (
        SELECT vec_id, lst, t.s,
               list_transform(range(1, {PQ_SUBDIM} + 1),
                              i -> r[t.s * {PQ_SUBDIM} + i]) AS v
        FROM res, generate_series(0, {PQ_M - 1}) AS t(s)
    ),
    {vq_kmeans_unrolled_cte(PQ_ITERS, str(PQ_K), PQ_SUBDIM, src="sub", col="v", key="s", prefix="p")},
    q AS (SELECT xi FROM e WHERE vec_id = {QUERY_VEC_ID}),
    probe AS (
        SELECT c.cid FROM {cents} AS c, q
        ORDER BY {vec.l2sq_sql('q.xi', 'c.c', 64)}, c.cid
        LIMIT {IVFPQ_NPROBE}
    ),
    qsub AS (
        SELECT c.cid AS lst, t.s,
               list_transform(range(1, {PQ_SUBDIM} + 1),
                              i -> (q.xi[t.s * {PQ_SUBDIM} + i]
                                    - c.c[t.s * {PQ_SUBDIM} + i])) AS v
        FROM {cents} AS c JOIN probe ON probe.cid = c.cid,
             q, generate_series(0, {PQ_M - 1}) AS t(s)
    ),
    dq AS (
        SELECT s.lst, c.s, c.cid, {vec.l2sq_sql('s.v', 'c.c', PQ_SUBDIM)} AS d
        FROM pc{PQ_ITERS} AS c JOIN qsub AS s ON s.s = c.s
    ),
    scored AS (
        SELECT f.vec_id, CAST(sum(dq.d) AS BIGINT) AS adc_fp
        FROM paf AS f
        JOIN dq ON dq.lst = f.lst AND dq.s = f.s AND dq.cid = f.cid
        WHERE f.vec_id <> {QUERY_VEC_ID}
        GROUP BY f.vec_id
    ),
    shortlist AS MATERIALIZED (
        SELECT vec_id, adc_fp FROM scored
        ORDER BY adc_fp, vec_id LIMIT {PQ_RERANK}
    ),
    exact AS (
        SELECT e.vec_id,
               CAST({vec.l2sq_sql('e.xi', 'q.xi', 64)} AS BIGINT) AS l2sq_fp
        FROM e JOIN shortlist AS sl ON sl.vec_id = e.vec_id, q
    )
    SELECT x.vec_id, x.l2sq_fp,
           round(CAST(x.l2sq_fp AS DOUBLE) / {vec.QUANT_SCALE}.0 / {vec.QUANT_SCALE}, 6)
               AS l2sq,
           sl.adc_fp
    FROM exact AS x JOIN shortlist AS sl ON sl.vec_id = x.vec_id
    ORDER BY x.l2sq_fp, x.vec_id
    LIMIT {TOP_K}
    """


@register("knn_ivfpq_adc", oracle=_ivfpq_oracle())
def knn_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} nearest neighbors via IVFPQ (see note above):
    coarse lists prune the scan to nprobe/{IVFPQ_NLIST} of the
    corpus, residual PQ codes compress what remains, per-list ADC
    tables score it, and the {PQ_RERANK}-candidate shortlist
    re-ranks exactly.

    Two calls to the similarity/pq.py trainer (the coarse lists as a
    one-subspace quantizer, then the residual codebooks), one
    ``query_lut`` per probed list's query residual, and the shared
    scan and re-rank. The probed-list filter applies IN the scan
    here; at deployment it is the bucket-pruned index scan
    knn_ivf_indexed already demonstrates (codes partitioned by
    coarse list). Builder collects codebook state at plan time:
    BUILD_EXECUTES."""
    import numpy as np

    from ..similarity import pq

    e = wide_table(spark, sf_dir, "embeddings")
    q = pq.query_row(e, QUERY_VEC_ID, sf_dir)
    X0 = pq.seed_rows(e, max(PQ_K, IVFPQ_NLIST))
    coarse = pq.train(e, X0[:IVFPQ_NLIST], 1, IVFPQ_COARSE_ITERS)[0]
    cents = pq.train(e, X0[:PQ_K], PQ_M, PQ_ITERS, coarse=coarse)
    # nprobe nearest lists, ties to the lower list id
    ccids, C = coarse
    cdist = pq.query_lut({0: coarse}, q)[0]
    probe = np.lexsort((ccids, cdist))[:IVFPQ_NPROBE]
    luts = {int(ccids[i]): pq.query_lut(cents, q - C[i]) for i in probe}
    scored = pq.pq_score_pass(e, cents, luts, QUERY_VEC_ID, coarse=coarse)
    return pq.exact_rerank(
        table(spark, sf_dir, "embeddings"), scored, q, PQ_RERANK, TOP_K
    )


# Embedding DRIFT monitor (r8): per-label centroid shift between the
# two halves of a deterministic md5 split — the training/serving-skew
# check an embedding pipeline runs when a new batch of vectors lands
# (same encoder? same preprocessing?). Cross-engine exactness is the
# hard part: a per-label MEAN of doubles sums in engine-specific
# order, so the drift is computed entirely in integers — components
# quantize to 1e6 micros (the established micro idiom), per-(label,
# half, component) sums are exact int64, and the squared-difference
# mass Σ_i (sa_i·nb − sb_i·na)² accumulates as DECIMAL(38,0)
# (~1e29 per term — int64 overflows, decimal is exact in any order).
# The final sqrt + division is a fixed IEEE sequence on identical
# inputs. Halves with no rows would divide by zero under ANSI — the
# drift is CASE-guarded (not post-filtered: predicates reorder) and
# one-sided labels are dropped on both engines identically.
DRIFT_SCALE = 1_000_000


def _drift_oracle() -> str:
    bucket = md5_bucket_sql("vec_id")
    return f"""
    WITH eb AS (
        SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v,
               CASE WHEN {bucket} < 128 THEN 1 ELSE 0 END AS in_a
        FROM embeddings
    ),
    n AS (
        SELECT label,
               CAST(sum(in_a) AS BIGINT) AS na,
               CAST(sum(1 - in_a) AS BIGINT) AS nb
        FROM eb GROUP BY label
    ),
    ex AS (
        SELECT label, in_a, t.i,
               CAST(round(v[t.i] * {DRIFT_SCALE}) AS BIGINT) AS q
        FROM eb, generate_series(1, 64) AS t(i)
    ),
    comp AS (
        SELECT label, i,
               CAST(coalesce(sum(CASE WHEN in_a = 1 THEN q END), 0)
                    AS BIGINT) AS sa,
               CAST(coalesce(sum(CASE WHEN in_a = 0 THEN q END), 0)
                    AS BIGINT) AS sb
        FROM ex GROUP BY label, i
    ),
    agg AS (
        SELECT c.label, n.na, n.nb,
               sum(CAST(c.sa * n.nb - c.sb * n.na AS DECIMAL(38,0))
                   * CAST(c.sa * n.nb - c.sb * n.na AS DECIMAL(38,0))) AS s2
        FROM comp c JOIN n ON n.label = c.label
        GROUP BY c.label, n.na, n.nb
    )
    SELECT label, na, nb,
           round(CASE WHEN na > 0 AND nb > 0
                      THEN sqrt(CAST(CAST(s2 AS DECIMAL(38,0)) AS DOUBLE))
                           / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                              * {DRIFT_SCALE})
                      ELSE NULL END, 6) AS centroid_drift
    FROM agg
    WHERE na > 0 AND nb > 0
    """


@register("embeddings_drift_by_label", oracle=_drift_oracle())
def embeddings_drift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2 centroid drift between the two md5-split halves
    of the embeddings table (see the exactness note above) — one row
    per label with both half sizes and the drift.

    Scale shape: one posexplode pass (64 rows per vector) into a
    map-side-combining (label, half, component) integer-sum
    aggregate — model-table-sized output (labels × 64); the decimal
    squared-difference mass and the final scalar math are
    metadata-scale. No vector ever crosses the exchange unquantized
    and no float is ever summed."""
    e = wide_table(spark, sf_dir, "embeddings")
    eb = e.select(
        "label",
        "vec_id",
        vec.as_double(F.col("embedding")).alias("v"),
        F.when(md5_bucket(F.col("vec_id")) < 128, 1).otherwise(0).alias("in_a"),
    )
    n = eb.groupBy("label").agg(
        F.sum("in_a").cast("bigint").alias("na"),
        F.sum(1 - F.col("in_a")).cast("bigint").alias("nb"),
    )
    ex = eb.select(
        "label", "in_a", F.posexplode("v").alias("i0", "comp")
    ).select(
        "label",
        "in_a",
        F.col("i0").alias("i"),
        F.round(F.col("comp") * DRIFT_SCALE).cast("bigint").alias("q"),
    )
    comp = ex.groupBy("label", "i").agg(
        F.coalesce(
            F.sum(F.when(F.col("in_a") == 1, F.col("q"))), F.lit(0)
        ).cast("bigint").alias("sa"),
        F.coalesce(
            F.sum(F.when(F.col("in_a") == 0, F.col("q"))), F.lit(0)
        ).cast("bigint").alias("sb"),
    )
    diff = (F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")).cast(
        "decimal(38,0)"
    )
    agg = (
        comp.join(F.broadcast(n), "label")
        .groupBy("label", "na", "nb")
        .agg(F.sum(diff * diff).alias("s2"))
    )
    drift = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        F.sqrt(F.col("s2").cast("decimal(38,0)").cast("double"))
        / (
            F.col("na").cast("double")
            * F.col("nb").cast("double")
            * F.lit(float(DRIFT_SCALE))
        ),
    )
    return (
        agg.where((F.col("na") > 0) & (F.col("nb") > 0))
        .select("label", "na", "nb", F.round(drift, 6).alias("centroid_drift"))
    )


# MMR (Maximal Marginal Relevance) diversified reranking — the
# standard RAG/retrieval post-pass (Carbonell & Goldstein 1998):
# from a relevance-ranked candidate pool, greedily pick TOP_K
# results maximizing relevance-to-query MINUS max similarity to
# anything already picked (λ = 1/2, so the argmax of
# λ·rel − (1−λ)·maxsim is the argmax of rel − maxsim). Exactness:
# relevance and every pairwise similarity are the 6dp-rounded
# zero-norm-guarded cosines (the knn ordering idiom) lifted to
# ×1e6 BIGINT micro-units, so every greedy comparison is an exact
# INTEGER subtraction with vec_id tiebreak; the oracle unrolls all
# TOP_K selection rounds as a CTE chain (each p_k MATERIALIZED —
# the next round references it twice, the r6 CTE-inlining lesson).
MMR_POOL = 50

def _mmr_oracle() -> str:
    qcos = vec.cosine6_sql("CAST(e.embedding AS DOUBLE[])", "q.qv")
    pcos = vec.cosine6_sql(
        "CAST(a.embedding AS DOUBLE[])", "CAST(b.embedding AS DOUBLE[])"
    )
    rounds = []
    for k in range(2, TOP_K + 1):
        rounds.append(f"""
    s{k} AS (
        SELECT c.vec_id, c.rel_micro,
               c.rel_micro - max(m.sim_micro) AS score_micro
        FROM mmr_cand c
        JOIN mmr_sims m ON m.va = c.vec_id
         AND m.vb IN (SELECT vec_id FROM p{k - 1})
        WHERE c.vec_id NOT IN (SELECT vec_id FROM p{k - 1})
        GROUP BY c.vec_id, c.rel_micro
        ORDER BY score_micro DESC, c.vec_id
        LIMIT 1
    ),
    p{k} AS MATERIALIZED (
        SELECT * FROM p{k - 1}
        UNION ALL
        SELECT vec_id, rel_micro, score_micro, {k} AS rank FROM s{k}
    )""")
    return f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
               WHERE vec_id = {QUERY_VEC_ID}),
    mmr_cand AS MATERIALIZED (
        SELECT e.vec_id, e.embedding,
               CAST(round({qcos} * 1000000) AS BIGINT)
                   AS rel_micro
        FROM embeddings e, q
        WHERE e.vec_id <> {QUERY_VEC_ID}
        ORDER BY {qcos} DESC, e.vec_id
        LIMIT {MMR_POOL}
    ),
    mmr_sims AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               CAST(round({pcos} * 1000000) AS BIGINT)
                   AS sim_micro
        FROM mmr_cand a JOIN mmr_cand b ON a.vec_id <> b.vec_id
    ),
    p1 AS MATERIALIZED (
        SELECT vec_id, rel_micro, rel_micro AS score_micro, 1 AS rank
        FROM mmr_cand ORDER BY rel_micro DESC, vec_id LIMIT 1
    ),{",".join(rounds)}
    SELECT CAST(rank AS INT) AS rank, vec_id, rel_micro, score_micro
    FROM p{TOP_K}
    ORDER BY rank
    """


@register("knn_mmr_rerank", oracle=_mmr_oracle())
def knn_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-{TOP_K} (see note above): distributed
    relevance scan → top-{MMR_POOL} candidate pool → greedy
    integer-exact diversity rerank.

    Scale shape: the DISTRIBUTED work is the corpus-wide relevance
    scoring (broadcast query vector, TakeOrdered top-{MMR_POOL} —
    exactly knn_brute's plan); the rerank then runs on a
    METADATA-SCALE pool ({MMR_POOL} candidates, {MMR_POOL}²
    pairwise sims computed as ONE tiny Spark self-join so the
    cosine expression is the same JVM fold the pool ranking used),
    collected to the driver for the greedy loop — the same
    bounded-collect class as the k-means seeds/PQ codebooks, and
    precisely how a retrieval service composes ANN shortlist +
    reranker. All greedy arithmetic is integer micro-units, so the
    python loop cannot drift from the SQL unroll by even an ulp.
    Builder collects the pool at plan time: BUILD_EXECUTES."""
    e = wide_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        vec.as_double(F.col("embedding")).alias("qv")
    )
    cos6 = vec.cosine6(vec.as_double(F.col("embedding")), F.col("qv"))
    cand = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            "embedding",
            F.round(cos6 * 1000000).cast("bigint").alias("rel_micro"),
            cos6.alias("_c6"),
        )
        .orderBy(F.desc("_c6"), F.asc("vec_id"))
        .limit(MMR_POOL)
        .drop("_c6")
        .localCheckpoint(eager=True)
    )
    a = cand.select(
        F.col("vec_id").alias("va"),
        vec.as_double(F.col("embedding")).alias("ea"),
    )
    b = cand.select(
        F.col("vec_id").alias("vb"),
        vec.as_double(F.col("embedding")).alias("eb"),
    )
    sims = (
        a.join(b, F.col("va") != F.col("vb"))
        .select(
            "va",
            "vb",
            F.round(vec.cosine6(F.col("ea"), F.col("eb")) * 1000000)
            .cast("bigint")
            .alias("sim_micro"),
        )
    )
    pool = [
        (int(r.vec_id), int(r.rel_micro))
        for r in cand.select("vec_id", "rel_micro").collect()
    ]
    sim = {
        (int(r.va), int(r.vb)): int(r.sim_micro) for r in sims.collect()
    }
    if not pool:
        raise ValueError("knn_mmr_rerank: empty candidate pool")
    rel_m = dict(pool)
    selected: list[tuple[int, int, int]] = []  # (vec_id, rel, score)
    remaining = sorted(rel_m)
    # round 1: pure relevance, vec_id tiebreak
    first = max(remaining, key=lambda v: (rel_m[v], -v))
    selected.append((first, rel_m[first], rel_m[first]))
    remaining.remove(first)
    while remaining and len(selected) < TOP_K:
        best_v, best_s = None, None
        for v in remaining:  # ascending vec_id → ties keep the first
            s = rel_m[v] - max(sim[(v, p)] for p, _, _ in selected)
            if best_s is None or s > best_s:
                best_v, best_s = v, s
        selected.append((best_v, rel_m[best_v], best_s))
        remaining.remove(best_v)
    rows = [
        (i + 1, v, r, s) for i, (v, r, s) in enumerate(selected)
    ]
    return spark.createDataFrame(
        rows, "rank int, vec_id bigint, rel_micro bigint, score_micro bigint"
    )


# Embedding OUTLIER audit (r9) — the embedding-QC step a pipeline
# runs before clustering/dedup trusts the vectors: flag vectors
# whose mean squared deviation from their LABEL centroid exceeds
# OUTLIER_FACTOR × the label's median. Exactness (the drift-monitor
# integer machinery): components quantize to ×1e6 BIGINT, the
# centroid never materializes as a float — the per-vector deviation
# is Σ_i (n·q_i − S_i)² as DECIMAL(38,0) (n·q_i ≈ 1.6e10 fits
# int64, its square ≈ 2.6e20 does NOT — cast before multiplying),
# scaled by n² into micro² units that fit BIGINT; the median is the
# rank-⌈m/2⌉ element (low median — exact, deterministic via vec_id
# tiebreak); the flag compares integers.
OUTLIER_FACTOR = 4


def _outlier_oracle() -> str:
    return f"""
    WITH ex AS (
        SELECT label, vec_id, t.i,
               CAST(round(CAST(embedding AS DOUBLE[])[t.i] * {DRIFT_SCALE})
                    AS BIGINT) AS q
        FROM embeddings, generate_series(1, 64) AS t(i)
    ),
    n AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
    s AS (
        SELECT label, i, CAST(sum(q) AS BIGINT) AS sc
        FROM ex GROUP BY label, i
    ),
    d2 AS (
        -- HUGEINT, not DECIMAL, for the integer division: DuckDB's
        -- `//` on DECIMAL operands converts through DOUBLE and
        -- ROUNDS (11 // 3 = 4, measured r9); HUGEINT // truncates
        -- like Spark's decimal `div`
        SELECT ex.vec_id, ex.label,
               CAST(CAST(sum(CAST(n.n * ex.q - s.sc AS DECIMAL(38,0))
                             * CAST(n.n * ex.q - s.sc AS DECIMAL(38,0)))
                         AS HUGEINT)
                    // CAST(n.n * n.n AS HUGEINT) AS BIGINT)
                   AS msd_micro2
        FROM ex
        JOIN s ON s.label = ex.label AND s.i = ex.i
        JOIN n ON n.label = ex.label
        GROUP BY ex.vec_id, ex.label, n.n
    ),
    r AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY label ORDER BY msd_micro2, vec_id
               ) AS rn,
               count(*) OVER (PARTITION BY label) AS m
        FROM d2
    ),
    med AS (
        SELECT label,
               CAST(max(CASE WHEN rn = (m + 1) // 2
                             THEN msd_micro2 END) AS BIGINT) AS med_micro2
        FROM r GROUP BY label
    )
    SELECT d2.vec_id, d2.label, d2.msd_micro2, med.med_micro2,
           d2.msd_micro2 > {OUTLIER_FACTOR} * med.med_micro2 AS is_outlier
    FROM d2 JOIN med ON med.label = d2.label
    """


@register("embeddings_outlier_audit", oracle=_outlier_oracle())
def embeddings_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector centroid-deviation outlier flags (see note above):
    mean squared deviation from the label centroid in exact micro²
    integers, the label's low-median, and the
    > {OUTLIER_FACTOR}×median flag.

    Scale shape: one posexplode pass (64 rows/vector) feeds BOTH the
    component-sum model table (labels × 64, broadcast back) and the
    per-vector deviation aggregate; the median window partitions by
    label over VECTOR-cardinality integer rows (never the raw
    vectors); the flag join is label-sized. No float is ever summed
    — sqrt never even appears."""
    e = wide_table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label",
        "vec_id",
        F.posexplode(vec.as_double(F.col("embedding"))).alias("i0", "comp"),
    ).select(
        "label",
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("comp") * DRIFT_SCALE).cast("bigint").alias("q"),
    )
    n = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    s = ex.groupBy("label", "i").agg(
        F.sum("q").cast("bigint").alias("sc")
    )
    dev = F.expr(
        "cast(n * q - sc as decimal(38,0)) * cast(n * q - sc as decimal(38,0))"
    )
    d2 = (
        ex.join(F.broadcast(s), ["label", "i"])
        .join(F.broadcast(n), "label")
        .groupBy("vec_id", "label", "n")
        .agg(F.sum(dev).alias("dd"))
        .select(
            "vec_id",
            "label",
            F.expr(
                "cast(dd div cast(n * n as decimal(38,0)) as bigint)"
            ).alias("msd_micro2"),
        )
    )
    w = Window.partitionBy("label").orderBy("msd_micro2", "vec_id")
    r = d2.select(
        "*",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("label"))
        .alias("m"),
    )
    med = r.groupBy("label").agg(
        F.max(
            F.when(
                F.col("rn") == F.expr("(m + 1) div 2"),
                F.col("msd_micro2"),
            )
        )
        .cast("bigint")
        .alias("med_micro2")
    )
    return d2.join(F.broadcast(med), "label").select(
        "vec_id",
        "label",
        "msd_micro2",
        "med_micro2",
        (F.col("msd_micro2") > OUTLIER_FACTOR * F.col("med_micro2")).alias(
            "is_outlier"
        ),
    )


# nprobe SWEEP (r9): the recall-vs-cost curve behind every IVF
# deployment decision — one row per nprobe level with the candidate
# rows scanned (the cost axis) and the panel-mean recall@K (the
# quality axis). nprobe = nlist scans everything, so its recall row
# is a structural 1.0 anchor certifying the audit itself. ONE
# quantizer build, ONE ranked probe table, ONE brute ranking are
# shared across all levels (a per-level knn_ivf would retrain
# k-means 4×); levels materialize by joining the ranked lists
# against a 4-row level table on rn <= nprobe.
NPROBE_LEVELS = [1, 2, 4, 8]


def _nprobe_sweep_oracle() -> str:
    from ..similarity.knn import kmeans_unrolled_cte, probe_ranks_cte

    ids = ", ".join(str(v) for v in AUDIT_QVECS)
    lvls = ", ".join(f"({n})" for n in NPROBE_LEVELS)
    return f"""
    {kmeans_unrolled_cte(IVF_NLIST, IVF_ITERS)},
    q AS (SELECT vec_id AS qvec, v AS qv FROM e WHERE vec_id IN ({ids})),
    {probe_ranks_cte(f"c{IVF_ITERS}")},
    probe AS (
        SELECT v.np, r.qvec, r.cid
        FROM ranked r, (VALUES {lvls}) v(np)
        WHERE r.rn <= v.np
    ),
    cand AS MATERIALIZED (
        SELECT p.np, p.qvec, f.vec_id,
               {vec.cosine6_sql('f.v', 'q.qv')} AS s
        FROM probe p
        JOIN af f ON f.cid = p.cid
        JOIN q ON q.qvec = p.qvec
        WHERE f.vec_id <> p.qvec
    ),
    ivf AS (
        SELECT np, qvec, vec_id FROM (
            SELECT np, qvec, vec_id,
                   row_number() OVER (PARTITION BY np, qvec
                                      ORDER BY s DESC, vec_id) AS rn
            FROM cand
        ) WHERE rn <= {TOP_K}
    ),
    brute AS (
        SELECT qvec, vec_id FROM (
            SELECT q.qvec, e.vec_id,
                   row_number() OVER (
                       PARTITION BY q.qvec
                       ORDER BY {vec.cosine6_sql('e.v', 'q.qv')}
                                DESC, e.vec_id) AS rn
            FROM e, q WHERE e.vec_id <> q.qvec
        ) WHERE rn <= {TOP_K}
    ),
    hits AS (
        SELECT v.np, CAST(count(i.vec_id) AS BIGINT) AS n_hits,
               CAST(count(*) AS BIGINT) AS n_truth
        FROM brute b
        CROSS JOIN (VALUES {lvls}) v(np)
        LEFT JOIN ivf i ON i.np = v.np AND i.qvec = b.qvec
                        AND i.vec_id = b.vec_id
        GROUP BY v.np
    ),
    cost AS (
        SELECT np, CAST(count(*) AS BIGINT) AS scanned_rows
        FROM cand GROUP BY np
    )
    SELECT h.np AS nprobe, c.scanned_rows, h.n_hits,
           round(CAST(h.n_hits AS DOUBLE) / h.n_truth, 6) AS mean_recall
    FROM hits h JOIN cost c ON c.np = h.np
    """


@register("knn_ivf_nprobe_sweep", oracle=_nprobe_sweep_oracle())
def knn_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{K} vs candidate-scan cost at nprobe ∈ NPROBE_LEVELS
    over the AUDIT_QVECS panel (see note above) — the tuning curve
    an IVF deployment reads to pick its operating point.

    Scale shape: one shared quantizer build + one shared brute
    ranking; the per-level candidate streams are slices of ONE
    probe-ranked join (no retraining, no rescans); windows partition
    by (level, query) — parallelism = levels × panel. Builder runs
    jobs at plan time (kmeans checkpoints): BUILD_EXECUTES."""
    from ..similarity.knn import assign_clusters, kmeans_centroids

    e = wide_table(spark, sf_dir, "embeddings")
    centroids = kmeans_centroids(e, IVF_NLIST, IVF_ITERS)
    assigned = assign_clusters(e, centroids)
    q = e.filter(F.col("vec_id").isin(AUDIT_QVECS)).select(
        F.col("vec_id").alias("qvec"),
        vec.as_double(F.col("embedding")).alias("qv"),
    )
    wp = Window.partitionBy("qvec").orderBy("_d", "cluster_id")
    ranked = (
        centroids.crossJoin(F.broadcast(q))
        .withColumn("_d", vec.l2_distance(F.col("centroid"), F.col("qv")))
        .select("qvec", "cluster_id", F.row_number().over(wp).alias("rn"))
    )
    lvls = spark.createDataFrame(
        [(n,) for n in NPROBE_LEVELS], "np int"
    )
    probe = ranked.crossJoin(F.broadcast(lvls)).where(
        F.col("rn") <= F.col("np")
    ).select("np", "qvec", "cluster_id")
    score = vec.cosine6(vec.as_double(F.col("embedding")), F.col("qv"))
    # persisted: both the per-level ranking and the cost aggregate
    # consume this corpus-scale stream, and AQE does not dedupe
    # identical heavy subtrees (the r6 association-rules lesson);
    # the gate/bench clearCache between queries
    cand = (
        assigned.join(F.broadcast(probe), "cluster_id")
        .join(F.broadcast(q), "qvec")
        .where(F.col("vec_id") != F.col("qvec"))
        .select("np", "qvec", "vec_id", score.alias("_s"))
        .persist()
    )
    wr = Window.partitionBy("np", "qvec").orderBy(F.desc("_s"), "vec_id")
    ivf = (
        cand.select("np", "qvec", "vec_id", F.row_number().over(wr).alias("rn"))
        .where(F.col("rn") <= TOP_K)
        .select("np", "qvec", F.col("vec_id").alias("bvec"), F.lit(1).alias("_hit"))
    )
    wb = Window.partitionBy("qvec").orderBy(F.desc("_s"), "vec_id")
    brute = (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("qvec"))
        .select("qvec", "vec_id", score.alias("_s"))
        .select("qvec", "vec_id", F.row_number().over(wb).alias("rn"))
        .where(F.col("rn") <= TOP_K)
        .select("qvec", F.col("vec_id").alias("bvec"))
    )
    hits = (
        brute.crossJoin(F.broadcast(lvls))
        .join(ivf, ["np", "qvec", "bvec"], "left")
        .groupBy("np")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hits"),
            # denominator = ACTUAL ground-truth rows, not the panel
            # constant: on a corpus where some AUDIT_QVECS ids are
            # absent (or have < K neighbors) the constant would
            # silently deflate recall and break the np = nlist
            # recall-1.0 anchor
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
        )
    )
    cost = cand.groupBy("np").agg(
        F.count(F.lit(1)).cast("bigint").alias("scanned_rows")
    )
    return hits.join(cost, "np").select(
        F.col("np").alias("nprobe"),
        "scanned_rows",
        "n_hits",
        F.round(
            F.col("n_hits").cast("double") / F.col("n_truth"), 6
        ).alias("mean_recall"),
    )


# Johnson–Lindenstrauss projection AUDIT (r9): how much does a ±1
# random projection 64 → JL_DIM distort pairwise distances on a
# fixed panel? The question every dimensionality-reduction shortcut
# (sketch joins, coarse prefilters, cheap clustering) must answer
# before deployment. The projection matrix is the md5-sign
# construction (the knn_opq_adc rotation idiom): s(j,i) = +1 iff the
# first md5 nibble of "j:i" < 8 — deterministic, engine-identical,
# and applied to the 1e6-QUANTIZED integer vectors, so projected
# coordinates, both squared distances, and the ×1e6 distortion
# ratio are EXACT integers end to end (E[‖Pa−Pb‖²] = JL_DIM·‖a−b‖²
# for ±1 entries, so ratio_fp ≈ 1e6 with JL-bounded spread — the
# spread IS the audit's finding). Quotient widened to
# DECIMAL(38,0)/HUGEINT before the truncating division (Σydiff²
# ×1e6 overflows int64).
JL_DIM = 16


def _jl_audit_oracle() -> str:
    ids = ", ".join(str(v) for v in AUDIT_QVECS)
    ji = "CAST(j AS VARCHAR) || ':' || CAST(t.i AS VARCHAR)"
    digit = hex_int_sql(f"md5({ji})", 1, 1)
    sign = f"(CASE WHEN {digit} < 8 THEN 1 ELSE -1 END)"
    return f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE vec_id IN ({ids})
    ),
    comp AS (
        SELECT vec_id, t.i,
               CAST(round(v[t.i] * 1000000) AS BIGINT) AS q
        FROM e, generate_series(1, 64) AS t(i)
    ),
    proj AS (
        SELECT vec_id, j,
               CAST(sum({sign} * q) AS BIGINT) AS y
        FROM comp t, generate_series(1, {JL_DIM}) AS g(j)
        GROUP BY vec_id, j
    ),
    pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM e a JOIN e b ON a.vec_id < b.vec_id
    ),
    tru AS (
        SELECT p.vec_a, p.vec_b,
               CAST(sum((ca.q - cb.q) * (ca.q - cb.q)) AS BIGINT) AS true_l2sq
        FROM pairs p
        JOIN comp ca ON ca.vec_id = p.vec_a
        JOIN comp cb ON cb.vec_id = p.vec_b AND cb.i = ca.i
        GROUP BY p.vec_a, p.vec_b
    ),
    est AS (
        SELECT p.vec_a, p.vec_b,
               CAST(sum((ya.y - yb.y) * (ya.y - yb.y)) AS BIGINT) AS proj_l2sq
        FROM pairs p
        JOIN proj ya ON ya.vec_id = p.vec_a
        JOIN proj yb ON yb.vec_id = p.vec_b AND yb.j = ya.j
        GROUP BY p.vec_a, p.vec_b
    )
    SELECT t.vec_a, t.vec_b, t.true_l2sq, s.proj_l2sq,
           CASE WHEN t.true_l2sq > 0
                THEN CAST((CAST(s.proj_l2sq AS HUGEINT) * 1000000)
                          // (CAST({JL_DIM} AS HUGEINT) * t.true_l2sq)
                          AS BIGINT)
                ELSE 1000000 END AS ratio_fp
    FROM tru t JOIN est s ON s.vec_a = t.vec_a AND s.vec_b = t.vec_b
    """


@register("embeddings_jl_projection_audit", oracle=_jl_audit_oracle())
def embeddings_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-panel-pair distance distortion of the md5-sign ±1
    projection 64 → JL_DIM (see note above): exact squared distances
    in original and projected space and the ×1e6 ratio (1e6 = no
    distortion; the JL spread around it is the deliverable).

    Scale shape: everything is panel-sized (8 vectors → 28 pairs);
    the projection of a FULL corpus would be one linear scan with
    the same codegen'd expressions — this audit is the metadata-cost
    certification step before that rollout."""
    e = table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id").isin(AUDIT_QVECS)
    )
    comp = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "i0", "c"
        ),
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.round(F.col("c") * 1_000_000).cast("bigint").alias("q"),
    )
    sign = F.when(
        hex_int(F.md5(F.concat_ws(":", F.col("j"), F.col("i"))), 1, 1) < 8, 1
    ).otherwise(-1)
    proj = (
        comp.select(
            "vec_id", "i", "q", F.explode(F.sequence(F.lit(1), F.lit(JL_DIM))).alias("j")
        )
        .select("vec_id", "j", (sign * F.col("q")).alias("sq"))
        .groupBy("vec_id", "j")
        .agg(F.sum("sq").cast("bigint").alias("y"))
    )
    ea = e.select(F.col("vec_id").alias("vec_a"))
    eb = e.select(F.col("vec_id").alias("vec_b"))
    pairs = ea.crossJoin(eb).where(F.col("vec_a") < F.col("vec_b"))
    ca = comp.select(F.col("vec_id").alias("vec_a"), "i", F.col("q").alias("qa"))
    cb = comp.select(F.col("vec_id").alias("vec_b"), "i", F.col("q").alias("qb"))
    tru = (
        pairs.join(ca, "vec_a")
        .join(cb, ["vec_b", "i"])
        .groupBy("vec_a", "vec_b")
        .agg(
            F.sum((F.col("qa") - F.col("qb")) * (F.col("qa") - F.col("qb")))
            .cast("bigint")
            .alias("true_l2sq")
        )
    )
    ya = proj.select(F.col("vec_id").alias("vec_a"), "j", F.col("y").alias("ya"))
    yb = proj.select(F.col("vec_id").alias("vec_b"), "j", F.col("y").alias("yb"))
    est = (
        pairs.join(ya, "vec_a")
        .join(yb, ["vec_b", "j"])
        .groupBy("vec_a", "vec_b")
        .agg(
            F.sum((F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb")))
            .cast("bigint")
            .alias("proj_l2sq")
        )
    )
    return tru.join(est, ["vec_a", "vec_b"]).select(
        "vec_a",
        "vec_b",
        "true_l2sq",
        "proj_l2sq",
        # identical panel vectors (legal on replica corpora) give
        # true = proj = 0: a raw division would ANSI-raise; the 0/0
        # pair is distortion-free by construction, so 1e6 (and never
        # NULL — a NULL bigint becomes float64 in the driver canon)
        F.when(
            F.col("true_l2sq") > 0,
            F.expr(
                "CAST(CAST(proj_l2sq AS DECIMAL(38,0)) * 1000000"
                f" div (CAST({JL_DIM} AS DECIMAL(38,0)) * true_l2sq)"
                " AS BIGINT)"
            ),
        )
        .otherwise(F.lit(1_000_000).cast("bigint"))
        .alias("ratio_fp"),
    )


# Cluster TOPIC annotation (r9): after k-means partitions the
# embedding space, WHAT IS each cluster about? The labeling pass a
# curation UI runs so a human can read "cluster 3 ≈ {scan, filter,
# query}" instead of a centroid. Per cluster, the top CLUSTER_TOPICS
# tokens by smoothed doc-frequency LIFT against the rest of the
# corpus — the vocab-drift rate-ratio machinery pointed at learned
# clusters instead of md5 halves: lift = ((df_in+1)/(n_in+2)) /
# ((df_out+1)/(n_out+2)), ranked as the exact ×1e6 fixed-point
# integer quotient (DECIMAL div / HUGEINT //). Embeddings join
# documents 1:1 on vec_id = doc_id (referential_integrity_audit's
# pinned invariant).
CLUSTER_TOPICS = 3


def _cluster_topics_oracle() -> str:
    from ..similarity.knn import kmeans_unrolled_cte

    return rf"""
    {kmeans_unrolled_cte(IVF_NLIST, IVF_ITERS)},
    asg AS (SELECT vec_id, cid FROM af),
    n_in AS (
        SELECT cid, CAST(count(*) AS BIGINT) AS n_c FROM asg GROUP BY cid
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM asg),
    toks AS (
        SELECT a.cid, t.tk
        FROM asg a
        JOIN (
            SELECT doc_id,
                   unnest(list_distinct(list_transform(
                       {tx.tokens_sql()},
                       x -> lower(x)))) AS tk
            FROM documents
        ) t ON t.doc_id = a.vec_id
    ),
    df_in AS (
        SELECT cid, tk, CAST(count(*) AS BIGINT) AS d_in
        FROM toks GROUP BY cid, tk
    ),
    df_all AS (
        SELECT tk, CAST(count(*) AS BIGINT) AS d_all
        FROM toks GROUP BY tk
    ),
    lift AS (
        SELECT f.cid, f.tk, f.d_in,
               (a.d_all - f.d_in) AS d_out,
               CAST((CAST(f.d_in + 1 AS HUGEINT)
                     * (t.n - i.n_c + 2) * 1000000)
                    // (CAST(a.d_all - f.d_in + 1 AS HUGEINT)
                        * (i.n_c + 2)) AS BIGINT) AS lift_fp
        FROM df_in f
        JOIN df_all a ON a.tk = f.tk
        JOIN n_in i ON i.cid = f.cid
        CROSS JOIN tot t
    )
    SELECT cid AS cluster_id, CAST(rn AS INT) AS rank, tk AS token,
           d_in AS df_in, d_out AS df_out, lift_fp
    FROM (
        SELECT cid, tk, d_in, d_out, lift_fp,
               row_number() OVER (PARTITION BY cid
                                  ORDER BY lift_fp DESC, tk) AS rn
        FROM lift
    ) WHERE rn <= {CLUSTER_TOPICS}
    """


@register("embeddings_cluster_topics", oracle=_cluster_topics_oracle())
def embeddings_cluster_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top distinctive tokens per k-means cluster (see note above):
    cluster_id, rank, token, in/out doc frequencies, and the ×1e6
    fixed-point lift.

    Scale shape: one shared quantizer build, one distinct-token
    explode reduced map-side to (cluster, token) — vocabulary×nlist
    sized — a broadcast of the nlist-row cluster sizes, and a top-k
    window over that vocabulary-scale frame. Builder runs jobs at
    plan time (kmeans checkpoints): BUILD_EXECUTES."""
    from ..similarity.knn import assign_clusters, kmeans_centroids

    e = wide_table(spark, sf_dir, "embeddings")
    centroids = kmeans_centroids(e, IVF_NLIST, IVF_ITERS)
    asg = assign_clusters(e, centroids).select("vec_id", "cluster_id")
    n_in = asg.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_c")
    )
    tot = asg.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    d = table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"),
        F.array_distinct(
            F.transform(tx.tokens(F.col("text")), F.lower)
        ).alias("toks"),
    )
    toks = asg.join(d, "vec_id").select(
        "cluster_id", F.explode("toks").alias("tk")
    )
    df_in = toks.groupBy("cluster_id", "tk").agg(
        F.count(F.lit(1)).cast("bigint").alias("d_in")
    )
    # every doc is in exactly one cluster, so the corpus df is the
    # sum of the per-cluster dfs — a vocabulary-scale aggregate, not
    # a second corpus explode (AQE does not dedupe identical heavy
    # subtrees; r9 review catch)
    df_all = df_in.groupBy("tk").agg(
        F.sum("d_in").cast("bigint").alias("d_all")
    )
    lift = (
        df_in.join(df_all, "tk")
        .join(F.broadcast(n_in), "cluster_id")
        .crossJoin(F.broadcast(tot))
        .select(
            "cluster_id",
            "tk",
            "d_in",
            (F.col("d_all") - F.col("d_in")).alias("d_out"),
            F.expr(
                "CAST(CAST(d_in + 1 AS DECIMAL(38,0))"
                " * (n - n_c + 2) * 1000000"
                " div (CAST(d_all - d_in + 1 AS DECIMAL(38,0))"
                " * (n_c + 2)) AS BIGINT)"
            ).alias("lift_fp"),
        )
    )
    wr = Window.partitionBy("cluster_id").orderBy(
        F.desc("lift_fp"), "tk"
    )
    return (
        lift.select(
            "cluster_id",
            "tk",
            "d_in",
            "d_out",
            "lift_fp",
            F.row_number().over(wr).alias("rn"),
        )
        .where(F.col("rn") <= CLUSTER_TOPICS)
        .select(
            "cluster_id",
            F.col("rn").cast("int").alias("rank"),
            F.col("tk").alias("token"),
            F.col("d_in").alias("df_in"),
            F.col("d_out").alias("df_out"),
            "lift_fp",
        )
    )
