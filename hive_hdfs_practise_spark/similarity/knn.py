"""IVF-style approximate nearest neighbor over embedding columns.

The 100 TB shape: a k-means coarse quantizer (built once, tiny)
partitions the corpus into nlist inverted lists; a query scores
only its nprobe nearest lists — N/nlist·nprobe of the data instead
of N. All stages are DataFrame ops:

- Lloyd iterations: assign = broadcast the (nlist × dim) centroid
  table and argmin-by-distance per row (no shuffle of the corpus);
  update = posexplode to (cluster, dim) partial means (one narrow
  shuffle of nlist×dim tiny rows).
- Deterministic throughout: init centroids are the vectors with the
  nlist smallest ids (no RNG), ties in assignment break by cluster
  id — same input → same index, across runs and engines.
- The driver loop holds ONLY centroids (nlist×dim doubles); the
  corpus never leaves executors.

At deployment the assignment table is written bucketed by
cluster_id so a query's probe lists are co-located partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import vectors as vec
from ..operators.compaction import (
    append_bucketed,
    delete_ids,
    live_rows,
    reset_index,
    vacuum_index,
)
from ..sources.writers import write_bucketed


def assign_clusters(emb: DataFrame, centroids: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """emb + cluster_id of the nearest centroid (L2). Broadcast
    join + ``min_by`` argmin; ties break toward the lower cluster_id
    (the ordering struct (_dist, cluster_id) is unique, so the pick
    is deterministic).

    groupBy+min_by, NOT a ``Window.partitionBy(vec_id)`` row_number:
    the window form shuffles AND sorts the full N×nlist broadcast
    expansion, while min_by map-side-combines each vec_id's nlist
    candidates down to one row before the exchange (all nlist copies
    of a row are produced in its own partition), so the shuffle
    carries N rows and no sort happens anywhere."""
    scored = emb.join(F.broadcast(centroids)).withColumn(
        "_dist", vec.l2_distance(vec.as_double(F.col(vec_col)), F.col("centroid"))
    )
    carry = [c for c in emb.columns if c != "vec_id"] + ["cluster_id"]
    picked = scored.groupBy("vec_id").agg(
        F.min_by(
            F.struct(*[F.col(c) for c in carry]),
            F.struct(F.col("_dist"), F.col("cluster_id")),
        ).alias("_r")
    )
    return picked.select("vec_id", *[F.col(f"_r.{c}").alias(c) for c in carry])


def kmeans_centroids(
    emb: DataFrame, nlist: int = 8, iters: int = 3, vec_col: str = "embedding"
) -> DataFrame:
    """(cluster_id, centroid: array<double>) after ``iters`` Lloyd
    steps from a deterministic seed (the nlist lowest-id vectors)."""
    centroids = (
        emb.orderBy("vec_id")
        .limit(nlist)
        .select(
            (F.row_number().over(Window.orderBy("vec_id")) - 1).alias("cluster_id"),
            vec.as_double(F.col(vec_col)).alias("centroid"),
        )
    )
    for _ in range(iters):
        assigned = assign_clusters(emb, centroids, vec_col)
        centroids = (
            assigned.select(
                "cluster_id",
                F.posexplode(vec.as_double(F.col(vec_col))).alias("i", "x"),
            )
            .groupBy("cluster_id", "i")
            # round(9): float sums are merge-order-dependent (both
            # across Spark shuffle-fetch orders and across engines),
            # so unrounded centroid components would make downstream
            # argmin near-ties nondeterministic. 9 dp is far below
            # any real centroid separation and makes the quantizer
            # bit-reproducible — which is what lets knn_ivf carry a
            # full cross-engine oracle.
            .agg(F.round(F.avg("x"), 9).alias("m"))
            .groupBy("cluster_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
                ).alias("centroid")
            )
            # localCheckpoint per Lloyd round (the iterative-loop
            # invariant): without it each round's plan nests the
            # previous round's whole assign+update subtree, and every
            # consumer of the final centroids replays the full stack.
            # The checkpointed frame is nlist tiny rows; eager
            # execution here makes centroid-consuming builders
            # BUILD_EXECUTES (jobs run at plan time, measured ~0.5 s
            # faster end-to-end at sf0.1 and O(1) plan depth).
            .localCheckpoint(eager=True)
        )
    return centroids


def write_ivf_index(
    spark,
    emb: DataFrame,
    table_prefix: str,
    nlist: int = 8,
    iters: int = 3,
    vec_col: str = "embedding",
) -> None:
    """Materialize the IVF index the module docstring promises; the
    lifecycle (append, delete, vacuum, compact) is
    ``operators/compaction.py``'s:

    - ``{prefix}_assign``: the corpus + cluster_id, written BUCKETED
      by cluster_id (``write_bucketed``) so each inverted list is a
      co-located set of files. A probe filter
      ``cluster_id IN (<nprobe ids>)`` then bucket-prunes the scan to
      nprobe/nlist of the data — no shuffle, no join, no full scan
      (asserted on the plan in test_similarity).
    - ``{prefix}_centroids``: the nlist × dim quantizer, a plain tiny
      table the query side loads to pick its probe lists.
    """
    reset_index(spark, table_prefix, ("_centroids", "_assign"))
    centroids = kmeans_centroids(emb, nlist, iters, vec_col)
    centroids.write.mode("overwrite").format("parquet").saveAsTable(
        f"{table_prefix}_centroids"
    )
    write_bucketed(
        assign_clusters(emb, centroids, vec_col),
        f"{table_prefix}_assign",
        ["cluster_id"],
        n_buckets=nlist,
    )


def append_ivf_index(
    spark,
    emb: DataFrame,
    table_prefix: str,
    vec_col: str = "embedding",
) -> None:
    """Append a delta batch to an ALREADY-WRITTEN IVF index: the delta
    is assigned against the FROZEN centroid table (centroids are not
    retrained, which is what a production IVF deployment does between
    periodic rebuilds) and appended to the bucketed assignment table
    (``append_bucketed``); bucket pruning survives any number of
    appends."""
    centroids = spark.table(f"{table_prefix}_centroids")
    # checkpointed: the assignment's groupBy is an exchange, and the
    # append sizes its write stage from the delta's partition count
    rows = assign_clusters(emb, centroids, vec_col).localCheckpoint(eager=True)
    append_bucketed(spark, rows, f"{table_prefix}_assign")


def delete_from_ivf_index(spark, vec_ids, table_prefix: str) -> None:
    """Tombstone vectors (``operators.compaction.delete_ids``): the
    probe stops returning them at once; ``vacuum_ivf_index`` or a
    rebuild reclaims their rows."""
    delete_ids(vec_ids, table_prefix, "vec_id")


def vacuum_ivf_index(spark, table_prefix: str) -> int:
    """Fold the tombstones into ``_assign``
    (``operators.compaction.vacuum_index``). Each vector lives in ONE
    cluster bucket, so only the buckets holding tombstoned rows are
    rewritten and every other inverted list stays byte-identical
    (pinned in test_similarity) — a vacuum proportional to the
    retraction set's lists, not to the index. Returns the number of
    vec_ids vacuumed."""
    return vacuum_index(spark, table_prefix, (f"{table_prefix}_assign",), "vec_id")


def knn_ivf_indexed(
    spark,
    table_prefix: str,
    query_vec_id: int,
    top_k: int = 10,
    nprobe: int = 2,
    vec_col: str = "embedding",
) -> DataFrame:
    """Query the materialized IVF index. Driver-side work is bounded
    by the index size, never the corpus: the centroid table (nlist
    rows) and the query row (1 row) are collected to compute the
    nprobe probe list as literal ints, precisely so the assignment
    scan gets a ``cluster_id IN (...)`` filter it can bucket-prune —
    a join, even broadcast, would read every bucket. The resulting
    probe plan is a pruned scan + TakeOrdered: zero exchanges.
    Tombstoned vectors are never returned (``live_rows``), and a
    tombstoned query vector raises KeyError.

    Same output as ``knn_ivf`` run inline (pinned by parity test)."""
    # Spark's auto-bucketed-scan heuristic disables bucketed reads
    # when no JOIN/AGG needs the hash distribution — but that also
    # silently drops bucket PRUNING, turning the probe into a full
    # scan ("Bucketed: false (disabled by query planner)"). Pruning
    # is the entire point of this index, so pin bucketed reads on
    # for THIS plan only: build_with_conf forces the physical plan
    # under the flipped conf and restores the session value, so the
    # pin no longer leaks into later queries sharing the session
    # (r8 advice item).
    from ..operators.confscope import build_with_conf

    def _probe() -> DataFrame:
        assign = live_rows(spark, f"{table_prefix}_assign", table_prefix, "vec_id")
        qrow = (
            assign.filter(F.col("vec_id") == query_vec_id)
            .select(vec.as_double(F.col(vec_col)).alias("qv"))
            .head()
        )
        if qrow is None:
            raise KeyError(f"query_vec_id {query_vec_id} not in index")
        qv = list(qrow["qv"])
        centroids = [
            (r["cluster_id"], list(r["centroid"]))
            for r in spark.table(f"{table_prefix}_centroids").collect()
        ]
        # argmin over nlist centroids, ties to the lower cluster_id —
        # same rule as assign_clusters
        scored = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, c)), cid)
            for cid, c in centroids
        )
        probe_ids = [cid for _, cid in scored[:nprobe]]
        qv_col = F.array(*[F.lit(float(x)) for x in qv])
        cand = assign.filter(F.col("cluster_id").isin(probe_ids)).filter(
            F.col("vec_id") != query_vec_id
        )
        return vec.top_k_cosine(
            cand, vec.as_double(F.col(vec_col)), qv_col, top_k
        )

    return build_with_conf(
        spark,
        {"spark.sql.sources.bucketing.autoBucketedScan.enabled": "false"},
        _probe,
    )


def knn_ivf(
    emb: DataFrame,
    query_vec_id: int,
    top_k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
    iters: int = 3,
    vec_col: str = "embedding",
    label_filter: int | None = None,
) -> DataFrame:
    """Top-k cosine neighbors of a stored vector, searching only the
    query's ``nprobe`` nearest inverted lists. ``label_filter``
    restricts candidates BEFORE scoring (pre-filtering — the variant
    that still returns k rows from the filtered set where
    post-filtering a plain top-k can come up short)."""
    centroids = kmeans_centroids(emb, nlist, iters)
    assigned = assign_clusters(emb, centroids, vec_col)
    qv = (
        emb.filter(F.col("vec_id") == query_vec_id)
        .select(vec.as_double(F.col(vec_col)).alias("qv"))
    )
    probe = (
        centroids.join(F.broadcast(qv))
        .withColumn("_d", vec.l2_distance(F.col("centroid"), F.col("qv")))
        .orderBy(F.asc("_d"), F.asc("cluster_id"))
        .limit(nprobe)
        .select("cluster_id")
    )
    cand = assigned.join(F.broadcast(probe), "cluster_id").filter(
        F.col("vec_id") != query_vec_id
    )
    if label_filter is not None:
        cand = cand.filter(F.col("label") == label_filter)
    return vec.top_k_cosine(
        cand.join(F.broadcast(qv)),
        vec.as_double(F.col(vec_col)),
        F.col("qv"),
        top_k,
    )


def kmeans_unrolled_cte(
    nlist: int, iters: int, dim: int = 64, train_pred: str | None = None
) -> str:
    """DuckDB CTE chain restating ``kmeans_centroids`` +
    ``assign_clusters`` exactly (lowest-id seeds, 9-dp-rounded
    centroid components, argmin with cid tiebreak): produces CTEs
    ``e(vec_id, v)``, the centroids ``c{iters}(cid, c)`` and
    ``af(vec_id, v, cid)`` — the final assignment of EVERY vector,
    already filtered to the argmin row. The one SQL Lloyd unroll of
    the double-valued quantizer; the oracles of every query built on
    it compose on top.

    ``train_pred``: optional SQL predicate on ``e`` restricting the
    TRAINING set (seeds + Lloyd rounds) to a subset — the
    frozen-centroid append regime (knn_ivf_index_append): the
    quantizer is fit on the corpus shard while the final assignment
    covers all vectors."""
    te = "e" if train_pred is None else "te"
    parts = [
        "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)",
    ]
    if train_pred is not None:
        parts.append(f"te AS (SELECT * FROM e WHERE {train_pred})")
    parts.append(
        f"""seed AS (
        SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS c
        FROM {te} ORDER BY vec_id LIMIT {nlist}
    )"""
    )

    def argmin(src: str, cents: str) -> str:
        return f"""SELECT e.vec_id, e.v, c.cid,
                   row_number() OVER (PARTITION BY e.vec_id
                                      ORDER BY {vec.l2sq_sql('e.v', 'c.c', dim)}, c.cid)
                       AS rn
            FROM {src} AS e, {cents} AS c"""

    prev = "seed"
    for k in range(1, iters + 1):
        parts.append(f"a{k} AS (\n            {argmin(te, prev)}\n    )")
        parts.append(
            f"""c{k} AS (
        SELECT cid, list(m ORDER BY i) AS c FROM (
            SELECT a.cid, t.i, round(avg(a.v[t.i]), 9) AS m
            FROM a{k} AS a, generate_series(1, {dim}) AS t(i)
            WHERE a.rn = 1
            GROUP BY a.cid, t.i
        ) GROUP BY cid
    )"""
        )
        prev = f"c{k}"
    parts.append(
        f"""af AS MATERIALIZED (
        SELECT vec_id, v, cid FROM (
            {argmin("e", prev)}
        ) WHERE rn = 1
    )"""
    )
    return ",\n    ".join(parts)


def probe_ranks_cte(cents: str) -> str:
    """CTE ``ranked(qvec, cid, rn)``: every query of CTE
    ``q(qvec, qv)`` ranks the centroids ``cents(cid, c)`` by L2,
    ties to the lower cid (``rn <= nprobe`` are its probed lists)."""
    return f"""ranked AS MATERIALIZED (
        SELECT q.qvec, c.cid,
               row_number() OVER (PARTITION BY q.qvec
                                  ORDER BY {vec.l2sq_sql('q.qv', 'c.c', 64)}, c.cid)
                   AS rn
        FROM q, {cents} AS c
    )"""
