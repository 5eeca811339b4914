"""Connected-component duplicate clusters — the step after pair
detection in a real dedup pipeline: near-dup PAIRS form a graph;
the unit of deduplication is the connected COMPONENT (keep one
survivor per component, drop the rest).

Algorithm: iterative min-label propagation over the undirected pair
graph. Each round every vertex takes the min label among itself and
its neighbors; convergence when no label changes (checked with a
scalar aggregate per round — the only driver-side value is one
number). Rounds ≤ graph diameter; dup components are near-cliques
in practice (diameter ~2), so this converges in 2-3 rounds. For
adversarial long-chain graphs at 100 TB, swap the propagation step
for the large-star/small-star contraction (same join primitives,
O(log n) rounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Edge-count gate for the driver-side union-find fast path (each edge
# row is two ids; 2^19 edge rows ≈ 8 MB collected — the repo's
# metadata-scale driver-state bound, the SEM_MAX_NLIST precedent).
# Above the gate the distributed min-label loop runs unchanged.
CC_DRIVER_MAX_EDGES = 1 << 19


def _driver_components(rows) -> list[tuple]:
    """Union-find with min-root unions over collected edge rows:
    always attaching the LARGER root under the smaller keeps every
    tree's root equal to the minimum id seen in its component, so
    after all edges the root IS the component minimum — exactly the
    fixpoint the iterative min-label propagation converges to."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for u, v in rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    # edge rows are symmetrized upstream (both directions present),
    # so the u column alone covers every vertex
    verts = {u for u, _ in rows}
    return [(x, find(x)) for x in sorted(verts)]


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int | None = None,
) -> DataFrame:
    """pairs(src, dst) → (doc_id, cluster_id = min reachable id).
    Only vertices that appear in at least one pair are returned
    (singletons are trivially their own cluster).

    Size-adaptive (r12 optimization round): the pair graph of a dedup
    pipeline is MUCH smaller than the corpus (verified near-dup pairs),
    and the iterative loop costs ~2 jobs per round regardless of size —
    pure scheduling overhead on a few-hundred-pair graph. When the
    materialized edge list is under ``CC_DRIVER_MAX_EDGES`` (a bounded,
    metadata-scale collect — the repo's existing driver-state rule),
    components come from one driver union-find with identical output
    (min id per component; parity pinned in tests). Larger graphs take
    the distributed min-label loop exactly as before.

    ``max_iter=None`` (every current caller) means FULL closure — the
    fast path is eligible. Passing an explicit max_iter requests
    bounded-round propagation semantics, which the union-find cannot
    honor, so it pins the iterative path (review guard: the two paths
    must never diverge on the same call)."""
    edges = (
        # symmetrize in ONE pass: explode of a 2-struct array emits both
        # directions from a single execution of the pairs lineage. The
        # union-of-two-selects form ran the (expensive — LSH/verify)
        # upstream pipeline TWICE under the checkpoint, because AQE does
        # not dedupe identical heavy subtrees (the r6 lesson).
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("u"), F.col(dst).alias("v")),
                    F.struct(F.col(dst).alias("u"), F.col(src).alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        # materialize ONCE: the pair graph may be the output of an
        # expensive upstream pipeline (LSH / brute-force Jaccard);
        # without this every iteration's action replays that lineage.
        .localCheckpoint(eager=True)
    )
    # NULL ids would crash the union-find (None < int); the iterative
    # path tolerates them (equi-joins). Checking in the edge-count job
    # keeps a NULL-bearing graph from ever being collected.
    if max_iter is None and edges.agg(
        (F.count(F.lit(1)) <= CC_DRIVER_MAX_EDGES)
        & (F.count_if(F.col("u").isNull() | F.col("v").isNull()) == 0)
    ).first()[0]:
        rows = [(r[0], r[1]) for r in edges.collect()]
        utype = edges.schema["u"].dataType
        schema = T.StructType(
            [T.StructField("doc_id", utype), T.StructField("cluster_id", utype)]
        )
        return pairs.sparkSession.createDataFrame(_driver_components(rows), schema)
    labels = edges.select(F.col("u").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    )
    # carry the label-mass scalar across rounds (r12 optimization):
    # round k's "old" sum IS round k-1's "new" sum — the checkpointed
    # labels cannot change between rounds, so re-aggregating them was
    # one redundant job per round across every CC consumer (clusters,
    # survivors, cost report, the three pipelines, phash clusters).
    prev_sum = labels.agg(F.sum("label")).collect()[0][0]
    for _ in range(max_iter if max_iter is not None else 20):
        neighbor_min = (
            edges.join(labels, edges.v == labels.doc_id)
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.u, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))
                ).alias("label"),
            )
        )
        # truncate lineage each round (plans would otherwise nest
        # exponentially) and converge on label mass: labels only
        # ever decrease, so equal sums ⇒ fixpoint.
        new_labels = new_labels.localCheckpoint(eager=True)
        new_sum = new_labels.agg(F.sum("label")).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dedup_survivors(components: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, is_survivor): survivor = the cluster's
    min id — the same keep-min rule as exact dedup."""
    return components.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_survivor"),
    )
