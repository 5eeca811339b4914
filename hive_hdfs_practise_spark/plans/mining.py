"""Set-similarity join, graph triangle counting, and skyline —
classic data-mining operator classes re-expressed Spark-first.

All three are EXACT (recall-1, fully integer/decimal comparisons
before any rounding), so each whole algorithm is restated in ANSI
SQL and value-checked by the DuckDB oracle:

- ``dedup_jaccard_prefix_join``: the AllPairs/PPJoin prefix-filter
  set-similarity self-join (Bayardo et al., WWW'07; Xiao et al.,
  WWW'08) — the deterministic scale path for the exact char-shingle
  Jaccard output that ``dedup_ngram_jaccard`` computes all-pairs.
- ``graph_triangle_count``: degree-ordered (a.k.a. "forward")
  triangle enumeration over the part co-purchase graph — the
  orientation trick bounds each node's out-degree by O(√m), turning
  the naive Θ(Σ deg²) wedge explosion into the join plan that
  survives power-law degree skew.
- ``part_price_skyline``: 2-D Pareto frontier (min price, max size)
  via the sort + running-max sweep — O(grid) after one per-price
  aggregate, vs the quadratic NOT EXISTS the oracle states.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..dedup.minhash import (  # registration-free
    lsh_candidate_pairs,
    md5_shingle_hash_sql,
    minhash_family,
    minhash_signature_from_text,
    pairs_within_buckets,
    perm_min_sql,
    shingle_hash,
)
from ..functions import text as tx
from ..operators.graph import copurchase_edges, trade_pairs, undirected
from ..sources.catalog import table, wide_table
from .constants import JACCARD_THRESHOLD, SHINGLE_K
from .minhash_sql import lang_overlap_ctes
from .registry import register

# Jaccard >= 0.7 as exact integer predicates (10·inter >= 7·union,
# 10·|small| >= 7·|large|): the threshold never touches a float, so
# candidate pruning and the final filter are bit-identical in both
# engines. Derived from the SAME constant dedup_ngram_jaccard uses.
_TAU_NUM = int(round(JACCARD_THRESHOLD * 10))  # 7
assert abs(_TAU_NUM / 10 - JACCARD_THRESHOLD) < 1e-12

# Bitmap-verify slot budget: past this many 64-bit words per doc
# (vocab > 8192 — a non-saturating corpus) the wide bit_or aggregate
# would blow the codegen field budget, so verification falls back to
# the materialized-array intersect. Test hook: test_mining forces the
# fallback by zeroing this.
_BITMAP_MAX_WORDS = 128


def _vocab_postings(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """(doc_id, lang, vid) distinct shingle postings of ``documents``
    over dense vocab ids, and the vocab size — the index the two
    prefix-filter joins (Jaccard, containment) build their candidates
    from and verify against.

    Shingling is the compute-dense corpus stage (wide_table + explode,
    codegen'd substring — no higher-order lambdas). The shingle space
    of a char-5 shingle saturates (bounded by the underlying word
    vocabulary — ~2k distinct on this corpus at ANY sf), so the
    id-assignment window is metadata-scale. Ids follow (document
    frequency, shingle) order: the global prefix ordering IS ascending
    vid, and postings/candidates shuffle ints, never shingle strings.

    The shingle table feeds the vocab and every postings consumer (the
    prefix window, the candidate sides, the verify index), so it is
    materialized once — persist(), not localCheckpoint(): the SQL
    cache stores compressed COLUMNAR batches (~10 B/row here) where the
    checkpoint holds deserialized row objects (~250 B/row) — at the
    40x scale-up (40.9M postings) the checkpointed form alone held
    ~10 GB of heap and the candidate-join sorts OOMed even at 24 g.
    The postings themselves are one broadcast join over it; persisting
    them as well did not measure faster (interleaved sf0.1 A/B,
    CHANGES.md). Builders that persist rely on bench.py/check_oracle
    clearing the cache between runs."""
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    sh = tx.shingle_postings(d, ["doc_id", "lang"], SHINGLE_K).persist()
    sh.count()
    vocab = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("dfreq"))
        .withColumn("vid", F.row_number().over(Window.orderBy("dfreq", "s")) - 1)
        .select("s", "vid")
        .localCheckpoint(eager=True)
    )
    n_vocab = vocab.count()
    post = sh.join(F.broadcast(vocab), "s").select("doc_id", "lang", "vid")
    return post, n_vocab


def _prefix(post: DataFrame, tau_num: int) -> DataFrame:
    """(doc_id, lang, vid, sz): each doc's first ``sz - ceil(tau·sz)
    + 1`` postings in vid order, tau = ``tau_num``/10, with the doc's
    set size ``sz``. One per-doc window pass yields both the rank and
    the size; integer ceil = (tau_num·sz + 9) div 10."""
    wd = Window.partitionBy("doc_id")
    ranked = post.select(
        "doc_id",
        "lang",
        "vid",
        F.row_number().over(wd.orderBy("vid")).alias("rn"),
        F.count(F.lit(1)).over(wd).alias("sz"),
    )
    return ranked.filter(
        F.col("rn") <= F.col("sz") - F.expr(f"({tau_num}*sz+9) div 10") + 1
    ).select("doc_id", "lang", "vid", "sz")


def _with_overlap(cand: DataFrame, post: DataFrame, n_vocab: int) -> DataFrame:
    """``cand`` (doc_a, doc_b, ...) + ``n_inter`` = exact |a∩b| from
    the postings ``post``, verified MAP-SIDE on the raw pair stream.

    Per-doc BITMAPS over the dense shingle ids: a codegen'd wide bit_or
    aggregate (the proven 128-slot minhash pattern) builds
    ceil(|vocab|/64) longs per doc once; each candidate pair then costs
    nwords AND+popcount ops instead of a string-array intersect (first
    cut: 17.3 s of the 26.6 s sf0.1 runtime was 1.2M array_intersects;
    the cut before THAT re-shingled per pair per reference — the
    CollapseProject inlining trap). Past ``_BITMAP_MAX_WORDS`` words
    (a non-saturating vocab) the slots would blow the codegen field
    budget, so the index falls back to per-doc id arrays and
    array_intersect; both branches are exact.

    The index tables are broadcast (vocab/8 bytes per doc, ~260 B
    here), so the candidate stream — the side that grows
    quadratically with corpus overlap — is never shuffled; without the
    hints the static plan cascades SortMergeJoins that re-shuffle every
    candidate row with all its bitmap words (AQE converts most back at
    runtime — the hints pin the right plan instead of relying on it).
    Past the broadcast budget (~40M docs) the deployment swap is a
    doc-bucketed persisted index joined exchange-free — the
    write_ivf_index pattern.

    ``n_inter`` stays an expression: a caller's SINGLE-reference
    threshold on it is pushed into the join condition, so each raw pair
    evaluates the popcount sum once and only survivors evaluate it
    again for the output (the 3-reference form ran the Jaccard verify
    stage at 11.6 s vs 3.6 s single-reference at sf0.1). Materializing
    it through a Generate node instead measured ~2x the executor CPU on
    the raw pair stream of both joins (sf0.1 A/B, CHANGES.md)."""
    nwords = (n_vocab + 63) // 64
    if nwords <= _BITMAP_MAX_WORDS:
        bit = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(vid % 64 AS INT))")
        cols = [f"w{k}" for k in range(nwords)]
        idx = post.groupBy("doc_id").agg(
            *[
                F.bit_or(
                    F.when(
                        (F.col("vid") >= k * 64) & (F.col("vid") < (k + 1) * 64), bit
                    ).otherwise(F.lit(0).cast("bigint"))
                ).alias(c)
                for k, c in enumerate(cols)
            ]
        )
        inter = sum(
            (F.bit_count(F.col(f"a_{c}").bitwiseAND(F.col(f"b_{c}"))) for c in cols),
            start=F.lit(0),
        ).cast("int")
    else:
        cols = ["vids"]
        idx = post.groupBy("doc_id").agg(F.collect_list("vid").alias("vids"))
        inter = F.size(F.array_intersect(F.col("a_vids"), F.col("b_vids")))
    ia = idx.select(F.col("doc_id").alias("doc_a"), *[F.col(c).alias(f"a_{c}") for c in cols])
    ib = idx.select(F.col("doc_id").alias("doc_b"), *[F.col(c).alias(f"b_{c}") for c in cols])
    return (
        cand.join(F.broadcast(ia), "doc_a")
        .join(F.broadcast(ib), "doc_b")
        .select(*cand.columns, inter.alias("n_inter"))
    )


@register(
    "dedup_jaccard_prefix_join",
    oracle=f"""
    WITH {lang_overlap_ctes()}
    SELECT doc_a, doc_b, CAST(ni AS INTEGER) AS n_inter,
           CAST(nu AS INTEGER) AS n_union, {tx.jaccard_sql("ni", "nu")} AS jaccard
    FROM scored
    WHERE nu > 0 AND 10 * ni >= {_TAU_NUM} * nu
    """,
)
def dedup_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact char-{5}-shingle Jaccard self-join at tau=0.7 via prefix
    filtering — same output set as the all-pairs ``dedup_ngram_jaccard``
    (equality pinned in test_mining), reached without enumerating the
    quadratic pair space.

    Lossless pruning (recall = 1, so the naive SQL restatement is a
    valid oracle):

    - **prefix filter**: order every doc's shingle set by global
      (document-frequency asc, shingle asc) and keep only the first
      ``sz - ceil(tau·sz) + 1`` shingles; any pair with J >= tau must
      share a prefix shingle (J >= tau implies overlap >= tau·max(|a|,|b|),
      and two sets ordered by one global total order whose suffixes of
      kept-overlap length don't reach that bound must collide in the
      prefix — Bayardo et al.'s theorem).
    - **length filter**: J >= tau implies tau·|b| <= |a| (both
      directions), as integers ``10·sz >= 7·sz_other``.

    Scale shape: shingling is the compute-dense corpus stage
    (wide_table + explode, codegen'd substring — no higher-order
    lambdas); df is a vocab-sized aggregate that joins back on the
    shingle key; prefix ranking is a PER-DOC window (parallelism grows
    with the corpus, not the vocab — no global rank); candidate
    generation shuffles only prefix postings on (shingle, lang);
    verification is MAP-SIDE on the raw pair stream (broadcast bitmap
    popcounts; set sizes ride the join), and only threshold survivors
    reach the final distinct — the raw stream itself is never
    shuffled (see the 40x notes inline and in SCALING.md). On
    Heaps-law corpora the rare-shingle prefix is
    the workhorse filter; on this shared-vocab synthetic corpus it
    prunes ~23% and the length filter another ~2x (measured at
    sf0.01: 33,487 lang-blocked pairs -> 12,773 candidates -> 6 true
    pairs), so verification, not candidate generation, bounds cost —
    both honest regimes are exact.
    """
    post, n_vocab = _vocab_postings(spark, sf_dir)
    # the prefix table feeds both sides of the candidate self-join —
    # without materialization the window pipeline executes twice;
    # columnar persist for the same heap reason as the postings
    pref = _prefix(post, _TAU_NUM).persist()
    pref.count()
    # the candidate self-join is the one stage whose input grows
    # superlinearly with corpus overlap (prefix postings² per
    # shingle). Partition it EXPLICITLY at 8x parallelism: the
    # repartition is on the join keys, so the join consumes it
    # directly (no extra exchange) and each task's sort fits in a
    # bounded heap slice — at the 40x scale-up (12.4M prefix rows)
    # the default cores-count partitioning OOMed 32 concurrent sorts.
    #
    # CRITICALLY, the raw pair stream is NEVER shuffled or
    # deduplicated before verification: at 40x it is 1.49B rows
    # (Σ per-(shingle,lang) prefix-count²), and a distinct-first plan
    # OOMed its partial hash maps even at 24g/256 partitions.
    # Instead each raw pair is verified MAP-SIDE straight out of the
    # join (_with_overlap); only the survivors — bounded by the true
    # answer times prefix overlap — reach the final distinct. A pair
    # sharing k prefix shingles is verified k times; k extra
    # popcounts are ~free next to shuffling the pair.
    #
    # Skew: measured at 40× (SCALING.md r5), the 1.49B pair mass is
    # spread over ~40k (vid, lang) keys — hottest key 189k pairs
    # (1e-4 share), per-task mass max/mean 1.21 under this hash
    # partitioning — so length-bucketed candidate generation
    # (replicating postings across size classes) was evaluated and
    # REJECTED: it buys nothing here. Re-probe before reaching for it
    # on a corpus with a dominant boilerplate shingle.
    n_join = spark.sparkContext.defaultParallelism * 8
    a = pref.repartition(n_join, "vid", "lang").select(
        F.col("doc_id").alias("doc_a"), "lang", "vid", F.col("sz").alias("sz_a")
    )
    b = pref.repartition(n_join, "vid", "lang").select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("vid").alias("vid_b"),
        F.col("sz").alias("sz_b"),
    )
    cand = a.join(
        b,
        (F.col("vid") == F.col("vid_b"))
        & (F.col("lang") == F.col("lang_b"))
        & (F.col("doc_a") < F.col("doc_b"))
        & (10 * F.col("sz_b") >= _TAU_NUM * F.col("sz_a"))
        & (10 * F.col("sz_a") >= _TAU_NUM * F.col("sz_b")),
    ).select(
        "doc_a",
        "doc_b",
        (F.col("sz_a") + F.col("sz_b")).cast("int").alias("sz_sum"),
    )
    # Threshold as ONE comparison: 10·i >= 7·(s−i) ⇔ 17·i >= 7·s, and
    # the oracle's n_union > 0 guard is vacuous here (every doc in
    # pref has >=1 shingle, so any joined pair has union >= 1; the
    # all-pairs oracle needs it only for empty-empty pairs the prefix
    # path cannot produce).
    return (
        _with_overlap(cand, post, n_vocab)
        .filter((10 + _TAU_NUM) * F.col("n_inter") >= _TAU_NUM * F.col("sz_sum"))
        # dedupe only the SURVIVORS (a true pair appears once per
        # shared prefix shingle) — the tiny tail of the stream
        .distinct()
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("sz_sum") - F.col("n_inter")).alias("n_union"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_union",
            tx.jaccard(F.col("n_inter"), F.col("n_union")).alias("jaccard"),
        )
    )

# Part co-purchase graph: edge = pair of parts bought together in >= 2
# distinct orders (the support threshold sparsifies the shared-order
# clique blowup the same way orders_frequent_part_pairs does).
TRI_MIN_SUP = 2


def _tri_oracle_ctes() -> str:
    """The degree-ordered triangle-enumeration CTE chain (through
    ``tcount``) — shared by graph_triangle_count and
    graph_clustering_coefficient so the enumeration cannot drift."""
    return f"""items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= {TRI_MIN_SUP}
    ),
    und AS (SELECT pa AS v, pb AS w FROM e UNION ALL SELECT pb, pa FROM e),
    deg AS (SELECT v, count(*) AS deg FROM und GROUP BY v),
    o AS (
        SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
                    THEN e.pa ELSE e.pb END AS src,
               CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.pa < e.pb)
                    THEN e.pb ELSE e.pa END AS dst
        FROM e JOIN deg da ON da.v = e.pa JOIN deg db ON db.v = e.pb
    ),
    o2 AS (SELECT o.src, o.dst, d.deg AS degd FROM o JOIN deg d ON d.v = o.dst),
    tris AS (
        SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
        FROM o2 w1 JOIN o2 w2
          ON w1.src = w2.src
         AND (w1.degd < w2.degd OR (w1.degd = w2.degd AND w1.dst < w2.dst))
        JOIN o e3 ON e3.src = w1.dst AND e3.dst = w2.dst
    ),
    nodes AS (
        SELECT a AS part_id FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
    ),
    tcount AS (
        SELECT part_id, count(*) AS n_triangles FROM nodes GROUP BY part_id
    )"""


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_tri_oracle_ctes()}
    SELECT part_id, n_triangles FROM tcount
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation counts over the part
    co-purchase graph (edge = co-bought in >= TRI_MIN_SUP distinct
    orders), by degree-ordered enumeration.

    Every edge is oriented from its lower-(degree, id) endpoint to the
    higher one; a triangle a<b<c (in that total order) is found exactly
    once, as the wedge (a->b, a->c) closed by the edge (b->c). The
    orientation caps every node's out-degree at O(sqrt(m)), so the
    wedge join generates O(m^1.5) rows worst case instead of the
    Θ(Σ deg²) a hub node causes in the naive plan — THE standard
    degree-skew defense for distributed triangle counting.

    Scale shape: the only corpus-sized stages are the distinct-items
    aggregate and the per-basket pair generation (shuffles on the
    ORDER key — quadratic in basket size, not catalog size, as in
    orders_frequent_part_pairs); the support filter then shrinks the
    edge set before any graph work. All comparisons and counts are
    integers — bit-exact under any partitioning, hence the full SQL
    restatement. The oriented edge list feeds three joins (two wedge
    sides + closure), so it is localCheckpointed once.
    """
    # shared tuned build (operators/graph.py): basket-array pair
    # generation, checkpointed — consumed by deg (twice, via the
    # direction union) and the orientation join
    edges = copurchase_edges(spark, sf_dir, TRI_MIN_SUP)
    return _triangle_counts(_edge_degrees(edges), edges)


def _edge_degrees(edges: DataFrame) -> DataFrame:
    """(v, deg) over an undirected (pa < pb) edge list — shared by
    graph_triangle_count and graph_clustering_coefficient."""
    und = undirected(edges, src="pa", dst="pb").select(
        F.col("pa").alias("v")
    )
    return und.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))


def _triangle_counts(deg: DataFrame, edges: DataFrame) -> DataFrame:
    """(part_id, n_triangles) by degree-ordered wedge enumeration —
    the body of graph_triangle_count, factored so the clustering
    coefficient rides the identical triangle machinery."""
    da = deg.select(F.col("v").alias("pa"), F.col("deg").alias("dega"))
    db = deg.select(F.col("v").alias("pb"), F.col("deg").alias("degb"))
    ed = edges.join(da, "pa").join(db, "pb")
    a_first = (F.col("dega") < F.col("degb")) | (
        (F.col("dega") == F.col("degb")) & (F.col("pa") < F.col("pb"))
    )
    oriented = ed.select(
        F.when(a_first, F.col("pa")).otherwise(F.col("pb")).alias("src"),
        F.when(a_first, F.col("pb")).otherwise(F.col("pa")).alias("dst"),
    )
    # used by both wedge sides AND the closure join: checkpoint once
    # (and the edge pipeline above would otherwise replay 3x)
    oriented = oriented.localCheckpoint(eager=True)
    dd = deg.select(F.col("v").alias("dst"), F.col("deg").alias("degd"))
    o2 = oriented.join(dd, "dst")
    w1 = o2.select(
        F.col("src"), F.col("dst").alias("b"), F.col("degd").alias("degb_")
    )
    w2 = o2.select(
        F.col("src").alias("src2"),
        F.col("dst").alias("c"),
        F.col("degd").alias("degc_"),
    )
    wedges = w1.join(
        w2,
        (F.col("src") == F.col("src2"))
        & (
            (F.col("degb_") < F.col("degc_"))
            | ((F.col("degb_") == F.col("degc_")) & (F.col("b") < F.col("c")))
        ),
    ).select(F.col("src").alias("a"), "b", "c")
    closure = oriented.select(
        F.col("src").alias("b"), F.col("dst").alias("c")
    )
    tris = wedges.join(closure, ["b", "c"]).select("a", "b", "c")
    nodes = (
        tris.select(F.col("a").alias("part_id"))
        .unionByName(tris.select(F.col("b").alias("part_id")))
        .unionByName(tris.select(F.col("c").alias("part_id")))
    )
    return nodes.groupBy("part_id").agg(F.count(F.lit(1)).alias("n_triangles"))


@register(
    "graph_clustering_coefficient",
    oracle=f"""
    WITH {_tri_oracle_ctes()}
    SELECT d.v AS part_id,
           CAST(d.deg AS BIGINT) AS degree,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST((2 * coalesce(t.n_triangles, 0) * 1000000)
                // (d.deg * (d.deg - 1)) AS BIGINT) AS cc_micro
    FROM deg d LEFT JOIN tcount t ON t.part_id = d.v
    WHERE d.deg >= 2
    """,
)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-node LOCAL CLUSTERING COEFFICIENT over the part
    co-purchase graph — how clique-like each node's neighborhood is
    (c_v = 2·T_v / (deg_v·(deg_v−1)), the standard small-world /
    community-structure statistic, and the per-node companion of
    graph_triangle_count): degree, triangle count, and the
    coefficient as a ×1e6 fixed-point integer quotient (truncating
    div both sides — the LP_SCALE idiom; no float ever enters the
    check). Nodes with degree < 2 are excluded on both sides (the
    denominator deg·(deg−1) would be 0 — the CASE-guard rule, here
    as a structural filter).

    Scale shape: rides the SAME checkpointed edge build, degree
    aggregate, and degree-ordered wedge enumeration as
    graph_triangle_count (shared ``_edge_degrees`` /
    ``_triangle_counts`` — O(m^1.5) wedge mass, the hub defense);
    the coefficient itself is one broadcast-sized left join over the
    node table. Edge build checkpoints: BUILD_EXECUTES."""
    edges = copurchase_edges(spark, sf_dir, TRI_MIN_SUP)
    deg = _edge_degrees(edges)
    tri = _triangle_counts(deg, edges)
    return (
        deg.filter(F.col("deg") >= 2)
        .join(tri, deg.v == tri.part_id, "left")
        .select(
            F.col("v").alias("part_id"),
            F.col("deg").cast("bigint").alias("degree"),
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("bigint")
            .alias("n_triangles"),
            F.expr(
                "CAST((2 * coalesce(n_triangles, 0) * 1000000)"
                " div (deg * (deg - 1)) AS BIGINT)"
            ).alias("cc_micro"),
        )
    )


@register(
    "part_price_skyline",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
        SELECT 1 FROM part q
        WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
          AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def part_price_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (price low, size high) — q dominates p iff q is <= on price, >= on
    size, and strictly better on at least one.

    The oracle states the quadratic NOT EXISTS semantics; the Spark
    plan is the sort-sweep: aggregate to the per-price grid (max size
    at each price — one map-side-combining shuffle over the corpus),
    then one running-max window over STRICTLY-lower prices on the
    grid. A part survives iff its size equals its price's max AND
    beats every lower price's best. The window is a single partition,
    but over the price GRID — cardinality bounded by the price domain
    (cents), not the row count, the same metadata-scale argument as
    events_gap_fill. Decimal/integer comparisons only — no float
    noise anywhere.
    """
    p = table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    grid = p.groupBy("p_retailprice").agg(F.max("p_size").alias("gmax"))
    w = Window.orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sky_prices = grid.withColumn("prior_best", F.max("gmax").over(w)).filter(
        F.col("prior_best").isNull() | (F.col("gmax") > F.col("prior_best"))
    )
    return (
        p.join(F.broadcast(sky_prices), "p_retailprice")
        .filter(F.col("p_size") == F.col("gmax"))
        .select("p_partkey", "p_retailprice", "p_size")
    )


# Frequent-phrase mining over positional postings: the corpus's most
# frequent word trigram (data-derived, so the query is meaningful and
# non-empty at every sf), then its per-document occurrence counts —
# the positional-postings join that phrase search engines run.


@register(
    "documents_top_phrase",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(trim(text), '\S+') AS t
        FROM documents
    ), tri AS (
        SELECT doc_id,
               t[i] || ' ' || t[i + 1] || ' ' || t[i + 2] AS phrase
        FROM toks,
             unnest(generate_series(1, greatest(len(t) - 2, 0))) AS u(i)
    ), top AS (
        SELECT phrase FROM tri GROUP BY phrase
        ORDER BY count(*) DESC, phrase LIMIT 1
    )
    SELECT tri.doc_id, tri.phrase, count(*) AS n_occurrences
    FROM tri JOIN top USING (phrase)
    GROUP BY tri.doc_id, tri.phrase
    """,
)
def documents_top_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent word trigram in the corpus and its per-document
    occurrence counts.

    Trigrams come from ONE pass of per-doc lead() windows over the
    positional postings (posexplode) — no self-joins on position.
    The phrase-count aggregate reduces map-side (the shuffle carries
    distinct trigrams, a saturating set on any bounded vocabulary);
    top-1 is a TakeOrdered with a lexicographic tiebreak, and the
    occurrence scan joins against that 1-row broadcast. The trigram
    stream feeds both the count and the occurrence join, so it is
    checkpointed once instead of replaying the explode+window per
    consumer. All counts integer — exact under any merge order.
    """
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")
    from ..functions import text as tx

    toks = d.select(
        "doc_id", F.posexplode(tx.tokens(F.col("text"))).alias("pos", "word")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    tri = (
        toks.select(
            "doc_id",
            F.concat_ws(
                " ",
                F.col("word"),
                F.lead("word", 1).over(wd),
                F.lead("word", 2).over(wd),
            ).alias("phrase"),
            F.lead("word", 2).over(wd).alias("w3"),
        )
        .filter(F.col("w3").isNotNull())
        .select("doc_id", "phrase")
        .localCheckpoint(eager=True)
    )
    top = (
        tri.groupBy("phrase")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("phrase"))
        .limit(1)
        .select("phrase")
    )
    return (
        tri.join(F.broadcast(top), "phrase")
        .groupBy("doc_id", "phrase")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .select("doc_id", "phrase", "n_occurrences")
    )


# Z-order (Morton) clustering key: the multi-dimensional data-layout
# primitive (Delta OPTIMIZE ZORDER / Iceberg sort orders). Interleave
# the low ZORDER_BITS bits of two join/filter dimensions so rows close
# in BOTH dimensions land in the same file — range scans on either
# dimension then prune most buckets. The bit math is plain integer
# div/mod arithmetic (identical semantics in Spark SQL and DuckDB for
# non-negative ints), generated ONCE in Python and interpolated into
# both engines so the two sides cannot desynchronize.
from ..operators.zorder import (  # registration-free shared generator
    ZORDER_BUCKET_SHIFT,
    zorder_expr as _zorder_expr,
)


@register(
    "lineitem_zorder_buckets",
    oracle=f"""
    WITH m AS (
        SELECT max(l_partkey) AS mp, max(l_suppkey) AS ms FROM lineitem
    ), sc AS (
        SELECT l_partkey, l_suppkey,
               (l_partkey * 65536) // (m.mp + 1) AS xs,
               (l_suppkey * 65536) // (m.ms + 1) AS ys
        FROM lineitem, m
    ), z AS (
        SELECT l_partkey, l_suppkey,
               ({_zorder_expr("xs", "ys", "//")}) AS zval
        FROM sc
    )
    SELECT CAST(zval // {1 << ZORDER_BUCKET_SHIFT} AS BIGINT) AS bucket,
           count(*) AS n_rows,
           min(l_partkey) AS part_min, max(l_partkey) AS part_max,
           min(l_suppkey) AS supp_min, max(l_suppkey) AS supp_max
    FROM z GROUP BY 1
    """,
)
def lineitem_zorder_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout plan for lineitem on (l_partkey, l_suppkey):
    Morton-interleave the low 16 bits of both keys, split the z-range
    into 256 buckets (the target files), and report each bucket's row
    count and per-dimension key ranges — the ranges ARE the file-skip
    index a z-ordered rewrite would produce (each bucket covers a
    narrow rectangle in (part, supp) space instead of a full-width
    stripe).

    Scale shape: one map-side-combining aggregate keyed by the
    derived bucket — the z-value is 32 codegen'd div/mod terms per
    row, no shuffle before the 256-group reduction. Keys are
    max-scaled to the 16-bit grid (``key*65536 div (max+1)`` — a
    1-row max aggregate broadcast back), so any key domain maps onto
    [0, 65535] with no wraparound; a deployment wanting finer cells
    widens ZORDER_BITS (the expression generator is parametric).
    All arithmetic integer — bit-exact cross-engine.
    """
    l = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    # per-dimension scale factors: one 1-row aggregate, broadcast
    # cross join (the repo's scalar-join pattern) — normalizes each
    # key to the full 16-bit width so the top-8-bit bucket split
    # covers the POPULATED z-space at any key domain
    m = l.agg(
        F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")
    )
    sc = l.join(F.broadcast(m)).select(
        "l_partkey",
        "l_suppkey",
        F.expr("(l_partkey * 65536) div (mp + 1)").alias("xs"),
        F.expr("(l_suppkey * 65536) div (ms + 1)").alias("ys"),
    )
    zval = F.expr(_zorder_expr("xs", "ys", "div"))
    return (
        sc.withColumn("zval", zval)
        .withColumn(
            "bucket",
            F.expr(f"zval div {1 << ZORDER_BUCKET_SHIFT}").cast("bigint"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("part_min"),
            F.max("l_partkey").alias("part_max"),
            F.min("l_suppkey").alias("supp_min"),
            F.max("l_suppkey").alias("supp_max"),
        )
    )


# BFS from a fixed source over the undirected customer-supplier trade
# graph (same node encoding as graph_pagerank: 2*custkey / 2*suppkey+1).
# Unrolled-round frontier expansion, all-integer — the traversal/
# reachability member of the graph family (pagerank = centrality,
# dedup_clusters = components, triangles = counting).
BFS_SOURCE_CUSTKEY = 1
BFS_ROUNDS = 3


def _bfs_oracle() -> str:
    src = BFS_SOURCE_CUSTKEY * 2
    parts = [
        f"""
    WITH e0 AS (
        SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    r0 AS (SELECT CAST({src} AS BIGINT) AS node, 0 AS level)"""
    ]
    for k in range(1, BFS_ROUNDS + 1):
        parts.append(
            f"""r{k} AS (
        SELECT node, CAST(min(level) AS INTEGER) AS level FROM (
            SELECT node, level FROM r{k - 1}
            UNION ALL
            SELECT e.dst AS node, {k} AS level
            FROM e JOIN r{k - 1} r ON e.src = r.node
        ) GROUP BY node
    )"""
        )
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT CASE WHEN node % 2 = 0 THEN 'c' || CAST(node // 2 AS VARCHAR)
                ELSE 's' || CAST(node // 2 AS VARCHAR) END AS node,
           level
    FROM r{BFS_ROUNDS}
    """
    )


@register("graph_bfs_levels", oracle=_bfs_oracle())
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS_ROUNDS-hop breadth-first levels from customer
    BFS_SOURCE_CUSTKEY over the undirected trade graph: level(v) =
    min hops (<= BFS_ROUNDS). All-integer frontier expansion, so the
    unrolled SQL restatement is bit-exact.

    Scale shape: the one corpus-sized stage is the distinct-pair edge
    build (as in graph_pagerank — the shuffle carries pairs, not
    lineitems); the edge list is checkpointed once and each round is
    one hash join (edges x reached) plus a min-aggregate whose
    map-side partials are exact. Reached-set state is one row per
    node, checkpointed per round — broadcasting it into the next
    round's join would otherwise re-execute all prior rounds (the
    graph_pagerank lesson).
    """
    # shared build (operators/graph.py): distinct integer-id pairs,
    # checkpointed once; the undirected view checkpoints too since
    # every BFS round joins it
    e = undirected(trade_pairs(spark, sf_dir)).localCheckpoint(eager=True)
    reached = spark.createDataFrame(
        [(BFS_SOURCE_CUSTKEY * 2, 0)], "node bigint, level int"
    )
    for k in range(1, BFS_ROUNDS + 1):
        frontier = (
            e.join(reached, e.src == reached.node)
            .select(F.col("dst").alias("node"), F.lit(k).alias("level"))
        )
        reached = (
            reached.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("level").cast("int").alias("level"))
            .localCheckpoint(eager=True)
        )
    label = F.when(
        F.col("node") % 2 == 0,
        F.concat(F.lit("c"), F.expr("node div 2").cast("string")),
    ).otherwise(F.concat(F.lit("s"), F.expr("node div 2").cast("string")))
    return reached.select(label.alias("node"), "level")


# Label-propagation communities (r5) over the same thresholded
# co-purchase graph as graph_triangle_count. Synchronous LPA with
# BOTH determinism levers pinned: the update is argmax over
# neighbor-label counts PLUS the node's own label (self-inclusion
# damps 2-cycles), ties break to the SMALLEST label, and the round
# count is FIXED (3) rather than convergence-gated — so the output
# is a pure function of the graph, unrollable in SQL, and immune to
# the oscillation that makes naive synchronous LPA nondeterministic.
LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    parts = [
        f"""items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= {TRI_MIN_SUP}
    ),
    und AS (SELECT pa AS v, pb AS w FROM e UNION ALL SELECT pb, pa FROM e),
    l0 AS (SELECT DISTINCT v, v AS lab FROM und)"""
    ]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(
            f"""c{r} AS (
        SELECT t.v, t.lab, count(*) AS c FROM (
            SELECT u.v, l.lab FROM und u JOIN l{r - 1} l ON l.v = u.w
            UNION ALL
            SELECT v, lab FROM l{r - 1}
        ) t GROUP BY t.v, t.lab
    )"""
        )
        parts.append(
            f"""l{r} AS (
        SELECT v, lab FROM (
            SELECT v, lab,
                   row_number() OVER (PARTITION BY v ORDER BY c DESC, lab)
                       AS rn
            FROM c{r}
        ) WHERE rn = 1
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT l.v AS part_id, l.lab AS community_id,
           count(*) OVER (PARTITION BY l.lab) AS n_members
    FROM l{LPA_ROUNDS} l
    """
    )


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection via deterministic synchronous label
    propagation (see note above) on the co-purchase part graph.
    Each round is ONE map-side-combining (node, label) count
    aggregate plus a ``min_by`` argmax — no windows, no sorts; the
    per-round label table is localCheckpointed (the iterative-loop
    invariant) so plans stay O(1) deep and each round's cost is one
    edge-sized join. Fixed rounds + smallest-label ties make the
    whole algorithm a pure function of the graph, which is what lets
    the oracle UNROLL all {LPA_ROUNDS} rounds in SQL and value-check
    an iterative graph algorithm exactly. Builder runs jobs at plan
    time (per-round checkpoints): BUILD_EXECUTES."""
    # shared tuned build (operators/graph.py), checkpointed: both
    # branches of the direction union read it (un-checkpointed, the
    # basket build replays once per branch); the undirected view is
    # checkpointed too since every LPA round joins it
    e = copurchase_edges(spark, sf_dir, TRI_MIN_SUP)
    und = (
        undirected(e, src="pa", dst="pb")
        .select(F.col("pa").alias("v"), F.col("pb").alias("w"))
        .localCheckpoint(eager=True)
    )
    labels = und.select("v").distinct().withColumn("lab", F.col("v"))
    for _ in range(LPA_ROUNDS):
        neighbor = und.join(
            labels.select(F.col("v").alias("w"), "lab"), "w"
        ).select("v", "lab")
        votes = neighbor.unionByName(labels.select("v", "lab"))
        counts = votes.groupBy("v", "lab").agg(F.count(F.lit(1)).alias("c"))
        labels = (
            counts.groupBy("v")
            .agg(
                F.min_by(
                    F.col("lab"), F.struct((-F.col("c")).alias("nc"), F.col("lab"))
                ).alias("lab")
            )
            .localCheckpoint(eager=True)
        )
    wl = Window.partitionBy("lab")
    return labels.select(
        F.col("v").alias("part_id"),
        F.col("lab").alias("community_id"),
        F.count(F.lit(1)).over(wl).alias("n_members"),
    )


# Asymmetric containment join — the curation question Jaccard can't
# ask: "is doc A (mostly) CONTAINED in doc B?" (quotes, excerpts,
# supersets; the pair can be wildly different sizes, so symmetric
# similarity misses it). C(A->B) = |A∩B| / |A| >= 0.9, both
# directions reported separately. Same exactness contract as the
# prefix join: integer threshold predicates, recall-1 pruning, so the
# naive quadratic SQL restatement is a valid oracle.
CONTAIN_TAU_NUM = 9  # tau = 0.9 as the integer 9/10


@register(
    "documents_containment_join",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, lang, {tx.shingle_set_sql("text", SHINGLE_K)} AS shingles
        FROM documents
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(len(list_intersect(a.shingles, b.shingles)) AS INTEGER) AS n_inter,
               CAST(len(a.shingles) AS INTEGER) AS sz_a,
               CAST(len(b.shingles) AS INTEGER) AS sz_b
        FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id <> b.doc_id
    )
    SELECT doc_a, doc_b, n_inter, sz_a, sz_b,
           round(CAST(n_inter AS DOUBLE) / sz_a, 6) AS containment
    FROM pairs
    WHERE sz_a > 0 AND 10 * n_inter >= {CONTAIN_TAU_NUM} * sz_a
    """,
)
def documents_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs >= 90% shingle-contained in another same-lang doc (see
    note above). Sibling of ``dedup_jaccard_prefix_join`` — same
    shingle/vocab/bitmap machinery, different (asymmetric) filter
    theory:

    - **prefix filter** (recall-1): if |A∩B| >= ceil(tau*|A|), then
      A's first ``|A| - ceil(tau*|A|) + 1`` shingles in the global
      (df asc, shingle) order must hit B — but B contributes its
      FULL posting list (a superset B has no length bound above, so
      B cannot be prefix-reduced; that asymmetry is the structural
      cost of containment vs Jaccard, and why the A-prefix rides the
      RAREST shingles where full posting lists are shortest).
    - **length filter**: |B| >= |A∩B| >= tau*|A| as integers
      (10*sz_b >= 9*sz_a); no upper bound on |B|.

    Scale shape notes shared with the sibling (see its inline 40x
    commentary and ``_vocab_postings``): shingles persist columnar;
    the candidate stream is verified MAP-SIDE against broadcast
    bitmaps and never shuffled raw; the threshold is a
    single-reference integer comparison pushed into the join
    condition; survivors-only distinct. Measured stage
    decomposition at sf0.1 (~9.5 s best-of-3): postings distinct
    4.9, vocab 1.5, prefix 2.1, candidate join 4.7 over 4.3M raw
    pairs — the B-full side carries ~4x the sibling's candidate
    mass, the honest structural cost of containment's missing upper
    length bound. The bounded-recall scale alternative is BUILT:
    ``documents_containment_minhash`` (slot-agreement Jaccard →
    containment via exact sizes; 30.5 s at 40× vs this form's
    352.9 s), alongside the KMV sketch — three regimes documented
    across the three forms."""
    post, n_vocab = _vocab_postings(spark, sf_dir)
    # containment prefix: pref feeds only ONE join side (B is full
    # postings), so no persist — a second pass would cost more than
    # it saves. Sizes for the B side come from a plain count
    # aggregate over the postings, not from the ranked
    # window pipeline (no per-doc sort needed).
    pref = _prefix(post, CONTAIN_TAU_NUM)
    szs = post.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    n_join = spark.sparkContext.defaultParallelism * 8
    a = pref.repartition(n_join, "vid", "lang").select(
        F.col("doc_id").alias("doc_a"), "lang", "vid", F.col("sz").alias("sz_a")
    )
    # B side: FULL postings with sizes (no prefix reduction — see
    # filter theory above)
    b = (
        post.join(szs.withColumnRenamed("sz", "sz_b"), "doc_id")
        .repartition(n_join, "vid", "lang")
        .select(
            F.col("doc_id").alias("doc_b"),
            F.col("lang").alias("lang_b"),
            F.col("vid").alias("vid_b"),
            "sz_b",
        )
    )
    cand = a.join(
        b,
        (F.col("vid") == F.col("vid_b"))
        & (F.col("lang") == F.col("lang_b"))
        & (F.col("doc_a") != F.col("doc_b"))
        & (10 * F.col("sz_b") >= CONTAIN_TAU_NUM * F.col("sz_a")),
    ).select("doc_a", "doc_b", "sz_a", "sz_b")
    return (
        _with_overlap(cand, post, n_vocab)
        .filter(10 * F.col("n_inter") >= CONTAIN_TAU_NUM * F.col("sz_a"))
        .select("doc_a", "doc_b", "n_inter", "sz_a", "sz_b")
        .distinct()
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "sz_a",
            "sz_b",
            F.round(
                F.col("n_inter").cast("double") / F.col("sz_a"), 6
            ).alias("containment"),
        )
    )

# Bounded-recall twin of documents_containment_join: KMV (bottom-k)
# containment SKETCH. Each doc keeps the k smallest md5 hashes of
# its shingle set; for a candidate pair, the k smallest of the two
# sketches' union is a valid KMV sketch of A∪B (the classic KMV
# closure property), and C(A->B) = J(A,B)·|A∪B|/|A| reduces to the
# pure COUNT ratio |u∩A∩B| / |u∩A| — integers end to end, so the
# whole estimator (hashing included, via the md5 nibble family of
# dedup/minhash.py) restates in SQL and value-checks exactly.
# Candidates: pairs sharing any of A's bottom-KMV_BAND hashes with
# B's bottom-KMV_K — for A ⊂ B each of A's bottom hashes lands in
# B's sketch with prob ~KMV_K/|B|, so candidate recall is
# ~1-(1-KMV_K/|B|)^KMV_BAND: bounded, not 1 (the exact join is the
# recall-1 path; this is the O(k)-bytes-per-doc form that scales
# past it).
KMV_K = 64
KMV_BAND = 8


def _kmv_oracle() -> str:
    h = md5_shingle_hash_sql("sgl")
    return f"""
    WITH sh AS MATERIALIZED (
        SELECT DISTINCT doc_id, lang, {h} AS h
        FROM (
            SELECT doc_id, lang, unnest({tx.shingle_set_sql("text", SHINGLE_K)}) AS sgl
            FROM documents
        )
    ),
    ranked AS MATERIALIZED (
        SELECT doc_id, lang, h,
               row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
        FROM sh
    ),
    sk AS MATERIALIZED (
        SELECT doc_id, lang, list(h ORDER BY h) AS hs
        FROM ranked WHERE rn <= {KMV_K}
        GROUP BY doc_id, lang
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ranked a JOIN ranked b
          ON a.h = b.h AND a.lang = b.lang AND a.doc_id <> b.doc_id
        WHERE a.rn <= {KMV_BAND} AND b.rn <= {KMV_K}
    ),
    est AS (
        SELECT c.doc_a, c.doc_b,
               CAST(len(list_intersect(
                   list_sort(list_distinct(list_concat(sa.hs, sb.hs)))[1:{KMV_K}],
                   sa.hs)) AS INTEGER) AS n_in_a,
               CAST(len(list_intersect(list_intersect(
                   list_sort(list_distinct(list_concat(sa.hs, sb.hs)))[1:{KMV_K}],
                   sa.hs), sb.hs)) AS INTEGER) AS n_in_both
        FROM cand c
        JOIN sk sa ON sa.doc_id = c.doc_a
        JOIN sk sb ON sb.doc_id = c.doc_b
    )
    SELECT doc_a, doc_b, n_in_a, n_in_both,
           round(CAST(n_in_both AS DOUBLE) / n_in_a, 6) AS containment_est
    FROM est
    WHERE n_in_a > 0 AND 10 * n_in_both >= {CONTAIN_TAU_NUM} * n_in_a
    """


@register("dedup_containment_kmv", oracle=_kmv_oracle())
def dedup_containment_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV-sketch containment pairs at est >= 0.9 (see estimator +
    recall note above — the exact twin is documents_containment_join;
    this form stores KMV_K hashes per doc and never touches raw
    shingles after the sketch build).

    Scale shape: shingle hashing is the one corpus-sized stage
    (EXPLODE + codegen md5 arithmetic, distinct with map-side
    partials); the per-doc bottom-k window parallelizes by doc; the
    candidate join carries only (hash, lang) postings of bottom-k
    rows; the estimator runs on 64-element arrays per CANDIDATE pair
    via built-in array functions (codegen'd, not interpreted
    lambdas).

    Regime honesty (measured at sf0.1): on THIS shared-vocab corpus
    the globally smallest hashes of the ~2k saturated shingle vocab
    land in ~20% of all sketches (hottest bottom-64 hash: 3,921 of
    20k docs), so single-hash banding yields 5.9M distinct candidate
    pairs and the sketch runs 13.3 s vs the exact twin's 9.5 s — the
    exact prefix join DOMINATES here and is what bench carries. The
    sketch's regime is Heaps-law vocabularies (per-doc sketches
    mostly disjoint, candidates ~ true-pair mass) and pipelines that
    must drop raw text after one pass (k hashes per doc is the
    entire retained state). Recall vs the exact twin at sf0.001:
    16/16 (pinned in test_mining); precision is threshold-quantized
    (k=64 -> 1/64 steps), so borderline pairs over-report
    (28 vs 12 true at sf0.01) — the exact join is the verify path."""
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    sh = (
        tx.shingle_positions(d, ["doc_id", "lang"], SHINGLE_K)
        .select("doc_id", "lang", shingle_hash(F.col("s"), "md5").alias("h"))
        .distinct()
    )
    wd = Window.partitionBy("doc_id").orderBy("h")
    ranked = sh.select(
        "doc_id", "lang", "h", F.row_number().over(wd).alias("rn")
    ).filter(F.col("rn") <= KMV_K)
    # ranked feeds the sketch table AND both candidate sides
    ranked = ranked.localCheckpoint(eager=True)
    sk = ranked.groupBy("doc_id").agg(F.sort_array(F.collect_list("h")).alias("hs"))
    cand = (
        ranked.filter(F.col("rn") <= KMV_BAND)
        .select(F.col("doc_id").alias("doc_a"), "lang", "h")
        .join(
            ranked.select(
                F.col("doc_id").alias("doc_b"),
                F.col("lang").alias("lang_b"),
                F.col("h").alias("h_b"),
            ),
            (F.col("h") == F.col("h_b"))
            & (F.col("lang") == F.col("lang_b"))
            & (F.col("doc_a") != F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    u = F.slice(
        F.array_sort(F.array_union(F.col("hs_a"), F.col("hs_b"))), 1, KMV_K
    )
    est = (
        cand.join(
            F.broadcast(sk.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))),
            "doc_a",
        )
        .join(
            F.broadcast(sk.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect(u, F.col("hs_a"))).alias("n_in_a"),
            F.size(
                F.array_intersect(
                    F.array_intersect(u, F.col("hs_a")), F.col("hs_b")
                )
            ).alias("n_in_both"),
        )
    )
    return est.filter(
        (F.col("n_in_a") > 0)
        & (10 * F.col("n_in_both") >= CONTAIN_TAU_NUM * F.col("n_in_a"))
    ).select(
        "doc_a",
        "doc_b",
        "n_in_a",
        "n_in_both",
        F.round(
            F.col("n_in_both").cast("double") / F.col("n_in_a"), 6
        ).alias("containment_est"),
    )


# MinHash containment sketch — the second bounded-recall twin of
# documents_containment_join, storing N_PERM permutation mins per doc
# (vs KMV's bottom-k VALUES). Estimator: slot agreement m/n estimates
# Jaccard, and containment follows from J and the EXACT set sizes:
#   C(A->B) = |A∩B|/|A| = J·(|A|+|B|) / ((1+J)·|A|)
#   ⇒ Ĉ = m·(sz_a+sz_b) / ((n+m)·sz_a)   with Ĵ = m/(n stays n+m after
#     substituting J=m/n into (1+J))
# — integers end to end until one final double division, so the md5
# family restates the WHOLE pipeline (signatures, banding, agreement
# count, both direction thresholds) in SQL and value-checks exactly.
# Candidates come from the SAME 16×8 banding dedup_minhash_lsh uses:
# permutation-min band keys spread the saturated-vocab hot hashes that
# mega-bucket the KMV sketch's single-hash banding (its docstring's
# regime analysis), so this form is the one that keeps the candidate
# stream near the true-pair mass on shared-vocab corpora. Recall
# regime honesty: banding recalls J-similar pairs — on this corpus
# every exact containment pair is a near-dup (J >= 0.98 at sf0.01, so
# band recall ≈ 1-(1-J^8)^16 ≈ 1); a LOW-J asymmetric pair (small A
# inside huge B: C=0.9 with |B|>>|A| gives J≈|A|/|B|) is this form's
# blind spot and the KMV sketch's strength — the two sketches cover
# complementary regimes, the exact join remains the recall-1 path.


def _containment_minhash_oracle() -> str:
    """Full SQL restatement (md5 family): dedup_minhash_lsh's
    candidate CTE chain (lang-blocked) → integer slot-agreement count
    → exact distinct-shingle sizes → both direction thresholds."""
    from .constants import N_PERM
    from .minhash_sql import minhash_cand_ctes as _minhash_cand_ctes

    terms = [
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(N_PERM)
    ]
    # 8-term parenthesized chunks: a flat 128-term `+` chain trips
    # DuckDB's binder recursion limit (the _minhash_lsh_oracle lesson)
    est = " + ".join(
        "(" + " + ".join(terms[g : g + 8]) + ")" for g in range(0, N_PERM, 8)
    )
    return f"""
    WITH {_minhash_cand_ctes("documents", downsample=4, lang=True)},
    szs AS MATERIALIZED (
        SELECT doc_id, count(*) AS sz FROM mh_sh GROUP BY doc_id
    ),
    est AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b, {est} AS m, za.sz AS sz_a, zb.sz AS sz_b
        FROM mh_cand c
        JOIN mh_sigs sa ON sa.doc_id = c.doc_a
        JOIN mh_sigs sb ON sb.doc_id = c.doc_b
        JOIN szs za ON za.doc_id = c.doc_a
        JOIN szs zb ON zb.doc_id = c.doc_b
    ),
    dirs AS (
        SELECT doc_a AS src, doc_b AS dst, m, sz_a AS ss, sz_b AS sd FROM est
        UNION ALL
        SELECT doc_b, doc_a, m, sz_b, sz_a FROM est
    )
    SELECT src AS doc_a, dst AS doc_b, CAST(m AS INTEGER) AS n_matches,
           ss AS sz_a, sd AS sz_b,
           round(CAST(m * (ss + sd) AS DOUBLE) / (({N_PERM} + m) * ss), 6)
               AS containment_est
    FROM dirs
    WHERE 10 * m * (ss + sd) >= {CONTAIN_TAU_NUM} * ({N_PERM} + m) * ss
    """


@register("documents_containment_minhash", oracle=_containment_minhash_oracle())
def documents_containment_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed containment pairs at est >= 0.9 from MinHash
    signatures + exact sizes (see estimator + regime note above) —
    the banded bounded-recall twin of ``documents_containment_join``.

    Scale shape: signatures ride ``minhash_signature_from_text``
    (one codegen'd hash-aggregate over shingle POSITIONS, ÷4
    winnowing, the dedup_minhash_lsh shape — O(N_PERM) longs per doc
    retained, raw text dropped after one pass); exact sizes are one
    distinct+count aggregate; banding/pair expansion is the shared
    chunk-guarded machinery; the per-CANDIDATE 128-slot agreement
    fold is interpreted but runs on the near-dup candidate stream
    only, never the corpus. Both directions of each unordered
    candidate emit from ONE row via explode (a union of the derived
    pipeline would replay the candidate build per branch). At 40×
    the exact twin is answer-mass-bound at 352.9 s; this sketch's
    candidate stream stays near the true-pair mass (banding, not
    single-hash buckets). Builder runs jobs at plan time (signature
    checkpoint): BUILD_EXECUTES."""
    from .constants import N_PERM

    family = minhash_family(sf_dir)
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # signatures feed banding AND the agreement count — checkpoint
    # (tiny: n_docs × 128 longs), else each consumer replays the scan
    sigs = minhash_signature_from_text(
        d, ["doc_id", "lang"], downsample=4, family=family
    ).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(sigs, block_cols=("lang",), family=family)
    # exact distinct-shingle sizes (the estimator's |A|, |B|); docs
    # shorter than a shingle have no row here, so the inner joins
    # below also drop the sentinel-signature band collisions — same
    # candidate set the SQL twin produces
    szs = (
        tx.shingle_postings(d, ["doc_id"], SHINGLE_K)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    m = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda a, b: F.when(a == b, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    base = (
        cand.join(
            sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a")),
            "doc_a",
        )
        .join(
            sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b")),
            "doc_b",
        )
        .join(
            F.broadcast(szs.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))),
            "doc_a",
        )
        .join(
            F.broadcast(szs.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))),
            "doc_b",
        )
        .select("doc_a", "doc_b", m.alias("m"), "sz_a", "sz_b")
    )
    # both directions from ONE pass over the candidate stream
    dirs = base.select(
        "m",
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("src"),
                    F.col("doc_b").alias("dst"),
                    F.col("sz_a").alias("ss"),
                    F.col("sz_b").alias("sd"),
                ),
                F.struct(
                    F.col("doc_b").alias("src"),
                    F.col("doc_a").alias("dst"),
                    F.col("sz_b").alias("ss"),
                    F.col("sz_a").alias("sd"),
                ),
            )
        ).alias("p"),
    ).select("m", "p.src", "p.dst", "p.ss", "p.sd")
    return dirs.filter(
        10 * F.col("m") * (F.col("ss") + F.col("sd"))
        >= CONTAIN_TAU_NUM * (F.lit(N_PERM) + F.col("m")) * F.col("ss")
    ).select(
        F.col("src").alias("doc_a"),
        F.col("dst").alias("doc_b"),
        F.col("m").cast("int").alias("n_matches"),
        F.col("ss").alias("sz_a"),
        F.col("sd").alias("sz_b"),
        F.round(
            (F.col("m") * (F.col("ss") + F.col("sd"))).cast("double")
            / ((F.lit(N_PERM) + F.col("m")) * F.col("ss")),
            6,
        ).alias("containment_est"),
    )


# Link prediction by neighborhood overlap (Liben-Nowell & Kleinberg,
# CIKM'03): score NON-edges of the co-purchase graph by the Jaccard
# of their endpoint neighborhoods — the classic "you may also like"
# candidate generator. Everything is integer: common-neighbor counts
# come from a wedge join, degrees from the direction union, and the
# ranking quotient cn·SCALE div (deg_a + deg_b − cn) is exact
# fixed-point (Jaccard is monotone in it), so the top-K with
# (quotient, pa, pb) tiebreak is engine-identical and the whole
# pipeline restates in SQL.
LP_SCALE = 1_000_000_000
LP_TOP = 25


@register(
    "graph_link_prediction",
    oracle=f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= {TRI_MIN_SUP}
    ),
    und AS (SELECT pa AS v, pb AS w FROM e UNION ALL SELECT pb, pa FROM e),
    deg AS (SELECT v, count(*) AS deg FROM und GROUP BY v),
    cn AS (
        SELECT x.v AS pa, y.v AS pb, count(*) AS cn
        FROM und x JOIN und y ON x.w = y.w AND x.v < y.v
        GROUP BY x.v, y.v
    ),
    cand AS (
        SELECT cn.pa, cn.pb, cn.cn, da.deg AS da, db.deg AS db
        FROM cn
        JOIN deg da ON da.v = cn.pa
        JOIN deg db ON db.v = cn.pb
        WHERE NOT EXISTS (
            SELECT 1 FROM e WHERE e.pa = cn.pa AND e.pb = cn.pb
        )
    )
    SELECT pa AS part_a, pb AS part_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           round(CAST(cn AS DOUBLE) / (da + db - cn), 6) AS jaccard
    FROM (
        SELECT *,
               row_number() OVER (
                   ORDER BY cn * {LP_SCALE} // (da + db - cn) DESC, pa, pb
               ) AS rn
        FROM cand
    )
    WHERE rn <= {LP_TOP}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{LP_TOP} predicted links on the co-purchase graph by
    neighborhood Jaccard (see note above): wedge-join common
    neighbors, anti-join away existing edges, rank on the exact
    fixed-point quotient.

    Scale shape: rides the shared tuned edge build
    (operators/graph.py, checkpointed — it feeds the wedge join
    twice, the degree aggregate and the anti-join); the wedge join
    shuffles on the shared NEIGHBOR, so its output is Σ deg(x)² —
    bounded here by the support threshold's sparsification, but
    irreducible as the graph densifies (50.4 s at 10×, no 40× point;
    orientation only helps triangle ENUMERATION). The scale exit is
    ``graph_link_prediction_minhash`` below — bounded candidate +
    verify cost at any scale (55.2 s at 40×), top-25 pinned equal to
    this form on the test corpora. The final global top-K here is a
    TakeOrdered over the candidate stream, not a full sort."""
    e = copurchase_edges(spark, sf_dir, TRI_MIN_SUP)
    und = undirected(e, src="pa", dst="pb").select(
        F.col("pa").alias("v"), F.col("pb").alias("w")
    )
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    x, y = und.alias("x"), und.alias("y")
    cn = (
        x.join(
            y,
            (F.col("x.w") == F.col("y.w")) & (F.col("x.v") < F.col("y.v")),
        )
        .groupBy(F.col("x.v").alias("pa"), F.col("y.v").alias("pb"))
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = (
        cn.join(e, ["pa", "pb"], "left_anti")
        .join(deg.select(F.col("v").alias("pa"), F.col("deg").alias("da")), "pa")
        .join(deg.select(F.col("v").alias("pb"), F.col("deg").alias("db")), "pb")
    )
    scored = cand.select(
        "pa",
        "pb",
        "cn",
        F.expr(f"cn * {LP_SCALE} div (da + db - cn)").alias("q"),
        (F.col("da") + F.col("db") - F.col("cn")).alias("un"),
    )
    return (
        scored.orderBy(F.desc("q"), "pa", "pb")
        .limit(LP_TOP)
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(F.col("cn").cast("double") / F.col("un"), 6).alias(
                "jaccard"
            ),
        )
    )


# Bounded scale twin of graph_link_prediction: MinHash the NEIGHBOR
# SETS instead of wedge-joining them. The exact form's wedge join
# materializes Σ deg(w)² rows (irreducible — SCALING.md round-7
# table; 50.4 s at 10×, no 40× point; at 10× the co-purchase graph
# measures |V|=20k, avg deg 119.6, Σ deg² = 298M). Here each vertex
# keeps LP_PERM permutation-min hashes of its neighbor set (the
# sf-gated dedup/minhash.py family, so the md5 variant restates in
# SQL) and candidate SCORING is free: under single-slot (r=1) bands
# the number of bands a pair collides in IS the signature-agreement
# count m (E[m] = LP_PERM·J), so one count-aggregate over the
# collision stream replaces any per-pair signature fold. Per
# permutation the buckets PARTITION the vertex set (each vertex has
# exactly one min), so per-perm pair mass is Σ_buckets s² ≤
# |V|·max_bucket (measured 39M total over 64 perms at 10× vs the
# wedge join's 298M) — with the PAIR_CHUNK skew guard distributing
# hot buckets. Existing edges anti-join away BEFORE the cap (high-J
# pairs are mostly edges — they would otherwise crowd out the true
# non-edge predictions), then the top LP_CAND_CAP pairs by
# (m, pa, pb) — a deterministic integer TakeOrdered — are verified
# EXACTLY (cn via a candidate-restricted neighbor join, exact
# degrees, the same fixed-point rank), so precision is 1 and the
# verify stage is O(cap·max_deg) rows no matter the scale. Recall is
# bounded, not 1: a true top-pair is lost iff its deterministic
# md5-family m falls below the cap boundary — measured margins on
# the pin corpora: worst true-top-25 m-rank 1839 of 14,895 at
# sf0.001 and 159 of 13,129 at sf0.01, both under half the 4096
# cap, which is what lets the recall pin assert full top-25
# equality vs the exact twin.
LP_PERM = 64
LP_CAND_CAP = 4096


def _lp_minhash_oracle() -> str:
    """Full SQL restatement of graph_link_prediction_minhash (md5
    family): per-vertex neighbor-set signatures → r=1 band-collision
    counts → edge anti-join → deterministic m-rank cap → exact
    verification of the capped pairs → identical rank/top-K tail to
    the exact twin's oracle."""
    h = md5_shingle_hash_sql("CAST(w AS VARCHAR)")
    mins = ", ".join(f"{perm_min_sql(i)} AS m{i}" for i in range(LP_PERM))
    arms = " ".join(f"WHEN {i} THEN m{i}" for i in range(LP_PERM))
    return f"""
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= {TRI_MIN_SUP}
    ),
    und AS MATERIALIZED (
        SELECT pa AS v, pb AS w FROM e UNION ALL SELECT pb, pa FROM e
    ),
    hsh AS (SELECT v, {h} AS h FROM und),
    sigs AS MATERIALIZED (SELECT v, {mins} FROM hsh GROUP BY v),
    bands AS MATERIALIZED (
        SELECT v, b.band, CASE b.band {arms} END AS band_key
        FROM sigs, generate_series(0, {LP_PERM - 1}) AS b(band)
    ),
    mcnt AS (
        SELECT a.v AS pa, b.v AS pb, count(*) AS m
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_key = b.band_key AND a.v < b.v
        GROUP BY a.v, b.v
    ),
    capped AS MATERIALIZED (
        SELECT pa, pb FROM (
            SELECT pa, pb,
                   row_number() OVER (ORDER BY m DESC, pa, pb) AS mrk
            FROM mcnt
            WHERE NOT EXISTS (
                SELECT 1 FROM e WHERE e.pa = mcnt.pa AND e.pb = mcnt.pb
            )
        ) WHERE mrk <= {LP_CAND_CAP}
    ),
    deg AS MATERIALIZED (SELECT v, count(*) AS deg FROM und GROUP BY v),
    cn AS (
        SELECT c.pa, c.pb, count(*) AS cn
        FROM capped c
        JOIN und x ON x.v = c.pa
        JOIN und y ON y.v = c.pb AND y.w = x.w
        GROUP BY c.pa, c.pb
    ),
    scored AS (
        SELECT cn.pa, cn.pb, cn.cn, da.deg AS da, db.deg AS db
        FROM cn
        JOIN deg da ON da.v = cn.pa
        JOIN deg db ON db.v = cn.pb
    )
    SELECT pa AS part_a, pb AS part_b,
           CAST(cn AS BIGINT) AS common_neighbors,
           round(CAST(cn AS DOUBLE) / (da + db - cn), 6) AS jaccard
    FROM (
        SELECT *,
               row_number() OVER (
                   ORDER BY cn * {LP_SCALE} // (da + db - cn) DESC, pa, pb
               ) AS rn
        FROM scored
    )
    WHERE rn <= {LP_TOP}
    """


@register("graph_link_prediction_minhash", oracle=_lp_minhash_oracle())
def graph_link_prediction_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{LP_TOP} predicted links via MinHash collision-count
    candidate ranking + capped exact verification (see the
    recall/pair-mass note above) — the bounded scale twin of
    ``graph_link_prediction``.

    Scale shape: the signature build is ONE hash-aggregate over the
    2|E| undirected edge rows (LP_PERM plain min() slots, map-side
    combining, whole-stage codegen — the dedup_minhash_lsh aggregate
    shape on integer keys); banding posexplodes |V|·LP_PERM
    (vertex, band, min) rows — the min value IS the band key for
    both hash families, no re-hashing; the collision stream is
    consumed by a map-side-combining count aggregate (duplicates ARE
    the signal — ``distinct=False``, the verify-then-distinct
    lesson), never a distinct; the edge anti-join and the
    TakeOrdered cap bound exact verification at
    O(LP_CAND_CAP·max_deg) rows regardless of corpus scale. A first
    cut that exact-verified EVERY band-collision pair measured
    331.7 s at 10× — worse than the exact twin's 50.4 s, because on
    the dense 10× graph the distinct candidate stream × avg-deg 119
    verify join dwarfed the wedge mass it was meant to avoid; the
    count-then-cap form verifies ≤ 4096 pairs at any scale. Builder
    runs jobs at plan time (edge + und checkpoints):
    BUILD_EXECUTES."""
    family = minhash_family(sf_dir)
    e = copurchase_edges(spark, sf_dir, TRI_MIN_SUP)
    # checkpoint: und feeds the signature build, BOTH verify sides,
    # and the degree aggregate — un-checkpointed, the basket build
    # would replay once per consumer
    und = (
        undirected(e, src="pa", dst="pb")
        .select(F.col("pa").alias("v"), F.col("pb").alias("w"))
        .localCheckpoint(eager=True)
    )
    hashed = und.select(
        "v", shingle_hash(F.col("w").cast("string"), family).alias("_h")
    )
    # every vertex has >= 1 neighbor (und comes from the edge list),
    # so no empty-set sentinel is needed — the mins are never NULL
    slots = ", ".join(perm_min_sql(i, "_h") for i in range(LP_PERM))
    sigs = hashed.groupBy("v").agg(F.expr(f"array({slots})").alias("sig"))
    banded = sigs.select("v", F.posexplode("sig").alias("band", "band_key"))
    mcnt = (
        pairs_within_buckets(banded, "v", ["band", "band_key"], distinct=False)
        .groupBy(F.col("doc_a").alias("pa"), F.col("doc_b").alias("pb"))
        .agg(F.count(F.lit(1)).alias("m"))
    )
    capped = (
        mcnt.join(e, ["pa", "pb"], "left_anti")
        .orderBy(F.desc("m"), "pa", "pb")
        .limit(LP_CAND_CAP)
        .select("pa", "pb")
    )
    x = und.select(F.col("v").alias("pa"), "w")
    y = und.select(F.col("v").alias("pb"), "w")
    cn = (
        capped.join(x, "pa")
        .join(y, ["pb", "w"])
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    deg = und.groupBy("v").agg(F.count(F.lit(1)).alias("deg"))
    scored = (
        cn.join(deg.select(F.col("v").alias("pa"), F.col("deg").alias("da")), "pa")
        .join(deg.select(F.col("v").alias("pb"), F.col("deg").alias("db")), "pb")
        .select(
            "pa",
            "pb",
            "cn",
            F.expr(f"cn * {LP_SCALE} div (da + db - cn)").alias("q"),
            (F.col("da") + F.col("db") - F.col("cn")).alias("un"),
        )
    )
    return (
        scored.orderBy(F.desc("q"), "pa", "pb")
        .limit(LP_TOP)
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            F.col("cn").cast("bigint").alias("common_neighbors"),
            F.round(F.col("cn").cast("double") / F.col("un"), 6).alias(
                "jaccard"
            ),
        )
    )


# k-core ONION decomposition (r9) over the same thresholded
# co-purchase graph as the triangle/LPA family: repeatedly strip
# nodes of degree < k and record the round each node fell
# (peel_round 1..R; 0 = survived all R rounds = the exact k-core
# once peeling has converged, which it has at every tested sf — a
# fixed round count rather than a convergence gate keeps the output
# a pure function of the graph, so the whole peel unrolls in SQL,
# the LPA determinism recipe). Every round's degree table is
# doubly-referenced (survivors AND removals read it) — the oracle
# marks them MATERIALIZED or DuckDB inlines the recursion
# exponentially (the embeddings_pca_power lesson).
KCORE_K = 2
KCORE_ROUNDS = 8


def _kcore_oracle() -> str:
    parts = [
        f"""items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
        HAVING count(*) >= {TRI_MIN_SUP}
    ),
    und AS (SELECT pa AS v, pb AS w FROM e UNION ALL SELECT pb, pa FROM e),
    n0 AS (SELECT DISTINCT v FROM und)"""
    ]
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
        SELECT n.v, CAST(coalesce(c.cnt, 0) AS INT) AS deg
        FROM n{r - 1} n LEFT JOIN (
            SELECT u.v, count(*) AS cnt
            FROM und u JOIN n{r - 1} a ON a.v = u.w
            GROUP BY u.v
        ) c ON c.v = n.v
    )"""
        )
        parts.append(
            f"""n{r} AS MATERIALIZED (
        SELECT v FROM d{r} WHERE deg >= {KCORE_K}
    )"""
        )
    removed = "\n    UNION ALL ".join(
        f"SELECT v, {r} AS peel_round, deg FROM d{r} WHERE deg < {KCORE_K}"
        for r in range(1, KCORE_ROUNDS + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    df AS (
        SELECT n.v, CAST(coalesce(c.cnt, 0) AS INT) AS deg
        FROM n{KCORE_ROUNDS} n LEFT JOIN (
            SELECT u.v, count(*) AS cnt
            FROM und u JOIN n{KCORE_ROUNDS} a ON a.v = u.w
            GROUP BY u.v
        ) c ON c.v = n.v
    )
    SELECT v AS part_id, CAST(peel_round AS INT) AS peel_round, deg
    FROM ({removed}
    UNION ALL SELECT v, 0 AS peel_round, deg FROM df) t
    """
    )


@register("graph_kcore_peel", oracle=_kcore_oracle())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion (k-core peel) decomposition of the co-purchase part
    graph (see note above): one row per node with the round it was
    peeled (deg < {k} in the surviving subgraph) and its degree at
    that moment; peel_round 0 rows are the {k}-core with their
    in-core degree.

    Scale shape: the corpus-sized stage is the shared checkpointed
    edge build; each round is one edge×survivor hash join + a
    map-side-combining degree count, with the per-round frame
    localCheckpointed (iterative-loop invariant — plans stay O(1)
    deep and removal frames don't replay prior rounds). Builder
    runs jobs at plan time: BUILD_EXECUTES."""
    e = copurchase_edges(spark, sf_dir, TRI_MIN_SUP)
    und = (
        undirected(e, src="pa", dst="pb")
        .select(F.col("pa").alias("v"), F.col("pb").alias("w"))
        .localCheckpoint(eager=True)
    )
    alive = und.select("v").distinct()
    removed = []
    for r in range(1, KCORE_ROUNDS + 1):
        deg = (
            und.join(alive.select(F.col("v").alias("w")), "w")
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        awd = (
            alive.join(deg, "v", "left")
            .select(
                "v",
                F.coalesce(F.col("cnt"), F.lit(0)).cast("int").alias("deg"),
            )
            .localCheckpoint(eager=True)
        )
        removed.append(
            awd.filter(F.col("deg") < KCORE_K).select(
                "v", F.lit(r).cast("int").alias("peel_round"), "deg"
            )
        )
        alive = awd.filter(F.col("deg") >= KCORE_K).select("v")
    deg_f = (
        und.join(alive.select(F.col("v").alias("w")), "w")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    core = alive.join(deg_f, "v", "left").select(
        "v",
        F.lit(0).cast("int").alias("peel_round"),
        F.coalesce(F.col("cnt"), F.lit(0)).cast("int").alias("deg"),
    )
    out = core
    for fr in removed:
        out = out.unionByName(fr)
    return out.select(F.col("v").alias("part_id"), "peel_round", "deg")
