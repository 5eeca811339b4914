"""MinHash signatures + LSH banding.

The LSH shape is fixed and defined here, once: 5-char shingles
(``SHINGLE_K``), 128 permutations (``N_PERM``), 16 bands × 8 rows
(``N_BANDS`` × ``ROWS_PER_BAND``). Every index, query, stream twin
and SQL oracle uses this one configuration (``plans/constants.py``
re-exports it), so no function takes a shape argument: a signature
or band key built anywhere matches one built anywhere else. Only the
per-shingle hash ``family`` and the ``downsample`` factor vary.

Performance shape (the thing that matters at 100 TB): each shingle
string is hashed ONCE (xxhash64 → 32-bit residue); the k-permutation
hash family is pure integer arithmetic, h_i(x) = (a_i·x + b_i) mod P.
The signature is computed by EXPLODING shingles and taking k plain
``min()`` aggregates in one hash-aggregate pass — every operator
stays inside whole-stage codegen and partial (map-side) aggregation
collapses each doc to one row per partition before any shuffle.

Alternatives measured and rejected on local[32] @ sf0.1:
- k independent string-hash passes over the shingle array
  (``transform`` × ``array_min``): ~30 s — k× redundant string
  hashing;
- single-pass ``aggregate`` with a zip_with min-accumulator:
  ~40 s — allocates a k-length array per shingle step, no codegen;
- numpy mapInPandas (JVM hashes → vectorized per-partition mins):
  ~4.0 s — Arrow+shuffle overhead eats the vectorization win.
The explode+min form runs the same workload in ~4.4 s warm
(with whole-stage codegen enabled — see session.py's maxFields
note; measured with ALL 128 aggregate columns forced).

P is the largest 32-bit prime; a_i < 2^31 and x < 2^32 keep every
product inside signed-64 range. Coefficients come from a fixed seed
→ signatures are deterministic across runs and clusters.

One-expression rule: the k-slot aggregate is ONE ``F.expr`` text from
``perm_min_sql`` (the DuckDB oracles' generator), never k Columns —
each Column op is a py4j round trip, ~16,000 per 128-perm plan: 0.8–
1.3 s Python CPU, 1.3–2.9 s wall per build (warm, 4 cores), above a
40-doc batch's signature math. The text takes a few hundred calls.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hexdigest import hex_int, hex_int_sql
from ..operators.compaction import (
    append_bucketed,
    delete_ids,
    reset_index,
    vacuum_index,
)
from ..sources.writers import write_bucketed

P32 = 4_294_967_291  # largest prime < 2^32

# The one MinHash-LSH configuration (module docstring). r=8 rows per
# band matters as much as recall: r=4 was measured to EXPLODE candidate
# counts 1000× on a shared-vocabulary corpus (mid-Jaccard pairs
# collide at j^4 per band), while r=8 keeps buckets near-singleton;
# detection probability 1-(1-j^8)^16 ≈ 0.9999 at j=0.9.
SHINGLE_K = 5
N_PERM = 128
N_BANDS = 16
ROWS_PER_BAND = N_PERM // N_BANDS

_FAMILY_ENV = "SPARK_GRAFT_MINHASH_FAMILY"
# documents.parquet size at/below which the md5 (oracle-restatable)
# family is the default: covers the correctness-gate corpora
# (sf0.001 ≈ 7 KB, sf0.01 ≈ 65 KB) while bench/scale corpora
# (sf0.1 ≈ 580 KB and up) keep the cheaper xxhash family.
_MD5_FAMILY_MAX_BYTES = 256 << 10


def minhash_family(sf_dir: str) -> str:
    """Pick the per-shingle hash family for a corpus.

    ``md5`` is the VERIFICATION family: every stage of the LSH
    pipeline built on it restates exactly in DuckDB SQL, so the
    queries using it are value-checked end to end. ``xxhash`` is the
    DEPLOYMENT family: ~20% cheaper per shingle (measured +1.5 s on
    the sf0.1 dedup_minhash_lsh line), same algorithm, no SQL twin.
    Both yield IDENTICAL final output on the test corpora (candidate
    recall differences only affect sub-threshold pairs; pinned by
    tests/test_dedup.py::TestFamilyParity), so the gate trades only
    hash cost, not semantics.

    Selection: explicit ``SPARK_GRAFT_MINHASH_FAMILY`` env override,
    else by local corpus size (md5 for small/correctness corpora,
    xxhash for bench/scale); non-local paths default to xxhash. A
    non-empty override other than ``md5``/``xxhash`` raises, rather
    than falling back to the size rule."""
    fam = os.environ.get(_FAMILY_ENV, "")
    if fam in ("md5", "xxhash"):
        return fam
    if fam:
        raise ValueError(f"{_FAMILY_ENV} must be 'md5' or 'xxhash', got {fam!r}")
    target = os.path.join(sf_dir, "documents.parquet")
    try:
        # a corpus can be one bare file (driver testdata) OR a Spark
        # output DIRECTORY of part files; getsize on a directory
        # returns the ~4 KB dirent and silently selected md5 on every
        # scaled corpus (r12: a 40× index build measured 264 s md5 vs
        # 23 s xxhash because of exactly this)
        if os.path.isdir(target):
            size = sum(
                os.path.getsize(os.path.join(target, f))
                for f in os.listdir(target)
                if f.endswith(".parquet")
            )
        else:
            size = os.path.getsize(target)
    except OSError:
        return "xxhash"
    return "md5" if size <= _MD5_FAMILY_MAX_BYTES else "xxhash"

_rng = random.Random(42)
_COEFFS = [
    (_rng.randrange(1, 1 << 31), _rng.randrange(0, 1 << 31))
    for _ in range(N_PERM)
]


def shingle_hash(col: Column, family: str) -> Column:
    """Per-shingle base hash in [0, P32), by ``family``:

    - ``xxhash``: ``pmod(xxhash64(s), P32)`` — one JVM hash, the
      cheapest per-shingle cost. Spark-only (no DuckDB twin).
    - ``md5``: first 8 md5 hex chars as a u32, mod P32 — bit-
      identical in DuckDB (``md5_shingle_hash_sql``), so every
      downstream stage (permutation mins, banding, bucket pairs)
      restates exactly in an oracle. The md5 costs ~2× xxhash per
      shingle but the LSH queries are dominated by the 128-slot
      aggregate, not the base hash (measured at sf0.1:
      dedup_minhash_lsh 5.6 s xxhash vs see plans/dedup.py).

    The permutation family on top is identical for both:
    h_i(x) = (a_i·x + b_i) mod P32, pure integer arithmetic."""
    if family == "xxhash":
        return F.pmod(F.xxhash64(col), F.lit(P32))
    if family == "md5":
        return hex_int(F.md5(col)) % F.lit(P32)
    raise ValueError(f"unknown minhash family: {family}")


def md5_shingle_hash_sql(expr: str) -> str:
    """SQL twin of ``shingle_hash(_, 'md5')``: the first 8 md5 hex
    digits of ``expr`` mod P32, valid in Spark SQL and DuckDB."""
    return f"({hex_int_sql(f'md5({expr})')} % {P32})"


def perm_min_sql(i: int, h: str = "h") -> str:
    """Permutation-min slot i, min((a_i·h + b_i) mod P32), as SQL text
    valid in BOTH engines: the Spark aggregate (``_signature``)
    and the DuckDB oracles share it. a < 2^31 and h < 2^32 keep the
    product in signed-64 range. Deliberately minimal — codegen'd 128×
    into one method, so each redundant node multiplies compile time
    AND per-row cost:
    - no NULL guard: ``a*NULL+b`` propagates NULL and ``min()``
      ignores NULLs natively, so empty-doc marker rows fall through
      to an all-NULL group (→ sentinel via coalesce);
    - ``%`` instead of ``pmod``: both operands are provably
      non-negative (a,b < 2^31, h < 2^32), where pmod costs two
      remainders to fix a sign that can never be negative.
    Measured on the sf0.1 corpus (all slots forced): 3.6s cold /
    1.2s warm vs 8.1s / 3.8s for the guarded-pmod form — identical
    signatures (checksum-equal)."""
    a, b = _COEFFS[i]
    return f"min((CAST({a} AS BIGINT) * {h} + {b}) % {P32})"


def _signature(exploded: DataFrame, id_cols: list[str], downsample: int) -> DataFrame:
    """(id_cols..., sig) from ``_h`` rows: downsample filter, then ONE
    aggregate expression (module docstring). An empty doc's NULL
    marker row passes the filter and gets the all-P32 sentinel.

    A filter before the wide aggregate beats folding the predicate
    into the 128 min() updates on BOTH codegen settings (sf0.1, all
    agg columns forced): 4.7s vs 6.7s interpreted (maxFields=100 —
    the skipped 75% of rows otherwise still pay 128 when() evaluations
    each), 4.4s vs 4.8s fused (maxFields≥129). An earlier measurement
    claiming the fold was 10× faster was an artifact of Catalyst
    pruning unread aggregate columns in the probe query."""
    if downsample > 1:
        exploded = exploded.filter(
            F.col("_h").isNull() | (F.pmod(F.col("_h"), F.lit(downsample)) == 0)
        )
    slots = ", ".join(
        f"coalesce({perm_min_sql(i, '_h')}, CAST({P32} AS BIGINT))"
        for i in range(N_PERM)
    )
    return exploded.groupBy(*id_cols).agg(F.expr(f"array({slots})").alias("sig"))


def minhash_signature_from_text(
    df: DataFrame,
    id_cols: list[str],
    downsample: int = 1,
    family: str = "xxhash",
) -> DataFrame:
    """(id_cols..., sig: array<bigint>[N_PERM]) per ``text`` row,
    straight from text — no shingle ARRAY is ever built.

    MinHash over a multiset equals MinHash over the set (duplicate
    shingles cannot change a minimum), so distinct shingle arrays are
    pure overhead for signatures. This path explodes shingle
    POSITIONS and keeps everything — substring, hash, permutations,
    mins — inside whole-stage codegen. Exact-Jaccard verification
    still needs distinct shingle arrays; it builds them only for
    candidate pairs.

    ``downsample=d`` keeps only shingles whose hash ≡ 0 (mod d)
    before the permutation mins — winnowing-style sketch-of-a-sketch
    that cuts the aggregate's input d× while preserving the Jaccard
    estimate (the sample is hash-uniform, so sampled-set Jaccard
    concentrates around the true value). Only sound when documents
    carry ≥ ~10·d shingles; high-similarity pairs survive intact
    because they share the same sampled subset. Candidates are
    exact-verified downstream either way.

    Cardinality contract: with ``downsample=1`` the signature table
    has EXACTLY one row per input doc (empty docs get a sentinel
    signature via the NULL marker; pinned in tests). With
    ``downsample>1`` a short doc whose every shingle hash fails the
    ``pmod(h, downsample)==0`` filter disappears from the table
    (~(1-1/d)^s chance for s shingles), silently excluding it from
    LSH candidate generation — acceptable under the probabilistic-
    recall contract, since downsampling already trades recall for
    throughput on long-doc corpora where s is large."""
    text = F.col("text")
    n = F.length(text) - F.lit(SHINGLE_K - 1)
    pos = F.explode_outer(
        F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(F.array().cast("array<int>"))
    )
    exploded = df.select(*id_cols, text, pos.alias("_i")).select(
        *id_cols,
        F.when(
            F.col("_i").isNotNull(),
            shingle_hash(text.substr(F.col("_i"), F.lit(SHINGLE_K)), family),
        ).alias("_h"),
    )
    return _signature(exploded, id_cols, downsample)


def delta_signatures(
    docs: DataFrame,
    id_cols: list[str],
    downsample: int,
    family: str,
) -> DataFrame:
    """Checkpointed signatures of an ingest batch: the one signature
    path of ``probe_minhash_index`` and ``append_minhash_index``.

    The batch's rows are checkpointed BEFORE the 128-slot stage, so
    that stage reads the checkpoint and never sees the caller's
    selection. A per-batch literal (a ``doc_id BETWEEN lo AND hi``)
    fused into it would be written into its generated Java: new
    source every batch, a ~350 ms compile, and a cold class. Past the
    checkpoint the stage's source is the same for every batch, so the
    probe and the append of every batch share one compiled class;
    only the small scan+filter stage that fills the checkpoint
    recompiles. The checkpoint keeps the caller's partitioning, so
    the partial aggregate runs on as many cores as before (a by-id
    shuffle instead would be coalesced by AQE to one partition on a
    small batch, or need a fixed partition count that a 40-doc batch
    pays for in tasks and files). The signature checkpoint lets the
    banding and the prefilter read the signatures without
    recomputing them."""
    rows = docs.select(*id_cols, "text").localCheckpoint(eager=True)
    return minhash_signature_from_text(
        rows, id_cols, downsample=downsample, family=family
    ).localCheckpoint(eager=True)


def lsh_candidate_pairs(
    sigs: DataFrame, block_cols: tuple[str, ...] = (), family: str = "xxhash"
) -> DataFrame:
    """Distinct candidate (doc_a, doc_b) pairs (doc_a < doc_b) from a
    (doc_id, *block_cols, sig) table: ``_band_rows`` → one shuffle on
    (block, band, key) → per-bucket combinations.

    Pairs come from COMBINATIONS WITHIN each bucket's collected id
    set, not a self-join on the band key — a self-join would replay
    the signature pipeline per side and shuffle twice (measured 2×
    query time), while buckets are near-singleton by construction
    (r=8) so the combinations expression is tiny per group. Only
    (ids, band keys) ever shuffle, never text. ``block_cols``
    restricts pairs to equal blocking keys (e.g. lang) by folding
    them into the bucket key."""
    banded = _band_rows(sigs, block_cols, family)
    return pairs_within_buckets(banded, "doc_id", [*block_cols, "band", "band_key"])


# Ids per chunk in the skew-guarded pair expansion. A bucket whose
# id set exceeds this is split into position-chunks of the sorted
# array; each (chunk_i, chunk_j) cell becomes its own row, so the
# quadratic pair expansion of a boilerplate mega-bucket is spread
# across ceil(B/c)^2/2 tasks instead of serializing in one. The cap
# also bounds MEMORY, not just skew: Generate(explode) materializes
# each cell's full pair array before exploding it, so a cell costs
# ~c^2 structs of heap — c=1024 keeps that ≈32 MB/task (measured:
# c=4096 × 32 concurrent tasks OOMed a 12k-id planted bucket whose
# cells each held 16.7M structs).
PAIR_CHUNK = 1024


def pairs_within_buckets(
    df: DataFrame, id_col: str, bucket_cols: list[str], distinct: bool = True
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs (doc_a < doc_b) of ids sharing a
    bucket: one shuffle on the bucket key, then combinations inside
    each collected id set — never a self-join (see
    lsh_candidate_pairs for why). Shared by MinHash banding and the
    hyperplane (cosine) LSH.

    Skew guard (r4): pair expansion is CHUNKED. Each bucket's sorted
    id array is cut into ``PAIR_CHUNK``-sized position slices and
    exploded into one row per (i ≤ j) chunk pair — same-chunk rows
    expand to combinations, cross-chunk rows to the full A×B product
    (position slices of a sorted array keep doc_a < doc_b for free).
    Normal buckets (≤ PAIR_CHUNK ids, the r=8 design point) yield
    exactly one (0,0) row, i.e. the original combinations — the
    output is bit-identical, only the physical distribution changes
    (pinned by the planted-mega-bucket test in test_dedup). The
    repartition between chunking and expansion is what moves the
    cells of a hot bucket onto different tasks; it shuffles id
    arrays, not text, and costs about one re-send of the collected
    ids (~MBs at bench scale, measured negligible). Planted-skew
    measurement (12k-id mega-bucket → 72M pairs, local[32]): chunked
    16 s vs 146 s for the single-task combinations shape — and the
    old shape's one giant pair array OOMs outright at larger buckets,
    which is what PAIR_CHUNK's memory bound prevents."""
    buckets = (
        df.groupBy(*bucket_cols)
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    c = PAIR_CHUNK
    k = F.ceil(F.size("ids") / F.lit(c)).cast("int")
    chunk_pair = F.explode(
        F.flatten(
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.transform(
                    F.sequence(i, k - 1),
                    lambda j: F.struct(i.alias("i"), j.alias("j")),
                ),
            )
        )
    ).alias("cp")
    cells = buckets.select(F.col("ids"), chunk_pair).select(
        F.slice("ids", F.col("cp.i") * c + 1, c).alias("ids_a"),
        # same-chunk cells never read ids_b — ship an empty slice
        # (length 0 keeps the element type, whatever the id type is)
        # instead of a second copy
        F.when(F.col("cp.i") == F.col("cp.j"), F.slice("ids", 1, 0))
        .otherwise(F.slice("ids", F.col("cp.j") * c + 1, c))
        .alias("ids_b"),
    )
    spark = df.sparkSession
    cells = cells.repartition(spark.sparkContext.defaultParallelism)
    comb = F.flatten(
        F.transform(
            F.col("ids_a"),
            lambda x, i: F.transform(
                F.slice(F.col("ids_a"), i + 2, F.size(F.col("ids_a"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cross = F.flatten(
        F.transform(
            F.col("ids_a"),
            lambda x: F.transform(
                F.col("ids_b"),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    pair_expr = F.explode(F.when(F.size("ids_b") == 0, comb).otherwise(cross))
    out = cells.select(pair_expr.alias("p")).select(
        F.col("p.doc_a"), F.col("p.doc_b")
    )
    if not distinct:
        # consumers whose downstream aggregate absorbs duplicate
        # pairs (an argmax/argmin per id) skip the dedup: on a
        # near-dup-heavy corpus the multi-band duplicate stream can
        # be billions of rows, and the dropDuplicates hash maps are
        # then the first thing to OOM (verify/reduce-THEN-distinct,
        # the prefix-join lesson) — while re-scoring a duplicate is
        # one cheap map-side expression.
        return out
    return (
        out
        .dropDuplicates(["doc_a", "doc_b"])
    )


def lsh_bands(sig: Column, family: str = "xxhash") -> Column:
    """Array of the N_BANDS band keys (ROWS_PER_BAND slots each); explode + groupBy on (band index, key)
    gives the LSH buckets; only (doc_id, band_key) ever shuffles.

    - ``xxhash``: murmur hash of each signature slice (bigint key,
      cheapest to shuffle; Spark-only).
    - ``md5``: the slice itself, decimal-joined to a string — the
      same key text DuckDB's ``concat_ws`` produces, so bucket
      membership (hence the candidate-pair set) is engine-exact.
      Slightly wider shuffle rows (~8×10 chars vs 8 bytes); grouping
      is identical because the key is injective on slices, where a
      murmur key could (with prob ~2^-32 per bucket pair) merge two
      buckets and admit extra candidates."""
    r = ROWS_PER_BAND
    if family == "md5":
        return F.transform(
            F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
            lambda b: F.array_join(
                F.slice(sig, b * r + 1, r).cast("array<string>"), ","
            ),
        )
    return F.transform(
        F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
        lambda b: F.hash(F.slice(sig, b * r + 1, r)).cast("bigint"),
    )


def _band_rows(sigs: DataFrame, extra_cols=(), family: str = "xxhash") -> DataFrame:
    """(doc_id, *extra_cols, band, band_key) from a (doc_id, *extra_cols,
    sig) table: the one band-row builder, shared by the index writes,
    the inline candidate pairs, the index probe and the cost report.
    The generated columns come last, where ``Generate`` emits them, so
    no reordering ``Project`` sits under the bucket aggregate."""
    return sigs.select(
        "doc_id",
        *extra_cols,
        F.posexplode(lsh_bands(F.col("sig"), family)).alias("band", "band_key"),
    )


def write_minhash_index(
    spark,
    docs: DataFrame,
    table_prefix: str,
    downsample: int = 1,
    family: str = "md5",
    n_buckets: int = 32,
    extra_cols: tuple[str, ...] = (),
) -> None:
    """Materialize the MinHash-LSH index — the dedup family's
    build-once/probe-repeatedly form; the lifecycle (append, delete,
    vacuum, compact) is ``operators/compaction.py``'s:

    - ``{prefix}_bands``: (band, band_key, doc_id), written BUCKETED
      by (band, band_key) so each LSH bucket's members are co-located
      — the candidate-pair groupBy then rides the bucketed layout
      with ZERO exchange (plan-asserted in tests), and an
      ingestion-time probe of one new document touches only its 16
      buckets' files.
    - ``{prefix}_sigs``: (doc_id, sig) — the signatures, for the
      agreement prefilter and for probing new docs without
      re-reading corpus text. Not bucketed.

    ``extra_cols`` (e.g. ``("lang",)``) carries blocking columns
    into both tables: signatures group on (doc_id, *extra) and the
    bands rows keep them, so a lang-blocked consumer can group on
    (lang, band, band_key) — still exchange-free, because the
    (band, band_key) hash layout co-locates every superset group."""
    reset_index(spark, table_prefix, ("_bands", "_sigs"))
    sigs = minhash_signature_from_text(
        docs, ["doc_id", *extra_cols], downsample=downsample, family=family
    )
    sigs.write.mode("overwrite").format("parquet").saveAsTable(
        f"{table_prefix}_sigs"
    )
    # the bands table keeps its (band, band_key, doc_id, *extra_cols)
    # column order; appends match columns by name
    write_bucketed(
        _band_rows(spark.table(f"{table_prefix}_sigs"), extra_cols, family).select(
            "band", "band_key", "doc_id", *extra_cols
        ),
        f"{table_prefix}_bands",
        ["band", "band_key"],
        n_buckets=n_buckets,
    )


def append_minhash_index(
    spark,
    docs: DataFrame,
    table_prefix: str,
    downsample: int = 1,
    family: str = "md5",
    extra_cols: tuple[str, ...] = (),
) -> None:
    """Append a delta batch to an ALREADY-WRITTEN index: signatures
    and band rows are computed for the DELTA ONLY and appended
    (``append_bucketed`` for the bands); nothing already in the index
    is read or rewritten. ``downsample``, ``family`` and
    ``extra_cols`` MUST match the build: signatures/bands are per-doc
    deterministic, so the appended index equals a from-scratch build
    row for row (pinned by dedup_minhash_index_append's oracle and the
    untouched-files test)."""
    dsigs = delta_signatures(docs, ["doc_id", *extra_cols], downsample, family)
    dsigs.write.mode("append").format("parquet").saveAsTable(
        f"{table_prefix}_sigs"
    )
    append_bucketed(
        spark,
        _band_rows(dsigs, extra_cols, family),
        f"{table_prefix}_bands",
    )


def delete_from_minhash_index(spark, doc_ids, table_prefix: str) -> None:
    """Tombstone documents (``operators.compaction.delete_ids``): the
    probes stop returning them at once; ``vacuum_minhash_index`` or a
    rebuild reclaims their rows."""
    delete_ids(doc_ids, table_prefix, "doc_id")


def vacuum_minhash_index(spark, table_prefix: str) -> int:
    """Fold the tombstones into ``_bands`` and ``_sigs``
    (``operators.compaction.vacuum_index``). A document's 16 band rows
    scatter over up to 16 buckets, so a band index's vacuum rewrites
    most buckets even for a few deletes (which is why deletes are
    tombstones and vacuums periodic); a ``_sigs`` file is rewritten
    only if it holds a tombstoned doc. Returns the number of doc_ids
    vacuumed."""
    return vacuum_index(
        spark,
        table_prefix,
        (f"{table_prefix}_bands", f"{table_prefix}_sigs"),
        "doc_id",
    )
