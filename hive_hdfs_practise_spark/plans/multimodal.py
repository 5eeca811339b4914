"""Multimodal pipeline plan — binary-column decode via mapInPandas.

The payload here is UTF-8 text bytes standing in for image bytes
(no codecs in this container — see ``multimodal/binary_ops.py``);
what's REAL and oracle-checked is the Spark plumbing: binary column
construction, Arrow-batched mapInPandas with a typed output schema,
and deterministic per-payload metadata (sha256 digest + derived
pseudo-dimensions, identical bytes-in → values-out in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..functions.hexdigest import hex_int_sql
from ..multimodal.binary_ops import (
    FEATURE_DIM,
    PHASH_BLOCKS,
    decode_metadata,
    extract_features,
    from_documents,
    phash_signature,
    resize_stage,
    sample_frames,
)
from ..sources.catalog import table, wide_table
from .registry import register


def _sha256_byte(k: int) -> str:
    """Byte k of sha256(text), the digest the fake decoders read."""
    return hex_int_sql("sha256(text)", 2 * k + 1, 2)


@register(
    "multimodal_decode_stub",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256,
           CAST(16 + {_sha256_byte(0)} % 240 AS INTEGER) AS width,
           CAST(16 + {_sha256_byte(1)} % 240 AS INTEGER) AS height
    FROM documents
    """,
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → binary payload table → Arrow-batched decode stage.
    The fake decoder derives dimensions from the payload digest, so
    the whole Python hop is value-checked against SQL."""
    media = from_documents(wide_table(spark, sf_dir, "documents"))
    return decode_metadata(media, fake=True)


RESIZE_W, RESIZE_H = 16, 16


@register(
    "multimodal_resize_stub",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST({RESIZE_W} AS INTEGER) AS width,
           CAST({RESIZE_H} AS INTEGER) AS height,
           sha256(sha256(text || '|{RESIZE_W}x{RESIZE_H}')) AS payload_sha256
    FROM documents
    """,
)
def multimodal_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize stage through mapInPandas: binary in, binary out (the
    fake resample emits the hex digest of payload+target as the new
    payload). The oracle re-derives the output digest with nested
    sha256 — the whole Arrow round trip is value-checked. The binary
    column itself is dropped only for the comparison (hashes stand
    for it)."""
    media = from_documents(wide_table(spark, sf_dir, "documents"))
    return resize_stage(media, RESIZE_W, RESIZE_H, fake=True).drop("payload")


FRAME_CHARS = 256
FRAME_EVERY = 2


@register(
    "multimodal_frame_sample",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST(i AS INTEGER) AS frame_idx,
           sha256(substring(text, i * {FRAME_CHARS} + 1, {FRAME_CHARS})) AS frame_sha256,
           CAST(length(substring(text, i * {FRAME_CHARS} + 1, {FRAME_CHARS})) AS INTEGER)
               AS n_frame_chars
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(
                   0, CAST(ceil(length(text) / {FRAME_CHARS}.0) AS BIGINT) - 1,
                   {FRAME_EVERY})) AS i
        FROM documents
    )
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampler (the video shape): every 2nd 256-char frame of
    each payload fans out to its own row through one mapInPandas hop
    — n inputs : m outputs through Arrow, each frame digested. The
    oracle rebuilds the sampled frames with a stepped
    generate_series."""
    media = from_documents(wide_table(spark, sf_dir, "documents"))
    return sample_frames(media, FRAME_CHARS, FRAME_EVERY)


@register(
    "multimodal_feature_extract",
    oracle="SELECT doc_id AS media_id, "
    + ", ".join(
        f"round({_sha256_byte(k)} / 255.0, 6) AS f{k}"
        for k in range(FEATURE_DIM)
    )
    + " FROM documents",
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extract stage: payload → 8-dim embedding
    (array<double> from the operator; projected to scalar columns
    for the value check). A real image encoder swap keeps the same
    mapInPandas signature and array<double> contract."""
    media = from_documents(wide_table(spark, sf_dir, "documents"))
    feats = extract_features(media, FEATURE_DIM)
    return feats.select(
        "media_id",
        *[
            F.round(F.element_at("feature", k + 1), 6).alias(f"f{k}")
            for k in range(FEATURE_DIM)
        ],
    )


_PHASH_SIG_CTES = f"""chars AS (
        SELECT doc_id,
               (i - 1) // greatest(1, (length(text) + {PHASH_BLOCKS - 1}) // {PHASH_BLOCKS}) AS blk,
               unicode(substring(text, i, 1)) AS cp
        FROM (SELECT doc_id, text,
                     unnest(generate_series(1, length(text))) AS i
              FROM documents)
    ),
    grid AS (
        SELECT doc_id, unnest(generate_series(0, {PHASH_BLOCKS - 1})) AS blk
        FROM documents
    ),
    bsum AS (
        SELECT g.doc_id, g.blk, coalesce(s.s, 0) AS s
        FROM grid AS g LEFT JOIN (
            SELECT doc_id, blk, sum(cp) AS s FROM chars GROUP BY doc_id, blk
        ) AS s ON g.doc_id = s.doc_id AND g.blk = s.blk
    ),
    bits AS (
        SELECT doc_id, blk AS j,
               CASE WHEN s > lead(s) OVER (PARTITION BY doc_id ORDER BY blk)
                    THEN 1 ELSE 0 END AS bit
        FROM bsum
        QUALIFY blk < {PHASH_BLOCKS - 1}
    ),
    sig AS (
        SELECT doc_id, list(v ORDER BY band_idx) AS s FROM (
            SELECT doc_id, j // 8 AS band_idx,
                   sum(bit * (1 << (j % 8))) AS v
            FROM bits GROUP BY doc_id, j // 8
        ) GROUP BY doc_id
    )"""

_PHASH_HAM_SQL = " + ".join(
    f"bit_count(xor(a.s[{k + 1}], b.s[{k + 1}]))" for k in range(8)
)

PHASH_HAM_K = 7  # <= 7 flipped bits over 8 bands pigeonholes one clean band


@register(
    "multimodal_phash_neardup",
    oracle=f"""
    WITH {_PHASH_SIG_CTES}
    SELECT a.doc_id AS media_id_a, b.doc_id AS media_id_b,
           CAST({_PHASH_HAM_SQL} AS INTEGER) AS hamming
    FROM sig AS a JOIN sig AS b ON a.doc_id < b.doc_id
    WHERE CAST({_PHASH_HAM_SQL} AS INTEGER) <= {PHASH_HAM_K}
    """,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate JOIN over the media table — the
    cross-doc member of the multimodal family (decode/resize/frame/
    feature are per-row). Pipeline: Arrow-batched dHash signature
    (``phash_signature``: 65 payload blocks, 64 adjacent-difference
    bits, 8 byte-bands), then banded LSH — posexplode the 8 bands,
    self-join on (band_idx, band_val), Hamming-verify map-side
    BEFORE the distinct (never distinct a candidate stream the
    verify can shrink), emit pairs with distance ≤ {PHASH_HAM_K}.

    RECALL IS EXACT, not probabilistic: ≤7 flipped bits across 8
    bands leave at least one band identical (pigeonhole), so every
    qualifying pair IS a band collision — which is why the oracle
    can restate the full quadratic pairwise rule and value-match.
    At 100 TB the banded join touches only colliding buckets
    (~n²/256 per band worst-case, corpus-dependent); the quadratic
    form exists only oracle-side. Measured on this corpus: all 22
    flagged pairs are true near-dups (shingle-Jaccard ≥ 0.93);
    aHash (global-mean bits) produced ~250 false hamming-0
    collisions — dHash's adjacent-difference bits are what make
    the texture discriminative."""
    media = from_documents(wide_table(spark, sf_dir, "documents"))
    sig = phash_signature(media)
    bands = sig.select(
        "media_id", "sig", F.posexplode("sig").alias("band_idx", "band_val")
    )
    a, b = bands.alias("a"), bands.alias("b")
    ham = sum(
        F.bit_count(
            F.col(f"a.sig")[k].bitwiseXOR(F.col(f"b.sig")[k])
        ).cast("int")
        for k in range(8)
    ).cast("int")
    cand = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.media_id") < F.col("b.media_id")),
    )
    return (
        cand.select(
            F.col("a.media_id").alias("media_id_a"),
            F.col("b.media_id").alias("media_id_b"),
            ham.alias("hamming"),
        )
        .where(F.col("hamming") <= PHASH_HAM_K)
        .distinct()
    )


@register(
    "multimodal_phash_clusters",
    oracle=f"""
    WITH RECURSIVE {_PHASH_SIG_CTES},
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sig AS a JOIN sig AS b ON a.doc_id < b.doc_id
        WHERE CAST({_PHASH_HAM_SQL} AS INTEGER) <= {PHASH_HAM_K}
    ),
    edges AS (
        SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION
        SELECT doc_b AS u, doc_a AS v FROM pairs
    ),
    walk(u, m) AS (
        SELECT u, u AS m FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT e.u, w.m FROM edges e JOIN walk w ON e.v = w.u
    )
    SELECT u AS media_id,
           min(m) AS cluster_id,
           (u = min(m)) AS is_survivor
    FROM walk GROUP BY u
    """,
)
def multimodal_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate MEDIA clusters: the perceptual near-dup pairs
    (pigeonhole-exact banded dHash, see multimodal_phash_neardup)
    closed into connected components with survivor marking — the
    image-dedup unit a curation pipeline actually drops on (keep one
    survivor per visually-duplicate component). Same closure as the
    text dedup family (``dedup/clusters.py``): small pair graphs —
    every natural corpus here — take the size-gated driver union-find
    fast path; at-scale graphs fall back to the iterative min-label
    loop (per-round localCheckpoint). The oracle closes the same pair
    graph with a recursive CTE, so the algorithm stays value-checked
    end to end. Builder runs jobs at plan time (edge checkpoint):
    BUILD_EXECUTES."""
    from ..dedup.clusters import connected_components, dedup_survivors

    pairs = multimodal_phash_neardup(spark, sf_dir).select(
        F.col("media_id_a").alias("doc_a"), F.col("media_id_b").alias("doc_b")
    )
    return dedup_survivors(connected_components(pairs)).select(
        F.col("doc_id").alias("media_id"), "cluster_id", "is_survivor"
    )
