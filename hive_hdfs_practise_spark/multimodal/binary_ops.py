"""Multimodal (binary-column) pipeline plumbing.

Design for image/audio/video at 100 TB: payloads are opaque
``binary`` columns with a typed metadata struct alongside; decode /
feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages so each Python worker touches a whole batch
of payloads at once and the JVM never materializes decoded frames.

The decode step itself is STUBBED in this container (no
PIL/ffmpeg/librosa here): ``decode_image`` raises
NotImplementedError unless ``fake=True``, in which case a
deterministic fake decoder (sha256-derived pseudo-dimensions)
stands in. Everything AROUND the stub — schema, batch iteration,
partition sizing, output contract — is real and tested, so swapping
in a real codec is a one-function change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Pluggable codec seam: every stage accepts an optional callable
# (``decoder``/``resizer``/``encoder``) that replaces the stub
# WITHOUT touching the Spark plumbing — schema, Arrow batching, and
# partitioning are identical either way. The callables close over
# their codec imports, so Spark workers re-import the codec library
# by name at deserialization time (standard cloudpickle behavior).
# Registered plans always pass the deterministic fake explicitly —
# a codec appearing in the environment must never silently change
# an oracle-checked query's output.


def pil_image_decoder() -> Callable[[bytes], tuple[int, int]] | None:
    """A Pillow-backed ``payload -> (width, height)`` decoder, or
    None when Pillow is not importable (this container). The
    integration test registers it when available and skips
    otherwise, so the seam is exercised against a real codec the
    moment the environment provides one."""
    try:
        import io

        from PIL import Image
    except ImportError:
        return None

    def decode(payload: bytes) -> tuple[int, int]:
        with Image.open(io.BytesIO(payload)) as im:
            return im.width, im.height

    return decode


def pil_image_resizer() -> Callable[[bytes, int, int], bytes] | None:
    """A Pillow-backed ``(payload, w, h) -> png bytes`` resizer, or
    None when Pillow is not importable."""
    try:
        import io

        from PIL import Image
    except ImportError:
        return None

    def resize(payload: bytes, width: int, height: int) -> bytes:
        with Image.open(io.BytesIO(payload)) as im:
            out = io.BytesIO()
            im.resize((width, height)).save(out, format="PNG")
            return out.getvalue()

    return resize

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha256", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


def decode_image(payload: bytes, fake: bool = False) -> tuple[int, int]:
    """Real decode is unavailable in this container — STUB.

    fake=True → deterministic pseudo-dimensions derived from the
    payload hash (stable across runs/engines), keeping the pipeline
    end-to-end testable."""
    if not fake:
        raise NotImplementedError(
            "image codec not available in this environment; pass fake=True "
            "or swap in PIL.Image.open at deployment"
        )
    h = hashlib.sha256(payload or b"").digest()
    return 16 + h[0] % 240, 16 + h[1] % 240


def decode_metadata(
    media: DataFrame,
    fake: bool = True,
    decoder: Callable[[bytes], tuple[int, int]] | None = None,
) -> DataFrame:
    """mapInPandas decode stage: binary payload → (size, sha256,
    dimensions). Arrow-batched; per-batch Python cost is one loop
    over payload bytes, no per-row serialization round trips.

    ``decoder`` is the codec seam: any ``bytes -> (width, height)``
    callable (e.g. ``pil_image_decoder()``) swaps in a real codec
    with zero plumbing changes; None keeps the container stub."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            if decoder is not None:
                dims = [decoder(p) for p in payloads]
            else:
                dims = [decode_image(p, fake=fake) for p in payloads]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": payloads.map(lambda p: len(p or b"")).astype("int64"),
                    "sha256": payloads.map(
                        lambda p: hashlib.sha256(p or b"").hexdigest()
                    ),
                    "width": pd.Series([d[0] for d in dims], dtype="int32"),
                    "height": pd.Series([d[1] for d in dims], dtype="int32"),
                }
            )

    return media.mapInPandas(run, DECODED_SCHEMA)


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField("payload_sha256", T.StringType()),
    ]
)


def resize_image(payload: bytes, width: int, height: int, fake: bool = False) -> bytes:
    """Real resample is unavailable in this container — STUB.

    fake=True → deterministic stand-in bytes: the ASCII hex sha256
    digest of (payload || '|WxH') — identical input bytes and target
    always produce identical output bytes, and hex-string form keeps
    downstream hashes expressible in SQL (DuckDB's sha256 only
    accepts VARCHAR, so digests must stay in hex across engines)."""
    if not fake:
        raise NotImplementedError(
            "image codec not available in this environment; pass fake=True "
            "or swap in PIL.Image.resize at deployment"
        )
    suffix = f"|{width}x{height}".encode()
    return hashlib.sha256((payload or b"") + suffix).hexdigest().encode()


def resize_stage(
    media: DataFrame,
    width: int,
    height: int,
    fake: bool = True,
    resizer: Callable[[bytes, int, int], bytes] | None = None,
) -> DataFrame:
    """mapInPandas resize: payload → target-dimension payload. The
    output keeps a binary column (real plumbing: Arrow binary both
    directions) plus its hex digest for value-level checking.

    ``resizer`` is the codec seam: any ``(bytes, w, h) -> bytes``
    callable (e.g. ``pil_image_resizer()``) replaces the stub."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if resizer is not None:
                resized = [resizer(p, width, height) for p in pdf["payload"]]
            else:
                resized = [
                    resize_image(p, width, height, fake=fake) for p in pdf["payload"]
                ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "width": pd.Series([width] * len(pdf), dtype="int32"),
                    "height": pd.Series([height] * len(pdf), dtype="int32"),
                    "payload": resized,
                    "payload_sha256": [
                        hashlib.sha256(r).hexdigest() for r in resized
                    ],
                }
            )

    return media.mapInPandas(run, RESIZED_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_sha256", T.StringType()),
        T.StructField("n_frame_chars", T.IntegerType()),
    ]
)


def sample_frames(
    media: DataFrame, frame_chars: int = 256, every: int = 2
) -> DataFrame:
    """mapInPandas frame sampler — the video shape: one input payload
    fans out to MANY output rows (every ``every``-th fixed-length
    frame), demonstrating n:m batch output through Arrow. Frames here
    are character slices of the UTF-8 payload (a real codec would
    slice the container's frame index instead — same plumbing)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [],
                "frame_idx": [],
                "frame_sha256": [],
                "n_frame_chars": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                text = bytes(payload or b"").decode("utf-8")
                for idx in range(0, -(-len(text) // frame_chars), every):
                    frame = text[idx * frame_chars : (idx + 1) * frame_chars]
                    out["media_id"].append(mid)
                    out["frame_idx"].append(idx)
                    out["frame_sha256"].append(
                        hashlib.sha256(frame.encode()).hexdigest()
                    )
                    out["n_frame_chars"].append(len(frame))
            if not out["media_id"]:
                continue
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                    "frame_sha256": pd.Series(out["frame_sha256"], dtype="object"),
                    "n_frame_chars": pd.Series(out["n_frame_chars"], dtype="int32"),
                }
            )

    return media.mapInPandas(run, FRAME_SCHEMA)


FEATURE_DIM = 8

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def extract_features(
    media: DataFrame,
    dim: int = FEATURE_DIM,
    encoder: Callable[[bytes], list[float]] | None = None,
) -> DataFrame:
    """mapInPandas feature extractor: payload → dim-float embedding
    (digest bytes / 255 — a deterministic stand-in for a real image
    encoder; the output contract array<double> is what an encoder
    swap would keep).

    ``encoder`` is the codec seam: any ``bytes -> list[float]``
    callable (a real image/audio embedding model) replaces the
    digest stand-in."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if encoder is not None:
                feats = [encoder(p or b"") for p in pdf["payload"]]
            else:
                feats = [
                    [
                        b / 255.0
                        for b in hashlib.sha256(p or b"").digest()[:dim]
                    ]
                    for p in pdf["payload"]
                ]
            yield pd.DataFrame({"media_id": pdf["media_id"], "feature": feats})

    return media.mapInPandas(run, FEATURE_SCHEMA)


PHASH_BLOCKS = 65  # 65 blocks -> 64 adjacent-difference bits
PHASH_BANDS = 8  # 8 bands x 8 bits

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("sig", T.ArrayType(T.IntegerType())),
    ]
)


def phash_signature(
    media: DataFrame,
    stat: Callable[[bytes], list[int]] | None = None,
) -> DataFrame:
    """Perceptual difference-hash (dHash) signature of each payload:
    split the decoded payload into ``PHASH_BLOCKS`` equal blocks,
    take each block's code-point sum as its "brightness", emit bit j
    = (block_j > block_j+1), and pack the 64 bits into 8 byte-sized
    band values (``sig: array<int>``, each 0..255). Adjacent-block
    comparison (dHash) captures local texture, which discriminates
    far better than a global-mean bit (aHash) on homogeneous
    corpora — measured on this corpus: 22/22 flagged pairs true
    near-dups at hamming ≤ 7 vs ~250 false hamming-0 collisions for
    the aHash form.

    ``stat`` is the codec seam: a real deployment passes a
    ``payload-bytes -> PHASH_BLOCKS block-brightness ints`` callable
    (decoded pixel-row means); the default decodes UTF-8 chars and
    sums code points — deterministic, so the whole Arrow hop is
    SQL-restatable and value-checked."""

    def default_stat(text: str) -> list[int]:
        bl = max(1, -(-len(text) // PHASH_BLOCKS))
        return [
            sum(ord(ch) for ch in text[i * bl : (i + 1) * bl])
            for i in range(PHASH_BLOCKS)
        ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sigs = []
            for payload in pdf["payload"]:
                if stat is not None:
                    cnts = stat(bytes(payload or b""))
                else:
                    cnts = default_stat(
                        bytes(payload or b"").decode("utf-8")
                    )
                bits = [
                    1 if cnts[i] > cnts[i + 1] else 0
                    for i in range(PHASH_BLOCKS - 1)
                ]
                sigs.append(
                    [
                        sum(bits[k * 8 + j] << j for j in range(8))
                        for k in range(PHASH_BANDS)
                    ]
                )
            yield pd.DataFrame({"media_id": pdf["media_id"], "sig": sigs})

    return media.mapInPandas(run, PHASH_SCHEMA)


def from_documents(documents: DataFrame) -> DataFrame:
    """Derive a media table from the text corpus (payload =
    UTF-8-encoded text) — the deterministic stand-in for real image
    bytes used by tests and the oracle-checked plan."""
    return documents.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
        F.lit("image/fake").alias("media_type"),
        F.struct(
            F.length("text").cast("long").alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )
