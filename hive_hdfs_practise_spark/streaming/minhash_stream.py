"""Streaming MinHash-LSH near-dup screen — the ingestion-time twin
of ``plans/dedup.py::dedup_minhash_lsh`` (a 100 TB crawl pipeline
dedupes documents AS THEY ARRIVE, against everything already seen).

Shape: a stateless ``mapInPandas`` computes each arriving doc's
128-perm MinHash signature and its 16 band keys per micro-batch
(vectorized numpy over the SAME md5-nibble base hash, permutation
coefficients, downsample filter, and band-key text as the batch JVM
aggregate — bit-identical signatures, pinned by test); then
a ``keyed_state`` fold keyed by (band, shard-of-band_key) holds
the (band_key, doc_id, signature) sets of every bucket hashing into
the shard across micro-batches and emits a candidate pair whenever
an arriving doc collides with a stored same-bucket one (or another
same-bucket doc of the same batch), pre-filtered by the batch twin's
signature-agreement estimate. Downstream of the sink the candidates
are exact-Jaccard-verified against the static corpus — identical
code to the batch twin — so on bounded input the final pair set
EQUALS the batch query and carries the same value-checking oracle.

The base-hash family is PINNED to md5 (the verification family) at
every scale: the python signature builder restates it exactly; a
deployment would swap a native hash here exactly as the batch
twin's sf-gated family does.

State per shard is parallel (band_keys, ids, signatures) arrays —
signatures are needed for the agreement prefilter; buckets are
near-singleton by construction (r=8 rows/band) and the shard count
is fixed, so state rows stay bounded and FEW (the r12 verdict's 10×
finding: per-BUCKET state groups cost one Python dispatch each,
~800k at 10× — the dispatch count, not the pairing work, was 54.5 s
of the query). Signatures are carried as comma-joined strings (the
md5 band-key text idiom) to keep the state schema flat.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..dedup.minhash import P32, _COEFFS
from ..plans.constants import (
    JACCARD_THRESHOLD,
    N_BANDS,
    N_PERM,
    ROWS_PER_BAND,
    SHINGLE_K,
)
from .state import keyed_state

DOWNSAMPLE = 4  # the batch twin's winnowing factor

BANDED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("band_key", T.StringType()),
        T.StructField("sig", T.StringType()),
    ]
)

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("doc_a", T.LongType()),
        T.StructField("doc_b", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("band_keys", T.ArrayType(T.StringType())),
        T.StructField("ids", T.ArrayType(T.LongType())),
        T.StructField("sigs", T.ArrayType(T.StringType())),
    ]
)

# State groups are (band, shard-of-band_key-space), NOT (band, band_key):
# buckets are near-singleton (r=8 rows/band), so keying state by the raw
# bucket made applyInPandasWithState dispatch one Python call per BUCKET
# — ~16·n_docs groups (~800k at the 10× corpus), and the per-group
# Arrow/state-store round-trip dominated the whole query (54.5 s at 10×,
# guide §4: the boundary crossing count, not the work, was the cost).
# Sharding the band_key space hashes every bucket of a band into one of
# N_STATE_SHARDS coarse groups (16×256 = 4096 state rows at ANY corpus
# size), and the per-bucket pairing happens dict-side inside the group.
# Bucket membership is a function of (band, band_key) exactly as before,
# so the candidate set is unchanged. xxhash64 here is internal state
# partitioning, never an oracle-checked output value.
#
# Regime note (review finding): applyInPandasWithState state is
# per-group MONOLITHIC — a touched shard deserializes and rewrites its
# WHOLE row each trigger. Coarse shards are right for bulk/availableNow
# replay (the bench/driver contract: few large batches — the dispatch
# count dominated, 8× at 10×); a TRICKLE deployment (1-doc triggers
# against a large accumulated state) pays O(state/shard) per touched
# shard per trigger and would want a larger shard count, toward
# per-bucket granularity — the trade is dispatch count vs row size.
N_STATE_SHARDS = 256

_A = np.array([a for a, _ in _COEFFS[:N_PERM]], dtype=np.int64)[:, None]
_B = np.array([b for _, b in _COEFFS[:N_PERM]], dtype=np.int64)[:, None]

# Per-worker memo of shingle → md5-family hash. The K-char shingle
# vocabulary of a text corpus SATURATES (this corpus: ~2k distinct
# char-5 shingles at every sf — the bitmap-verify lesson), so after
# the first few docs nearly every lookup hits, replacing a ~2 µs
# md5+parse with a ~50 ns dict probe (guide §4.5: heavyweight work
# once per worker, amortized across tasks via worker reuse). Safe:
# md5 is deterministic, entries can never go stale. The size cap
# bounds worker RSS on a non-saturating (adversarial) vocabulary —
# past it new shingles just pay the direct computation. 2^16 is 32×
# the natural corpus's saturation point (2041 entries) while keeping
# the adversarial worst case ≈7 MB per reused worker (review note:
# 1<<20 would have pinned ~100+ MB × 32 workers on a crafted
# high-entropy corpus).
_MD5_MEMO: dict[str, int] = {}
_MD5_MEMO_MAX = 1 << 16


def _shingle_hash(sh: str) -> int:
    """md5-family base hash of one shingle, memoized.

    ``int.from_bytes(digest()[:4], 'big')`` IS the first 8 hex chars
    of the md5 parsed base-16 (same 4 bytes, same byte order) — it
    skips the hexdigest string build and the int(hex, 16) parse of
    the original form while producing the identical value (pinned by
    the existing bit-equality tests against the JVM aggregate)."""
    h = _MD5_MEMO.get(sh)
    if h is None:
        h = (
            int.from_bytes(
                hashlib.md5(sh.encode("utf-8")).digest()[:4], "big"
            )
            % P32
        )
        if len(_MD5_MEMO) < _MD5_MEMO_MAX:
            _MD5_MEMO[sh] = h
    return h


def _signature(text: str | None) -> np.ndarray | None:
    """128-slot md5-family signature of one doc, bit-identical to
    ``minhash_signature_from_text(..., downsample=4, family='md5')``:
    - len(text) < K (incl. empty/null): the all-P32 SENTINEL
      signature (the NULL-marker group of the batch aggregate);
    - >= 1 shingle but none surviving the h % 4 == 0 downsample:
      None — the doc vanishes from the signature table, exactly as
      the batch text-direct path's filtered group does;
    - else min((a_i·h + b_i) % P32) per slot over kept hashes.
    a < 2^31 and h < 2^32 keep every product inside int64."""
    s = text or ""
    if len(s) < SHINGLE_K:
        return np.full(N_PERM, P32, dtype=np.int64)
    hs = np.fromiter(
        (
            _shingle_hash(s[i : i + SHINGLE_K])
            for i in range(len(s) - SHINGLE_K + 1)
        ),
        dtype=np.int64,
    )
    kept = hs[hs % DOWNSAMPLE == 0]
    if kept.size == 0:
        return None
    return ((_A * kept[None, :] + _B) % P32).min(axis=1)


def signature_bands(pdfs: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
    """mapInPandas: (doc_id, text) → one row per (doc, band) with the
    band-key text and the comma-joined signature."""
    for pdf in pdfs:
        out: list[dict] = []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            sig = _signature(text)
            if sig is None:
                continue
            # Sentinel (all-P32) signatures — every sub-shingle-length
            # doc shares them — would collide with agreement 1.0 in
            # every band, piling O(m²) candidate pairs into each
            # bucket's state that the exact-Jaccard verify must then
            # discard (union = 0 can never pass). Skipping them before
            # banding keeps the VERIFIED pair set identical while the
            # candidate/state volume stays linear on short-doc-heavy
            # streams.
            if sig[0] == P32 and (sig == P32).all():
                continue
            sig_str = ",".join(str(int(v)) for v in sig)
            for b in range(N_BANDS):
                key = ",".join(
                    str(int(v))
                    for v in sig[b * ROWS_PER_BAND : (b + 1) * ROWS_PER_BAND]
                )
                out.append(
                    {
                        "doc_id": int(doc_id),
                        "band": b,
                        "band_key": key,
                        "sig": sig_str,
                    }
                )
        if out:
            yield pd.DataFrame(out).astype(
                {"doc_id": "int64", "band": "int32"}
            )


def _collide(key: tuple, rows: pd.DataFrame, state: tuple):
    """Per-SHARD pairing with the batch twin's agreement prefilter.
    One state group holds every bucket of its (band, shard); inside
    it, an arriving doc pairs against every doc already stored under
    ITS band_key and every earlier same-bucket arrival of its own
    batch — bucket semantics identical to the per-bucket state shape,
    just dispatched ~16·n_docs/4096 fewer times. Pairs whose
    signature-agreement estimate clears JACCARD_THRESHOLD - 0.15
    (the batch expression verbatim) emit canonicalized (min, max).
    Cross-band duplicate emissions are deduped downstream, exactly
    like the batch pipeline's distinct. Stored signatures parse
    lazily — only buckets an arrival actually hits pay the split."""
    bkeys, ids, sigs = (list(col) for col in state)
    buckets: dict[str, list[int]] = {}
    for i, bk in enumerate(bkeys):
        buckets.setdefault(bk, []).append(i)
    mats: list[np.ndarray | None] = [None] * len(ids)
    cutoff = JACCARD_THRESHOLD - 0.15
    out: list[dict] = []
    for bk, doc_id, sig_str in zip(rows["band_key"], rows["doc_id"], rows["sig"]):
        sv = np.array(sig_str.split(","), dtype=np.int64)
        members = buckets.setdefault(bk, [])
        for i in members:
            other = ids[i]
            if other == doc_id:
                continue
            om = mats[i]
            if om is None:
                om = np.array(sigs[i].split(","), dtype=np.int64)
                mats[i] = om
            est = int((sv == om).sum()) / N_PERM
            if est >= cutoff:
                a, b = sorted((int(other), int(doc_id)))
                out.append({"doc_a": a, "doc_b": b})
        members.append(len(ids))
        bkeys.append(str(bk))
        ids.append(int(doc_id))
        sigs.append(str(sig_str))
        mats.append(sv)
    return (bkeys, ids, sigs), out


def minhash_candidates(docs: DataFrame) -> DataFrame:
    """documents(doc_id, text) stream → stream of est-prefiltered
    candidate pairs (duplicates across bands/batches possible —
    distinct downstream).

    The repartition ahead of the signature map matters: a single-file
    micro-batch arrives as ONE partition, which would serialize the
    python md5 pass on one core (measured 11.1 → 5.6 s for the
    signature stage at sf0.1 with 32-way spread; at scale an
    ingestion stream is many files wide and the exchange is cheap
    insurance against stragglers)."""
    from pyspark.sql import functions as F

    banded = docs.repartition(32).mapInPandas(
        signature_bands, schema=BANDED_SCHEMA
    )
    sharded = banded.withColumn(
        "shard", F.pmod(F.xxhash64("band_key"), F.lit(N_STATE_SHARDS))
    )
    return keyed_state(
        sharded, ["band", "shard"], _collide, PAIR_SCHEMA, STATE_SCHEMA, ([], [], [])
    )
