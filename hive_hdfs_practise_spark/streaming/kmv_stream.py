"""Streaming KMV (k-minimum-values) distinct-count sketch — the
streaming twin of ``plans/distinct.py::events_kmv_distinct_users``'s
estimate column, and the canonical MERGEABLE-sketch demo: the min-K
set of a union is the min-K of the merged min-K sets, so per-key
state is K doubles regardless of stream length, and the estimate
after the last micro-batch equals the batch sketch exactly.

Shape: the (0,1] md5 hash is computed by the SAME JVM expression the
batch twin uses (a stateless streaming select — bit-identical
doubles); a ``keyed_state`` fold keyed by event_type merges each
batch's hashes into the sorted min-K state and emits the running
(n_state, h_k) per touched key with an update counter; downstream of
the sink the LAST emission per key wins (max_by on the counter) and
the estimate + rounding are computed by ENGINE expressions (python
round is half-even — rounding in the state function would diverge
from Spark/DuckDB HALF_UP).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .state import keyed_state

KMV_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("upd", T.LongType()),
        T.StructField("n_state", T.LongType()),
        T.StructField("hk", T.DoubleType()),
    ]
)

KMV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("hvs", T.ArrayType(T.DoubleType())),
        T.StructField("upd", T.LongType()),
    ]
)


def kmv_running_state(hashed: DataFrame, k: int) -> DataFrame:
    """hashed(event_type, hv) stream → stream of per-key running
    sketch snapshots (one per touched key per micro-batch)."""

    def merge(key, rows, state):
        (event_type,) = key
        hvs, upd = state
        merged = sorted(set(hvs).union(float(v) for v in rows["hv"]))[:k]
        out = {
            "event_type": event_type,
            "upd": upd + 1,
            "n_state": len(merged),
            "hk": merged[k - 1] if len(merged) >= k else None,
        }
        return (merged, upd + 1), [out]

    return keyed_state(
        hashed, ["event_type"], merge, KMV_OUT_SCHEMA, KMV_STATE_SCHEMA, ([], 0)
    )
