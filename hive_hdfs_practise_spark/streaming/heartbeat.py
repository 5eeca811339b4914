"""Structured-Streaming heartbeat liveness monitor (SURVEY.md §2.10,
H8/H9 semantics).

Reference behavior being re-expressed: DataNodes ping every 20 s
(``Client/managers.py:22-37``); the NameNode records last-seen per
node and flips it to Dead after 25 s of silence
(``Server/managers.py:44-62``), never scheduling work to Dead nodes.

Engine form: a stateful stream over (node, event_ts) heartbeats.
State per node = last seen timestamp + beat count + current status;
a ``keyed_state`` fold emits Alive→Dead / Dead→Alive TRANSITIONS
(the actionable events the reference logs), not raw state.
Arrow-batched — the Python hop is per GROUP per trigger, not per
row. Dead fires on an event-time timeout: when the WATERMARK passes
last_seen + timeout, so the same input gives the same transitions.

The same classification rule is exposed in batch form below
(``liveness_snapshot``) and as the oracle-checked
``heartbeat_liveness`` plan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .state import keyed_state

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("node", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("last_ts", T.TimestampType()),
        T.StructField("n_beats", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("n_beats", T.LongType()),
        T.StructField("dead", T.BooleanType()),
    ]
)

# event-time slack before the watermark passes a beat; the
# stream_liveness_transitions oracle restates it as ``- 1000`` ms
WATERMARK_DELAY = "1 second"


def _track(key: tuple, rows: pd.DataFrame | None, state: tuple):
    (node,) = key
    last_us, n_beats, dead = state
    if rows is None:
        # silence past the threshold → Dead transition (ref: 25 s)
        return (last_us, n_beats, True), [_status(node, "Dead", last_us, n_beats)]
    last_us = max(last_us, int(rows["event_ts"].max().value // 1000))
    n_beats += len(rows)
    out = [_status(node, "Alive", last_us, n_beats)] if dead else []
    return (last_us, n_beats, False), out


def _status(node: str, status: str, last_us: int, n_beats: int) -> dict:
    return {
        "node": node,
        "status": status,
        "last_ts": pd.Timestamp(last_us, unit="us"),
        "n_beats": n_beats,
    }


def liveness_transitions(heartbeats: DataFrame, timeout_ms: int = 25_000) -> DataFrame:
    """heartbeats(node: string, event_ts: timestamp) → stream of
    Alive/Dead status transitions; a node is Dead once the watermark
    passes its last beat + ``timeout_ms``."""
    return keyed_state(
        heartbeats.withWatermark("event_ts", WATERMARK_DELAY),
        ["node"],
        _track,
        OUTPUT_SCHEMA,
        STATE_SCHEMA,
        (0, 0, True),
        expire_at=lambda st: st[0] // 1000 + timeout_ms,
    )


def liveness_snapshot(heartbeats: DataFrame, timeout_seconds: int = 25) -> DataFrame:
    """Batch snapshot of the same rule (shared by the
    ``heartbeat_liveness`` plan): last-seen per node vs the stream
    horizon (max ts), Dead iff silent longer than the timeout."""
    last_seen = heartbeats.groupBy("node").agg(
        F.max("event_ts").alias("last_ts"), F.count(F.lit(1)).alias("n_beats")
    )
    horizon = heartbeats.agg(F.max("event_ts").alias("now_ts"))
    silent = F.col("last_ts") < F.col("now_ts") - F.expr(
        f"INTERVAL {timeout_seconds} SECONDS"
    )
    return last_seen.join(F.broadcast(horizon)).select(
        "node",
        "last_ts",
        "n_beats",
        F.when(silent, F.lit("Dead")).otherwise(F.lit("Alive")).alias("status"),
    )
