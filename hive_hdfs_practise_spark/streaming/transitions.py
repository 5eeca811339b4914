"""Stateful streaming first-order transition extraction — the
streaming twin of ``plans/events.py::events_transition_matrix``'s
lead() window.

State per user is the ONE register a Markov-chain builder needs:
the user's latest event (its event time, id, and type). Each
trigger's rows for the user sort by (ts, event_id) and chain onto
the carried last event, emitting one (from_type, to_type) row per
consecutive pair — so the transition that STRADDLES a micro-batch
boundary is emitted exactly once, by the later batch (the
multi-trigger split test pins this). Counting and row-normalizing
the emitted pairs is a plain aggregate downstream.

Determinism contract (same as the other stateful twins): exact
equality with the batch lead() needs each user's rows to arrive in
event-time order ACROSS triggers — guaranteed on the bounded
availableNow runs the driver and tests use; a live deployment
would put a watermark + sort buffer in front.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .state import keyed_state

TRANSITION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("from_type", T.StringType()),
        T.StructField("to_type", T.StringType()),
    ]
)

TRANSITION_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("last_event_id", T.LongType()),
        T.StructField("last_type", T.StringType()),
    ]
)


def _transitions(key: tuple, rows: pd.DataFrame, state: tuple):
    (user_id,) = key
    last_ts_us, last_event_id, last_type = state
    rows = rows.sort_values(["ts", "event_id"])
    if last_ts_us is not None:
        head = rows.iloc[0]
        head_key = (int(head["ts"].value // 1000), int(head["event_id"]))
        if head_key < (last_ts_us, last_event_id):
            # the in-order contract (docstring) was violated: chaining
            # would silently emit a backwards (from, to) pair — fail loudly
            raise ValueError(
                f"out-of-order micro-batch for user {user_id}: "
                f"incoming {head_key} < carried ({last_ts_us}, {last_event_id})"
            )
    # vectorized chaining: within the batch, from = shift(to); the
    # carried state fills the first slot (the per-row python loop it
    # replaced measured 58 s vs 24 s at the 40x corpus)
    to_type = rows["event_type"].to_numpy()
    from_type = rows["event_type"].shift(1).to_numpy(dtype=object)
    from_type[0] = last_type
    mask = pd.notna(from_type)
    tail = rows.iloc[-1]
    new = (int(tail["ts"].value // 1000), int(tail["event_id"]), str(tail["event_type"]))
    if not mask.any():
        return new, []
    return new, pd.DataFrame(
        {"user_id": user_id, "from_type": from_type[mask], "to_type": to_type[mask]}
    )


def transition_pairs(events: DataFrame) -> DataFrame:
    """events(user_id, event_id, ts, event_type) stream → stream of
    consecutive (from_type, to_type) pairs per user."""
    return keyed_state(
        events,
        ["user_id"],
        _transitions,
        TRANSITION_OUTPUT_SCHEMA,
        TRANSITION_STATE_SCHEMA,
        (None, None, None),
    )
