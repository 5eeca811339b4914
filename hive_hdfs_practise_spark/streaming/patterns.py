"""Stateful streaming row-pattern recognition (MATCH_RECOGNIZE
``click (view)* purchase`` with measures) — the streaming twin of
``plans/events.py::events_pattern_browse_buy``.

State per user is the automaton's ONLY live register: whether a
click is pending, its timestamp, and the view count / integer
micro-unit view-value accumulated since (the same exact-integer
measure design as the batch twin — float accumulation across
micro-batches would drift). Each trigger's rows for a user are
sorted by (ts, event_id) and folded through the automaton; a match
emits on the purchase row and clears the pending click (AFTER MATCH
SKIP PAST LAST ROW), any other non-view row clears it too.

Determinism contract (same as the other stateful twins): exact
equality with the batch query needs each user's rows to arrive in
event-time order ACROSS triggers — guaranteed on the bounded
single-batch availableNow runs the driver and tests use; a live
deployment feeding out-of-order data would put a watermark + sort
buffer in front (the standard sessionization pre-stage).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .state import keyed_state

PATTERN_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("end_event_id", T.LongType()),
        T.StructField("match_start_ts", T.TimestampType()),
        T.StructField("match_end_ts", T.TimestampType()),
        T.StructField("n_views", T.IntegerType()),
        T.StructField("views_value", T.DoubleType()),
        T.StructField("duration_us", T.LongType()),
    ]
)

PATTERN_STATE_SCHEMA = T.StructType(
    [
        T.StructField("has_click", T.BooleanType()),
        T.StructField("click_ts_us", T.LongType()),
        T.StructField("n_views", T.LongType()),
        T.StructField("views_vmicro", T.LongType()),
    ]
)


def _match(key: tuple, rows: pd.DataFrame, state: tuple):
    (user_id,) = key
    has_click, click_us, n_views, vmicro = state
    out: list[dict] = []
    rows = rows.sort_values(["ts", "event_id"])
    for ts, event_id, etype, value in zip(
        rows["ts"], rows["event_id"], rows["event_type"], rows["value"]
    ):
        ts_us = int(ts.value // 1000)
        if etype == "view":
            if has_click:
                n_views += 1
                # HALF-AWAY-FROM-ZERO, matching Spark F.round / DuckDB
                # round in the batch twin and shared oracle — Python's
                # built-in round() is banker's (half-to-even) and would
                # diverge on exact .5 micro-products
                # NULL view values arrive as NaN in the pandas batch;
                # the batch twin's F.round(value*1e6) null-propagates
                # and its windowed SUM skips nulls — mirror that as a
                # 0 contribution (math.floor(NaN) would raise and kill
                # the stream)
                if value is None or value != value:
                    continue
                v = value * 1_000_000
                vmicro += int(math.floor(v + 0.5)) if v >= 0 else -int(
                    math.floor(-v + 0.5)
                )
        elif etype == "purchase":
            if has_click:
                out.append(
                    {
                        "user_id": user_id,
                        "end_event_id": event_id,
                        "match_start_ts": pd.Timestamp(click_us, unit="us"),
                        "match_end_ts": pd.Timestamp(ts_us, unit="us"),
                        "n_views": int(n_views),
                        "views_value": round(vmicro / 1_000_000.0, 6),
                        "duration_us": ts_us - click_us,
                    }
                )
            has_click, click_us, n_views, vmicro = False, 0, 0, 0
        elif etype == "click":
            has_click, click_us, n_views, vmicro = True, ts_us, 0, 0
        else:  # signup / error: abandon any pending prefix
            has_click, click_us, n_views, vmicro = False, 0, 0, 0
    return (has_click, click_us, n_views, vmicro), out


def browse_buy_matches(events: DataFrame) -> DataFrame:
    """events(user_id, event_id, ts, event_type, value) stream →
    stream of completed click (view)* purchase matches with
    measures."""
    return keyed_state(
        events,
        ["user_id"],
        _match,
        PATTERN_OUTPUT_SCHEMA,
        PATTERN_STATE_SCHEMA,
        (False, 0, 0, 0),
    )
