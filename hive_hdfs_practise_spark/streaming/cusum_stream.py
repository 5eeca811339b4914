"""Streaming CUSUM burst detection — the streaming twin of
``plans/events.py::events_rate_cusum`` (the r11 18th twin): per
event_type, the one-sided CUSUM statistic s_h = max(0, s_{h-1} +
(c_h − K)) over the DENSE hour grid, emitting the hours where it
exceeds H.

Shape: hour buckets are computed by a stateless engine expression
(date_trunc-equivalent epoch-hour longs — identical to the batch
twin's grid key in any session timezone with whole-hour offset);
``a ``keyed_state`` fold keyed by event_type carries (open_h, cs,
mn, pend) — the first NOT-YET-FINALIZED hour, the running sum of
(n − K) and its prefix minimum through the last finalized hour, and
the open hour's accumulated count. An hour is finalized only when a
LATER hour arrives (so an hour whose events span a micro-batch
boundary is counted completely — the r11 review's undercount class)
or by the post-sink finalizer at stream end. All state arithmetic is
Python ints == engine integers (counts and K are integers — no
rounding surface). Detections for finalized hours emit immediately;
each batch also emits one per-type STATE SNAPSHOT row
(upd-countered, the kmv_stream pattern) so the post-sink batch
transform can close the open hour and extend the chain through the
TRAILING empty hours up to the global grid end — closed form,
because trailing cs decreases linearly after the open hour (see
plans/streaming_plans.py::cusum_finalize).

Bounded-twin contract (same as the other 17): hours must arrive
non-decreasing per type ACROSS micro-batches (one availableNow batch
— the certification regime — trivially satisfies this; the
multi-trigger tests split on and INSIDE an hour). Events for hours
already finalized (a contract violation) are dropped, never
double-counted, and the open-hour pointer never moves backward —
and the DROP IS OBSERVABLE: the cumulative dropped-event count rides
the state and every snapshot row's ``stale`` column (r11 advice), so
a mis-ordered source shows up in the audit output instead of
silently diverging from the batch twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .state import keyed_state

CUSUM_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("eh", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("cusum", T.LongType()),
        T.StructField("pend", T.LongType()),
        T.StructField("upd", T.LongType()),
        T.StructField("stale", T.LongType()),
        T.StructField("is_state", T.BooleanType()),
    ]
)

CUSUM_STATE_SCHEMA = T.StructType(
    [
        T.StructField("open_h", T.LongType()),
        T.StructField("cs", T.LongType()),
        T.StructField("mn", T.LongType()),
        T.StructField("pend", T.LongType()),
        T.StructField("upd", T.LongType()),
        T.StructField("stale", T.LongType()),
    ]
)


def cusum_running_state(
    ehs: DataFrame, h0: int, k: int, thresh: int
) -> DataFrame:
    """ehs(event_type, eh) stream → detections + per-batch state
    snapshots (see module docstring)."""

    def walk(key, rows, state):
        (event_type,) = key
        open_h, cs, mn, pend, upd, stale = state
        # vectorized per-batch hour histogram (a Python per-event
        # loop was the stream's hot path)
        counts = {int(h): int(c) for h, c in rows["eh"].value_counts().items()}
        out = []
        # events for hours BEFORE the open hour violate the source's
        # monotone-hour contract; count them so a mis-ordered source
        # is observable in the snapshot row instead of silently
        # diverging from the batch twin
        stale += sum(c for h, c in counts.items() if h < open_h)
        maxh = max(counts, default=open_h)  # null-ts rows have no hour
        if maxh > open_h:
            # finalize open_h .. maxh-1; maxh stays open
            counts[open_h] = counts.get(open_h, 0) + pend
            for h in range(open_h, maxh):
                n = counts.get(h, 0)
                cs += n - k
                mn = min(mn, cs)
                cusum = cs - min(mn, 0)
                if cusum > thresh:
                    out.append(
                        {
                            "event_type": event_type,
                            "eh": h,
                            "n": n,
                            "cusum": cusum,
                            "pend": 0,
                            "upd": upd + 1,
                            "stale": stale,
                            "is_state": False,
                        }
                    )
            pend = counts.get(maxh, 0)
            open_h = maxh
        else:
            # everything lands in (or before — dropped) the open hour;
            # the pointer never moves backward
            pend += counts.get(open_h, 0)
        upd += 1
        # snapshot row: eh carries open_h, n carries cs, cusum carries
        # mn, pend carries the open hour's count so far (documented
        # column reuse — cusum_finalize is the only reader)
        out.append(
            {
                "event_type": event_type,
                "eh": open_h,
                "n": cs,
                "cusum": mn,
                "pend": pend,
                "upd": upd,
                "stale": stale,
                "is_state": True,
            }
        )
        return (open_h, cs, mn, pend, upd, stale), out

    return keyed_state(
        ehs,
        ["event_type"],
        walk,
        CUSUM_OUT_SCHEMA,
        CUSUM_STATE_SCHEMA,
        (h0, 0, 0, 0, 0, 0),
    )
