"""Keyed streaming state: the one ``applyInPandasWithState`` call behind
every stateful stream in the package.

A stateful stream here is a pure fold ``step(key, rows, state) ->
(state, out)``: it receives one key's rows for the trigger as one
pandas frame and the key's state tuple (``init`` for a new key), and
returns the new state tuple and its output rows, a list of dicts or a
pandas DataFrame. Everything around the fold lives here: the
state-or-init read, the state write, append output mode, the int /
long / bool output casts derived from ``out_schema``, and the
optional event-time timeout. Changing the state backend (TTL,
``transformWithStateInPandas``) is a change to this module only.

Per-group cost matters: ``transitions`` and ``patterns`` are keyed by
user, so one trigger runs thousands of groups. A single-chunk group
is passed through without a ``pd.concat``, and a DataFrame that
``step`` returns is cast only in the columns whose dtype differs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# pandas dtype of each integer / boolean Spark output type: pandas
# infers int64 for every integer column it builds from dicts
_CASTS = {T.IntegerType: "int32", T.LongType: "int64", T.BooleanType: "bool"}


def keyed_state(
    df: DataFrame,
    keys: list[str],
    step: Callable,
    out_schema: T.StructType,
    state_schema: T.StructType,
    init: tuple,
    expire_at: Callable[[tuple], int] | None = None,
) -> DataFrame:
    """Group ``df`` by ``keys`` and fold each group's rows through
    ``step`` with per-key state (see the module docstring).

    With ``expire_at``, every data call sets the key's event-time
    timeout to ``expire_at(state)`` (epoch ms, compared against the
    watermark the caller put on ``df``); when it fires, ``step`` is
    called once with ``rows=None`` and no new timeout is set."""
    casts = {
        f.name: _CASTS[type(f.dataType)]
        for f in out_schema.fields
        if type(f.dataType) in _CASTS
    }

    def fold(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterable[pd.DataFrame]:
        if state.hasTimedOut:
            new, out = step(key, None, state.get)
        else:
            frames = list(pdfs)
            rows = frames[0] if len(frames) == 1 else pd.concat(frames, ignore_index=True)
            new, out = step(key, rows, state.get if state.exists else init)
            if expire_at is not None:
                state.setTimeoutTimestamp(expire_at(new))
        state.update(new)
        if len(out):
            if not isinstance(out, pd.DataFrame):
                out = pd.DataFrame(out)
            recast = {c: t for c, t in casts.items() if out[c].dtype != t}
            yield out.astype(recast) if recast else out

    return df.groupBy(*keys).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if expire_at is None
            else GroupStateTimeout.EventTimeTimeout
        ),
    )
