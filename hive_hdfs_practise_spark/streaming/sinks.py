"""foreachBatch sinks: streaming writes that compose the engine's
batch operators.

The MERGE sink below applies ``operators/upsert.py`` per
micro-batch: the stream's keep-latest state lives in a parquet
table that each batch merges into. foreachBatch hands the engine a
BATCH DataFrame per trigger, so the full batch operator library
(upsert, partitioned writes, broadcast joins) is available inside a
streaming query — the standard pattern for sinks Structured
Streaming doesn't ship natively. Batch ids are monotonic and replay
on failure; the merge is idempotent per batch (same keys + versions
produce the same state), which is what makes the sink effectively
exactly-once on top of the engine's at-least-once replay.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.upsert import upsert
from .windows import run_foreach_batch

UPSERT_KEYS = ["user_id", "event_type"]


def run_upsert_stream(
    stream: DataFrame, state_dir: str, checkpoint_dir: str
) -> None:
    """Drive ``stream`` (event rows) to completion with
    Trigger.availableNow, merging every micro-batch into the parquet
    state table at ``state_dir`` (keep-latest per UPSERT_KEYS,
    version = (ts, event_id)). Micro-batch granularity is the
    SOURCE's concern — build the stream with
    ``option("maxFilesPerTrigger", 1)`` to force one batch per file
    (tests do, to exercise multi-batch merging)."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        b = batch_df.withColumn("_ver", F.struct("ts", "event_id"))
        if os.path.exists(state_dir):
            # materialize the current state BEFORE overwriting its files
            base = (
                sess.read.parquet(state_dir)
                .withColumn("_ver", F.struct("ts", "event_id"))
                .localCheckpoint(eager=True)
            )
        else:
            base = b.limit(0)
        merged = upsert(base, b, UPSERT_KEYS, "_ver").drop("_ver")
        merged.write.mode("overwrite").parquet(state_dir)

    run_foreach_batch(stream, apply_batch, "upsert_stream", checkpoint_dir)
