"""Scoped SQL-conf helper for plan-shaping confs.

Some reads need session confs flipped to get the right PHYSICAL
plan (the bucketed-index probes pin
``spark.sql.sources.bucketing.autoBucketedScan.enabled=false`` so
the bucketed layout / bucket pruning is not auto-dropped; the
MinHash ingest probe turns constraint propagation and bucketed
reads off). Setting one and never restoring is a cross-query side
effect: bench and check_oracle sweeps share one session, so every
later query using bucketed tables silently planned differently (r8
advice item).

A naive set→build→restore loses the effect — the conf is consulted
when the PHYSICAL plan is materialized, not when the lazy DataFrame
is built. The fix this module provides: force ``executedPlan``
while the conf is set (planning only — no job runs), then restore.
``QueryExecution`` caches the physical plan per Dataset, so the
later action reuses the pinned plan; measured (r9): the probe scan
keeps ``SelectedBucketsCount: 2 out of 8`` after the restore while
a fresh identical query under the restored conf loses pruning.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession


def build_with_conf(
    spark: SparkSession,
    confs: dict[str, str],
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Run ``build`` with every ``key=value`` of ``confs`` set, FORCE
    the returned DataFrame's physical plan so the confs are baked in,
    then restore each prior session value (unset if it was never
    set)."""
    prior: dict[str, str | None] = {}
    for key in confs:
        try:
            prior[key] = spark.conf.get(key)
        except Exception:
            prior[key] = None
    for key, value in confs.items():
        spark.conf.set(key, value)
    try:
        df = build()
        # materialize (and thereby cache) the physical plan under
        # the scoped confs — planning only, no job is launched
        df._jdf.queryExecution().executedPlan()
        return df
    finally:
        for key, value in prior.items():
            if value is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, value)
