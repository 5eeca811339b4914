"""SparkSession factory.

Local-mode defaults mirror how the driver runs us (``local[32]``,
single JVM) while every config is chosen to also make sense on a
1000-executor cluster: AQE on (runtime re-plan, skew-join handling,
partition coalescing), Arrow on (Pandas UDF fast path), UTC session
timezone (determinism), and shuffle partitions sized to cores rather
than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    """Local cores: ``SPARK_GRAFT_CPUS`` if set and non-empty, else the
    host's. A value that is not a positive integer raises: ``0`` would
    start ``local[0]`` with 0 shuffle partitions, and a typo would
    silently run on every core."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "")
    if not raw:
        return os.cpu_count() or 4
    if not raw.isdigit() or int(raw) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return int(raw)


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Driver heap default: min(24g, half of physical memory).

    In local mode the driver heap IS the executor heap for all N worker
    threads. 8g gave each of 32 concurrent tasks ~250MB — the
    40x-scale candidate-join sort OOMed exactly there — so a large host
    gets 24g; a heap past physical memory lets the kernel kill the JVM
    instead, so a small host gets half of what it has."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(24, phys_bytes // 2 // 2**30))}g"


def get_spark(
    app_name: str = "hive_hdfs_practise_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    On a real cluster the master/memory settings come from
    spark-submit; everything set here is cluster-agnostic except the
    local master fallback.
    """
    cpus = cpu_count()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # default 100 silently disables whole-stage codegen for any
        # operator with >100 output fields — the 128-column MinHash
        # signature aggregate loses fused execution exactly where it
        # hurts most (measured 6.7s -> 4.7s at sf0.1 on that stage)
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # a real cluster gives 4-8GB per few cores; SPARK_DRIVER_MEM
        # overrides the host-derived local default
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory(),
        )
    )
    # Only force a local master when none is configured (spark-submit on a
    # cluster sets one; tests/bench get local[N]).
    if not os.environ.get("SPARK_MASTER") and "spark.master" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
