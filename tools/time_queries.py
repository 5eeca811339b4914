"""Best-of-N timer for individual registered queries — the ad-hoc
measurement companion to bench.py (same warm-ups, same collect
action, same clearCache discipline) for before/after comparisons
during optimization work without paying a full-suite run.

    N_RUNS=3 python tools/time_queries.py name [name...]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from hive_hdfs_practise_spark import plans  # noqa: E402
from hive_hdfs_practise_spark.session import get_spark  # noqa: E402

N_RUNS = int(os.environ.get("N_RUNS", "2"))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    # bench.py's warm-ups: JVM/codegen, Arrow worker pool, streaming
    plans.QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
    spark.range(64).repartition(8).mapInPandas(lambda it: it, "id long").collect()
    if any(n.startswith("stream_") for n in names):
        plans.QUERIES["stream_dedup_keys"](spark, sf_dir).collect()
    for name in names:
        fn = plans.QUERIES[name]
        runs = []
        for _ in range(N_RUNS):
            t0 = time.time()
            fn(spark, sf_dir).collect()
            runs.append(time.time() - t0)
            spark.catalog.clearCache()
        runs_s = "/".join(f"{r:.2f}" for r in runs)
        print(f"{name:45s} best {min(runs):6.2f}s  ({runs_s})")


if __name__ == "__main__":
    main()
