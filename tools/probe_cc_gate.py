"""Probe (r12 verdict item 6): CC_DRIVER_MAX_EDGES crossover — time
the driver union-find fast path vs the distributed min-label loop on
synthetic pair graphs near the gate (2^15..2^19 edge rows), one warm
session, interleaved. The graph shape mimics dup clusters (many
small components): each vertex links to its 4-group's minimum, so
components are 4-vertex stars of diameter 2 — the near-clique shape
real dup graphs have (and the regime where the iterative loop
converges in 2-3 rounds, so its timings are honest).

    python tools/probe_cc_gate.py
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from hive_hdfs_practise_spark.dedup.clusters import (  # noqa: E402
    connected_components,
)
from hive_hdfs_practise_spark.session import get_spark  # noqa: E402


def pair_graph(spark, n_pairs: int):
    """n_pairs rows over ~n_pairs vertices in disjoint 4-vertex
    star components (each vertex → its group minimum; the group-min
    self-edge is a harmless no-op union)."""
    return (
        spark.range(n_pairs)
        .select(
            F.col("id").alias("doc_a"),
            (F.col("id") - F.pmod(F.col("id"), F.lit(4))).alias("doc_b"),
        )
        .localCheckpoint(eager=True)  # exclude generation from timings
    )


def main() -> None:
    spark = get_spark("probe-cc-gate")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    for log2 in (15, 16, 17, 18, 19):
        n = 1 << log2
        pairs = pair_graph(spark, n)
        rows: dict[str, list[float]] = {"driver-uf": [], "iterative": []}
        for _ in range(2):
            t0 = time.time()
            n_uf = connected_components(pairs).count()
            rows["driver-uf"].append(time.time() - t0)
            t0 = time.time()
            # explicit max_iter pins the distributed loop (same output
            # on this shape: component diameter 2 < 20)
            n_it = connected_components(pairs, max_iter=20).count()
            rows["iterative"].append(time.time() - t0)
            assert n_uf == n_it, (n_uf, n_it)
        print(
            f"2^{log2} pair rows: driver-uf best "
            f"{min(rows['driver-uf']):6.2f}s  iterative best "
            f"{min(rows['iterative']):6.2f}s   "
            f"({'/'.join(f'{t:.2f}' for t in rows['driver-uf'])} vs "
            f"{'/'.join(f'{t:.2f}' for t in rows['iterative'])})",
            flush=True,
        )


if __name__ == "__main__":
    main()
