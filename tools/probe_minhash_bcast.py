"""Probe (r12 verdict item 4): the saturating-vocab broadcast-join
signature formulation for the MinHash family vs the production
explode + 128-slot agg. Interleaved A/B in one warm session.

Variant AGG (production, `minhash_signature_from_text`): explode
shingle positions -> per-instance base hash -> 128 min((a·h+b)%P)
aggregates.

Variant BCAST: explode shingle positions -> distinct shingles
(saturates at ~2k on this corpus) -> per-DISTINCT-shingle 128-value
permuted array (one small pass) -> broadcast-join the array back to
the instance stream -> 128 plain min(element_at(hs, i)) aggregates.
No interpreted lambda, no extra corpus shuffle; the per-instance
work trades 128 multiply-mods (and the base hash) for one broadcast
hash probe + 128 array reads.

    python tools/probe_minhash_bcast.py [sf_dir] [n_rounds]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from hive_hdfs_practise_spark import plans  # noqa: E402,F401
from hive_hdfs_practise_spark.dedup.minhash import (  # noqa: E402
    P32,
    _COEFFS,
    minhash_signature_from_text,
    shingle_hash,
)
from hive_hdfs_practise_spark.plans.constants import (  # noqa: E402
    N_PERM,
    SHINGLE_K,
)
from hive_hdfs_practise_spark.session import get_spark  # noqa: E402
from hive_hdfs_practise_spark.sources.catalog import wide_table  # noqa: E402

DOWNSAMPLE = 4


def _force(df):
    # read EVERY signature slot (Catalyst prunes unread agg columns)
    return df.agg(
        F.sum(F.expr("aggregate(sig, 0L, (a, x) -> a + x)"))
    ).collect()[0][0]


def sig_agg(d, family):
    return minhash_signature_from_text(
        d, ["doc_id"], "text", SHINGLE_K, N_PERM,
        downsample=DOWNSAMPLE, family=family,
    )


def sig_bcast(spark, d, family):
    n = F.length("text") - F.lit(SHINGLE_K - 1)
    inst = d.where(n >= 1).select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), n)).alias("_i"),
        "text",
    ).select(
        "doc_id",
        F.expr(f"substring(text, _i, {SHINGLE_K})").alias("s"),
    )
    h = shingle_hash(F.col("s"), family)
    ht = (
        inst.select("s").distinct()
        .select("s", h.alias("h"))
        .filter(F.pmod("h", F.lit(DOWNSAMPLE)) == 0)
        .select(
            "s",
            F.array(
                *[
                    (F.col("h") * F.lit(a) + F.lit(b)) % F.lit(P32)
                    for a, b in _COEFFS[:N_PERM]
                ]
            ).alias("hs"),
        )
    )
    joined = inst.join(F.broadcast(ht), "s")
    agg = joined.groupBy("doc_id").agg(
        *[
            F.min(F.element_at("hs", i + 1)).alias(f"_m{i}")
            for i in range(N_PERM)
        ]
    )
    return agg.select(
        "doc_id",
        F.array(*[F.col(f"_m{i}") for i in range(N_PERM)]).alias("sig"),
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    family = sys.argv[3] if len(sys.argv) > 3 else "xxhash"
    spark = get_spark("probe-minhash-bcast")
    spark.sparkContext.setLogLevel("ERROR")
    plans.QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
    d = wide_table(spark, sf_dir, "documents").select("doc_id", "text")

    # value parity first (non-sentinel docs; the bcast form has no
    # NULL-marker row for empty docs — production would keep it)
    a = {r[0]: list(r[1]) for r in sig_agg(d, family).collect()}
    b = {r[0]: list(r[1]) for r in sig_bcast(spark, d, family).collect()}
    common = set(a) & set(b)
    mism = [k for k in common if a[k] != b[k]]
    print(f"parity: {len(common)} common docs, {len(mism)} mismatched, "
          f"agg-only {len(set(a) - set(b))} (sentinel/empty docs)")

    results: dict[str, list[float]] = {"agg": [], "bcast": []}
    for _ in range(n_rounds):
        for label, build in (
            ("agg", lambda: sig_agg(d, family)),
            ("bcast", lambda: sig_bcast(spark, d, family)),
        ):
            t0 = time.time()
            _force(build())
            results[label].append(time.time() - t0)
            spark.catalog.clearCache()
    for label, ts in results.items():
        runs = "/".join(f"{t:.2f}" for t in ts)
        print(f"signatures via {label:6s} ({family}) best {min(ts):6.2f}s  ({runs})")


if __name__ == "__main__":
    main()
