"""Probe (r13): exact_jaccard_pairs' threshold filter was pushed into
the candidate join CONDITION with the shingle-build expression
inlined ~5x per side (plans/r13/dedup_cross_source_matrix_before.txt
line 247). A/B the OLD inlined form (restated verbatim here — the
production function has since been rewritten, so both variants live
in this file, the probe_cc_edges convention) vs the
Generate-materialized rewrite (explode(array(struct(...))) makes
shingle arrays and the intersect counts real attributes — the r7
dedup_semdedup trick) in one warm session over the dedup_minhash_lsh
candidate stream.

    python tools/probe_verify_inline.py [sf_dir] [n_rounds]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parents[1])
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from hive_hdfs_practise_spark import plans  # noqa: E402,F401
from hive_hdfs_practise_spark.dedup import minhash as mh  # noqa: E402
from hive_hdfs_practise_spark.functions import text as tx  # noqa: E402
from hive_hdfs_practise_spark.plans.constants import (  # noqa: E402
    JACCARD_THRESHOLD,
    N_BANDS,
    N_PERM,
    ROWS_PER_BAND,
    SHINGLE_K,
)
from hive_hdfs_practise_spark.plans.dedup import (  # noqa: E402
    _est_prefilter,
)
from hive_hdfs_practise_spark.session import get_spark  # noqa: E402
from hive_hdfs_practise_spark.sources.catalog import wide_table  # noqa: E402


def exact_jaccard_pairs_inlined(cand, docs):
    """The PRE-r13 production form, restated verbatim: jaccard is an
    alias over the raw shingle expressions, so the threshold filter
    pushes into the join condition with everything inlined."""
    txt_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    txt_b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    sh_a = tx.char_shingles(F.col("text_a"), SHINGLE_K)
    sh_b = tx.char_shingles(F.col("text_b"), SHINGLE_K)
    n_inter = F.size(F.array_intersect(sh_a, sh_b))
    n_union = F.size(sh_a) + F.size(sh_b) - n_inter
    jac = F.when(n_union > 0, F.round(n_inter.cast("double") / n_union, 6))
    return (
        cand.join(txt_a, "doc_a")
        .join(txt_b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def exact_jaccard_pairs_gen(cand, docs):
    """Generate-materialized variant: shingle arrays, then the
    intersect/union counts, become attributes before any filter."""
    txt_a = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    txt_b = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    sh_a = tx.char_shingles(F.col("text_a"), SHINGLE_K)
    sh_b = tx.char_shingles(F.col("text_b"), SHINGLE_K)
    j = cand.join(txt_a, "doc_a").join(txt_b, "doc_b")
    sh = j.select(
        "doc_a",
        "doc_b",
        F.explode(
            F.array(F.struct(sh_a.alias("a"), sh_b.alias("b")))
        ).alias("_sh"),
    )
    counted = sh.select(
        "doc_a",
        "doc_b",
        F.explode(
            F.array(
                F.struct(
                    F.size(F.array_intersect("_sh.a", "_sh.b")).alias("ni"),
                    (F.size("_sh.a") + F.size("_sh.b")).alias("sab"),
                )
            )
        ).alias("_c"),
    )
    jac = F.when(
        (F.col("_c.sab") - F.col("_c.ni")) > 0,
        F.round(
            F.col("_c.ni").cast("double") / (F.col("_c.sab") - F.col("_c.ni")), 6
        ),
    )
    return (
        counted.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark("probe-verify-inline")
    spark.sparkContext.setLogLevel("ERROR")
    plans.QUERIES["q1_pricing_summary"](spark, sf_dir).collect()
    family = mh.minhash_family(sf_dir)
    docs = wide_table(spark, sf_dir, "documents")
    d = docs.select("doc_id", "text")

    def cand_stream():
        sigs = mh.minhash_signature_from_text(
            d, ["doc_id"], "text", SHINGLE_K, N_PERM, downsample=4, family=family
        ).localCheckpoint(eager=True)
        live = sigs.filter(F.element_at("sig", 1) != mh.P32)
        cand = mh.lsh_candidate_pairs(live, N_BANDS, ROWS_PER_BAND, family=family)
        return _est_prefilter(cand, sigs)

    # value parity
    cand = cand_stream()
    a = {(r[0], r[1], r[2]) for r in exact_jaccard_pairs_inlined(cand, docs).collect()}
    b = {(r[0], r[1], r[2]) for r in exact_jaccard_pairs_gen(cand, docs).collect()}
    print(f"parity: {len(a)} pairs current, {len(b)} gen, equal={a == b}")

    results: dict[str, list[float]] = {"current": [], "generate": []}
    for _ in range(n_rounds):
        for label, fn in (
            ("current", exact_jaccard_pairs_inlined),
            ("generate", exact_jaccard_pairs_gen),
        ):
            c = cand_stream()  # rebuild so both variants pay the same front end
            t0 = time.time()
            fn(c, docs).write.format("noop").mode("overwrite").save()
            results[label].append(time.time() - t0)
            spark.catalog.clearCache()
    for label, ts in results.items():
        runs = "/".join(f"{t:.2f}" for t in ts)
        print(f"verify via {label:9s} best {min(ts):6.2f}s  ({runs})")


if __name__ == "__main__":
    main()
