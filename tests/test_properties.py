"""Property-based tests (hypothesis): MinHash unbiasedness, as-of
join vs pandas merge_asof, quality-score totality.

Each property runs one Spark job over a batch of generated cases
(cases as rows, not one job per case — Spark startup would dwarf
the test otherwise).
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from hive_hdfs_practise_spark.dedup.minhash import SHINGLE_K, minhash_signature_from_text
from hive_hdfs_practise_spark.functions import text as tx
from hive_hdfs_practise_spark.operators.asof import asof_join

WORDS = ["spark", "shuffle", "join", "scan", "agg", "hash", "sort", "row", "col", "key"]


@st.composite
def doc_pair(draw):
    base = draw(st.lists(st.sampled_from(WORDS), min_size=8, max_size=30))
    # mutate a copy: replace up to half the tokens
    n_edit = draw(st.integers(0, len(base) // 2))
    other = list(base)
    for _ in range(n_edit):
        i = draw(st.integers(0, len(other) - 1))
        other[i] = draw(st.sampled_from(WORDS))
    return " ".join(base), " ".join(other)


class TestMinhashEstimate:
    @settings(max_examples=10, deadline=None)
    @given(pair=doc_pair())
    def test_signature_agreement_tracks_jaccard(self, spark, pair):
        a, b = pair
        df = spark.createDataFrame([(0, a), (1, b)], "doc_id LONG, text STRING")
        sh = df.select("doc_id", tx.char_shingles(F.col("text"), SHINGLE_K).alias("shingles"))
        rows = {r.doc_id: set(r.shingles) for r in sh.collect()}
        inter = len(rows[0] & rows[1])
        union = len(rows[0] | rows[1]) or 1
        true_j = inter / union
        sigs = {r.doc_id: r.sig for r in minhash_signature_from_text(df, ["doc_id"]).collect()}
        est = sum(x == y for x, y in zip(sigs[0], sigs[1])) / len(sigs[0])
        # 128 perms → std ≈ sqrt(j(1-j)/128) ≤ 0.045; allow 4σ
        assert abs(est - true_j) < 0.2


class TestAsofProperty:
    @settings(max_examples=8, deadline=None)
    @given(
        lts=st.lists(st.integers(0, 1000), min_size=1, max_size=12, unique=True),
        rts=st.lists(st.integers(0, 1000), min_size=1, max_size=12, unique=True),
    )
    def test_matches_pandas_merge_asof(self, spark, lts, rts):
        left = spark.createDataFrame(
            [("k", t) for t in sorted(lts)], "key STRING, t LONG"
        ).select("key", F.timestamp_seconds("t").alias("ts"), F.col("t").alias("lt"))
        right = spark.createDataFrame(
            [("k", t) for t in sorted(rts)], "key STRING, t LONG"
        ).select("key", F.timestamp_seconds("t").alias("ts"), F.col("t").alias("rv"))
        got = {
            r.lt: r.rv_asof
            for r in asof_join(
                left, right, on=["key"], right_values=["rv"]
            ).collect()
        }
        want = pd.merge_asof(
            pd.DataFrame({"t": sorted(lts)}),
            pd.DataFrame({"t": sorted(rts), "rv": sorted(rts)}),
            on="t",
            direction="backward",
        )
        for t, rv in zip(want["t"], want["rv"]):
            expect = None if pd.isna(rv) else int(rv)
            assert got[t] == expect


class TestQualityTotality:
    @settings(max_examples=20, deadline=None)
    @given(text=st.text(max_size=200))
    def test_quality_score_total_and_bounded(self, spark, text):
        df = spark.createDataFrame([(text,)], "text STRING")
        v = df.select(tx.quality_score(F.col("text")).alias("q")).collect()[0].q
        assert v is not None and 0.0 <= v <= 1.0


class TestUpsertProperties:
    @settings(max_examples=8, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(0, 5),      # key
                st.integers(0, 100),    # version
                st.integers(0, 999),    # payload
            ),
            min_size=1,
            max_size=30,
        ),
        split_at=st.integers(0, 30),
    )
    def test_batching_invariance_and_idempotence(self, spark, rows, split_at):
        """Final upsert state is independent of how changes are split
        into batches, and re-applying the last batch changes nothing
        (the property that makes the foreachBatch sink
        effectively-exactly-once under replay)."""
        from hive_hdfs_practise_spark.operators.upsert import upsert

        # distinct (key, version) so keep-newest is well defined
        # regardless of arrival order
        seen, uniq = set(), []
        for k, v, p in rows:
            if (k, v) not in seen:
                seen.add((k, v))
                uniq.append((k, v, p))
        split_at = min(split_at, len(uniq))
        schema = "k LONG, ver LONG, payload LONG"
        empty = spark.createDataFrame([], schema)
        all_at_once = upsert(
            empty, spark.createDataFrame(uniq, schema), ["k"], "ver"
        )
        b1, b2 = uniq[:split_at], uniq[split_at:]
        state = empty
        for batch in (b1, b2, b2):  # b2 applied twice: replay
            if batch:
                state = upsert(
                    state, spark.createDataFrame(batch, schema), ["k"], "ver"
                ).localCheckpoint(eager=True)
        assert {tuple(r) for r in state.collect()} == {
            tuple(r) for r in all_at_once.collect()
        }


class TestBucketPairsProperty:
    @settings(max_examples=8, deadline=None)
    @given(
        assignments=st.lists(
            st.tuples(st.integers(0, 9), st.integers(0, 3)),  # (id, bucket)
            min_size=0,
            max_size=25,
        )
    )
    def test_pairs_match_naive_self_join(self, spark, assignments):
        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.dedup.minhash import pairs_within_buckets

        df = spark.createDataFrame(
            list(set(assignments)) or [(0, 0)], "doc_id LONG, bucket LONG"
        )
        got = {
            (r.doc_a, r.doc_b)
            for r in pairs_within_buckets(df, "doc_id", ["bucket"]).collect()
        }
        a, b = df.alias("a"), df.alias("b")
        want = {
            (r[0], r[1])
            for r in a.join(
                b,
                (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id"), F.col("b.doc_id"))
            .collect()
        }
        assert got == want


class TestBloomProperty:
    @settings(max_examples=8, deadline=None)
    @given(
        keys=st.lists(st.integers(0, 10_000), min_size=1, max_size=50, unique=True),
        probes=st.lists(st.integers(0, 10_000), min_size=1, max_size=50, unique=True),
    )
    def test_never_false_negative(self, spark, keys, probes):
        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.operators.bloom import build_bloom, might_contain

        dim = spark.createDataFrame([(k,) for k in keys], "k LONG")
        bloom = build_bloom(dim, "k")
        probe_df = spark.createDataFrame(
            [(p,) for p in set(keys) | set(probes)], "k LONG"
        )
        passed = {
            r.k
            for r in probe_df.join(F.broadcast(bloom))
            .filter(might_contain(F.col("bloom"), F.col("k")))
            .collect()
        }
        assert set(keys) <= passed  # every inserted key passes
