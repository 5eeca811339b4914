"""Structured Streaming tests (SURVEY.md §2.10): stream == batch on
bounded data; liveness transitions with a planted dead node."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hive_hdfs_practise_spark import plans
from hive_hdfs_practise_spark.sources.catalog import table
from hive_hdfs_practise_spark.streaming.heartbeat import (
    liveness_snapshot,
    liveness_transitions,
)
from hive_hdfs_practise_spark.streaming.windows import (
    run_available_now,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


class TestStreamBatchParity:
    def test_stream_tumbling_equals_batch(self, spark):
        stream_rows = {
            (r.window_start, r.event_type, r.n_events, r.total_value)
            for r in plans.QUERIES["stream_hourly_tumbling"](spark, SF).collect()
        }
        batch_rows = {
            (r.window_start, r.event_type, r.n_events, r.total_value)
            for r in plans.QUERIES["events_hourly_tumbling"](spark, SF).collect()
        }
        assert stream_rows == batch_rows

    def test_batch_tumbling_builder_on_static_df(self, spark):
        ev = table(spark, SF, "events")
        got = tumbling_counts(ev).collect()
        assert len(got) > 0
        assert all(r.window_end > r.window_start for r in got)


class TestLiveness:
    @pytest.fixture()
    def staged(self, spark, tmp_path):
        rows = [
            ("dn1", "2024-01-01 00:00:00"),
            ("dn1", "2024-01-01 00:00:20"),
            ("dn1", "2024-01-01 00:00:40"),
            ("dn2", "2024-01-01 00:00:00"),
            # dn2 goes silent: > 25 s before dn1's last beat
            ("dn1", "2024-01-01 00:01:00"),
        ]
        df = spark.createDataFrame(rows, "node STRING, ts STRING").select(
            "node", F.to_timestamp("ts").alias("event_ts")
        )
        path = str(tmp_path / "beats")
        df.coalesce(1).write.parquet(path)
        return path

    def test_snapshot_classifies_silent_node_dead(self, spark, staged):
        beats = spark.read.parquet(staged)
        status = {r.node: r.status for r in liveness_snapshot(beats, 25).collect()}
        assert status == {"dn1": "Alive", "dn2": "Dead"}

    def test_stream_transitions_event_time(self, spark, staged):
        stream = spark.readStream.schema("node STRING, event_ts TIMESTAMP").parquet(
            staged
        )
        out = liveness_transitions(stream, timeout_ms=25_000)
        got = run_available_now(out, "t_liveness_fixture", "append").collect()
        by_node = {}
        for r in got:
            by_node.setdefault(r.node, []).append(r.status)
        # both nodes come alive; dn2's silence crosses the event-time
        # timeout when the watermark reaches dn1's last beat
        assert by_node["dn1"] == ["Alive"]
        assert by_node["dn2"] == ["Alive", "Dead"]

    def test_stream_plan_runs_on_driver_corpus(self, spark):
        rows = plans.QUERIES["stream_liveness_transitions"](spark, SF).collect()
        assert len(rows) >= 15  # every node emits at least its Alive
        assert {r.status for r in rows} <= {"Alive", "Dead"}


class TestStreamDedup:
    def test_stream_dedup_equals_batch_distinct(self, spark):
        got = {
            (r.user_id, r.event_type)
            for r in plans.QUERIES["stream_dedup_keys"](spark, SF).collect()
        }
        want = {
            (r.user_id, r.event_type)
            for r in table(spark, SF, "events").select("user_id", "event_type").distinct().collect()
        }
        assert got == want


class TestCheckpointRecovery:
    def test_file_sink_checkpoint_no_duplicates(self, spark, tmp_path):
        """H10 persistence analog: a checkpointed streaming query
        restarted over the same source emits nothing new; new input
        files produce exactly their rows (exactly-once file sink)."""
        src = str(tmp_path / "src")
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        base = spark.createDataFrame(
            [(1, "a"), (2, "b")], "id LONG, v STRING"
        )
        base.coalesce(1).write.mode("overwrite").parquet(src)

        def run_once():
            q = (
                spark.readStream.schema("id LONG, v STRING")
                .parquet(src)
                .writeStream.format("parquet")
                .option("checkpointLocation", ckpt)
                .option("path", out)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

        run_once()
        assert spark.read.parquet(out).count() == 2
        run_once()  # restart, no new data → no duplicates
        assert spark.read.parquet(out).count() == 2
        # append one new file → exactly its rows arrive
        spark.createDataFrame([(3, "c")], "id LONG, v STRING").coalesce(
            1
        ).write.mode("append").parquet(src)
        run_once()
        got = sorted(r.id for r in spark.read.parquet(out).collect())
        assert got == [1, 2, 3]


class TestStreamStreamJoin:
    def test_stream_join_equals_batch(self, spark):
        got = {
            (r.user_id, r.click_id, r.purchase_id)
            for r in plans.QUERIES["stream_click_purchase_join"](spark, SF).collect()
        }
        want = {
            (r.user_id, r.click_id, r.purchase_id)
            for r in plans.QUERIES["events_click_purchase_join"](spark, SF).collect()
        }
        assert got == want and len(want) > 0


class TestStreamStaticJoin:
    def test_stream_static_enrichment_equals_batch(self, spark):
        got = {
            (r.event_id, r.user_id, r.nation, r.event_type, r.value)
            for r in plans.QUERIES["stream_enriched_nation"](spark, SF).collect()
        }
        want = {
            (r.event_id, r.user_id, r.nation, r.event_type, r.value)
            for r in plans.QUERIES["events_enriched_nation"](spark, SF).collect()
        }
        assert got == want and len(want) > 0


class TestForeachBatchUpsert:
    def test_single_batch_equals_batch_twin(self, spark):
        got = {
            tuple(r)
            for r in plans.QUERIES["stream_upsert_latest"](spark, SF).collect()
        }
        want = {
            tuple(r)
            for r in plans.QUERIES["events_dedup_latest"](spark, SF).collect()
        }
        assert got == want and len(want) > 0

    def test_multi_batch_merge_equals_batch_twin(self, spark, tmp_path):
        """4 staged files + maxFilesPerTrigger=1 → 4 micro-batches,
        each merging into the state table; the final state must not
        depend on how the data was batched."""
        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.sources.catalog import table
        from hive_hdfs_practise_spark.streaming.sinks import run_upsert_stream

        ev = table(spark, SF, "events").select(
            "event_id", "user_id", "event_type", "ts", "value"
        )
        src = str(tmp_path / "src")
        ev.repartition(4).write.parquet(src)
        stream = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        run_upsert_stream(stream, str(tmp_path / "state"), str(tmp_path / "ckpt"))
        got = {
            tuple(r)
            for r in spark.read.parquet(str(tmp_path / "state"))
            .select("event_id", "user_id", "event_type", "ts",
                    F.round("value", 2).alias("value"))
            .collect()
        }
        want = {
            tuple(r)
            for r in plans.QUERIES["events_dedup_latest"](spark, SF).collect()
        }
        assert got == want


class TestDirectoryLayoutSource:
    def test_stream_reads_parquet_output_directory(self, spark, tmp_path):
        """Regression pin: when events.parquet is a parquet OUTPUT
        DIRECTORY of part files (the layout every cluster writer
        produces — driver testdata ships a single bare file
        instead), the file-stream source must still see the data.
        The old staging logic symlinked the directory one level
        deep, which the non-recursive file listing silently skipped:
        streams ran on ZERO input (caught by the 10x scaling
        study)."""
        sf_dir = str(tmp_path / "sfdir")
        (
            table(spark, SF, "events")
            .limit(200)
            .write.mode("overwrite")
            .parquet(f"{sf_dir}/events.parquet")
        )
        got = plans.QUERIES["stream_dedup_keys"](spark, sf_dir).count()
        assert got > 0


class TestSessionAndSlidingStreams:
    def test_stream_session_windows_equal_batch_islands(self, spark):
        """Engine session windows == gaps-and-islands recompute
        (merge rule: a gap of exactly the 30-min duration starts a
        new session)."""
        from collections import defaultdict

        per_user = defaultdict(list)
        for r in table(spark, SF, "events").select(
            "user_id", "ts", "event_id"
        ).collect():
            per_user[r.user_id].append((r.ts, r.event_id))
        want = set()
        import datetime

        gap = datetime.timedelta(minutes=30)
        for uid, evs in per_user.items():
            evs.sort()
            start = evs[0][0]
            last = evs[0][0]
            n = 1
            for ts, _ in evs[1:]:
                if ts - last >= gap:
                    want.add((start, last + gap, uid, n))
                    start, n = ts, 0
                last = ts
                n += 1
            want.add((start, last + gap, uid, n))
        got = {
            (r.session_start, r.session_end, r.user_id, r.n_events)
            for r in plans.QUERIES["stream_session_windows"](spark, SF).collect()
        }
        assert got == want

    def test_stream_sliding_rate_equals_batch_window(self, spark):
        """Engine sliding windows == batch F.window on the same data."""
        from hive_hdfs_practise_spark.streaming.windows import sliding_rate

        ev = table(spark, SF, "events")
        batch = {
            (r.window_start, r.event_type, r.n_events)
            for r in sliding_rate(ev, "1 hour", "15 minutes").collect()
        }
        got = {
            (r.window_start, r.event_type, r.n_events)
            for r in plans.QUERIES["stream_sliding_rate"](spark, SF).collect()
        }
        assert got == batch
        # every event contributes to exactly 4 windows
        n_events = ev.count()
        assert sum(r[2] for r in got) == 4 * n_events


class TestStreamPattern:
    """r5: stream_pattern_browse_buy — the stateful automaton must
    equal the batch row-pattern query, including when the input is
    force-split across micro-batches at a time boundary (state
    carries a pending click + view accumulators between triggers)."""

    @staticmethod
    def _batch_rows(spark, sf):
        return {
            tuple(r)
            for r in plans.QUERIES["events_pattern_browse_buy"](
                spark, sf
            ).collect()
        }

    def test_single_batch_equals_batch_twin(self, spark):
        sf = "/root/testdata/sf0.001"
        got = {
            tuple(r)
            for r in plans.QUERIES["stream_pattern_browse_buy"](
                spark, sf
            ).collect()
        }
        assert got == self._batch_rows(spark, sf) and len(got) > 0

    def test_multi_trigger_split_carries_state(self, spark, tmp_path):
        """Split the corpus into two files at the median timestamp,
        one trigger per file (maxFilesPerTrigger=1): matches whose
        click and purchase fall in different triggers must still
        emit exactly once with correct measures."""
        import time

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.sources.catalog import table
        from hive_hdfs_practise_spark.streaming.patterns import (
            browse_buy_matches,
        )

        sf = "/root/testdata/sf0.001"
        e = table(spark, sf, "events").select(
            "user_id", "event_id", "ts", "event_type", "value"
        )
        # split INSIDE a known match (between its click and purchase)
        # so a pending click provably crosses the trigger boundary
        batch = sorted(
            self._batch_rows(spark, sf), key=lambda r: -r[6]
        )  # longest duration first
        start_us = int(batch[0][2].timestamp() * 1_000_000)
        end_us = int(batch[0][3].timestamp() * 1_000_000)
        med = (start_us + end_us) // 2
        assert start_us <= med < end_us
        src = tmp_path / "stream_src"
        src.mkdir()
        # write each half with SPARK (pandas/pyarrow would write ns
        # INT64 timestamps the streaming schema refuses), then move
        # the part file into the source dir with a controlled mtime
        import glob
        import shutil

        for idx, half in enumerate(
            [
                e.filter(F.unix_micros("ts") <= med),
                e.filter(F.unix_micros("ts") > med),
            ]
        ):
            assert half.count() > 0
            out = tmp_path / f"half{idx}"
            half.coalesce(1).write.parquet(str(out))
            part = glob.glob(str(out / "part-*.parquet"))[0]
            shutil.copy(part, str(src / f"part{idx}.parquet"))
            if idx == 0:
                time.sleep(1.05)  # file-source orders triggers by mtime

        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            browse_buy_matches(stream)
            .writeStream.format("memory")
            .queryName("pattern_split_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert q.lastProgress is not None
        got = {
            tuple(r) for r in spark.table("pattern_split_test").collect()
        }
        assert got == self._batch_rows(spark, sf)
        # the split is only meaningful if some user straddles it:
        # a pending click before the boundary resolved after it
        straddle = any(
            r[2].timestamp() * 1_000_000 <= med < r[3].timestamp() * 1_000_000
            for r in got
        )
        assert straddle

    def test_null_view_value_matches_batch_null_skip(self, spark, tmp_path):
        """A NULL value on a view event must not kill the stream
        (NaN reaches the pandas batch and math.floor(NaN) raises);
        the batch twin's SUM(round(value*1e6)) skips nulls, so the
        automaton counts the view but contributes 0 micro-units."""
        import datetime as dt

        from hive_hdfs_practise_spark.streaming.patterns import (
            browse_buy_matches,
        )

        t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
        rows = [
            (1, 10, t(1), "click", 1.0),
            (1, 11, t(2), "view", None),
            (1, 12, t(3), "view", 2.5),
            (1, 13, t(4), "purchase", 9.0),
        ]
        df = spark.createDataFrame(
            rows,
            "user_id bigint, event_id bigint, ts timestamp, "
            "event_type string, value double",
        )
        src = tmp_path / "null_view_src"
        df.coalesce(1).write.parquet(str(src))
        stream = spark.readStream.schema(df.schema).parquet(str(src))
        q = (
            browse_buy_matches(stream)
            .writeStream.format("memory")
            .queryName("pattern_null_view_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.table("pattern_null_view_test").collect()
        assert len(got) == 1
        assert got[0].n_views == 2  # the null-valued view still counts
        assert got[0].views_value == 2.5  # but contributes no value


class TestStreamUrlDedup:
    def test_stream_keys_equal_batch_canonicalizer(self, spark):
        """The streaming dedup's canonical-key set equals a batch
        recompute through the SAME shared canonicalizer, and covers
        exactly the batch twin's groups plus singletons."""
        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.functions.urls import (
            canonical_urls,
            synth_url_col,
        )
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        got = {
            r.canonical_url
            for r in plans.QUERIES["stream_url_dedup"](spark, sf).collect()
        }
        d = wide_table(spark, sf, "documents").select("doc_id", "source")
        batch = {
            r.canonical_url
            for r in canonical_urls(
                d.select("doc_id", synth_url_col().alias("url"))
            )
            .select("canonical_url")
            .distinct()
            .collect()
        }
        assert got == batch and got
        dup_groups = {
            r.canonical_url
            for r in plans.QUERIES["documents_url_dedup"](spark, sf).collect()
        }
        assert dup_groups <= got


class TestStreamMinhashDedup:
    """r8: stream_dedup_minhash — the streaming MinHash-LSH screen
    must equal the batch dedup_minhash_lsh pair set on bounded input
    (both run the md5 verification family at sf0.001), including
    when the corpus is force-split across micro-batches so bucket
    state provably carries between triggers."""

    @staticmethod
    def _batch_pairs(spark, sf):
        return {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in plans.QUERIES["dedup_minhash_lsh"](spark, sf).collect()
        }

    def test_python_signatures_match_jvm(self, spark):
        """The stream's numpy md5-family signature builder is
        bit-identical to the batch JVM aggregate (incl. the sentinel
        and the vanishing-doc downsample cases)."""
        from hive_hdfs_practise_spark.dedup import minhash as mh
        from hive_hdfs_practise_spark.sources.catalog import wide_table
        from hive_hdfs_practise_spark.streaming.minhash_stream import (
            _signature,
        )

        sf = "/root/testdata/sf0.001"
        d = wide_table(spark, sf, "documents").select("doc_id", "text")
        jvm = {
            r.doc_id: list(r.sig)
            for r in mh.minhash_signature_from_text(
                d, ["doc_id"], downsample=4, family="md5"
            ).collect()
        }
        texts = {r.doc_id: r.text for r in d.collect()}
        py = {}
        for did, text in texts.items():
            sig = _signature(text)
            if sig is not None:
                py[did] = [int(v) for v in sig]
        assert py == jvm

    def test_sentinel_signatures_skipped_in_banding(self):
        """r9 advice fix: sub-shingle-length docs all share the
        all-P32 sentinel signature, so banding them would make every
        short doc collide with every other in all 16 bands (O(m²)
        state per bucket) only for the exact-Jaccard verify to
        discard the pairs (union = 0). signature_bands must skip
        them — the sentinel itself stays bit-pinned to the JVM
        aggregate by test_python_signatures_match_jvm."""
        import pandas as pd

        from hive_hdfs_practise_spark.streaming.minhash_stream import (
            P32,
            _signature,
            signature_bands,
        )

        long_text = (
            "a sufficiently long document body full of shingles and "
            "words that certainly survive the downsample filter here"
        )
        sig = _signature("ab")
        assert sig is not None and (sig == P32).all()  # still sentinel
        pdf = pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": ["ab", "", long_text]}
        )
        out = list(signature_bands([pdf]))
        banded_ids = set(pd.concat(out)["doc_id"]) if out else set()
        assert 1 not in banded_ids and 2 not in banded_ids
        assert banded_ids == {3}

    def test_single_batch_equals_batch_twin(self, spark):
        sf = "/root/testdata/sf0.001"
        got = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in plans.QUERIES["stream_dedup_minhash"](
                spark, sf
            ).collect()
        }
        assert got == self._batch_pairs(spark, sf) and got

    def test_multi_trigger_split_carries_state(self, spark, tmp_path):
        """Split the corpus into two files so a known near-dup pair's
        two docs arrive in DIFFERENT triggers (maxFilesPerTrigger=1):
        the pair can only emerge from bucket state carried across the
        trigger boundary."""
        import glob
        import shutil
        import time

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.plans.dedup import (
            exact_jaccard_pairs,
        )
        from hive_hdfs_practise_spark.sources.catalog import table
        from hive_hdfs_practise_spark.streaming.minhash_stream import (
            minhash_candidates,
        )

        sf = "/root/testdata/sf0.001"
        batch = self._batch_pairs(spark, sf)
        assert batch
        split_at = min(p[0] for p in batch)  # doc_a of some known pair
        docs = table(spark, sf, "documents").select("doc_id", "text")
        src = tmp_path / "stream_src"
        src.mkdir()
        for idx, half in enumerate(
            [
                docs.filter(F.col("doc_id") <= split_at),
                docs.filter(F.col("doc_id") > split_at),
            ]
        ):
            assert half.count() > 0
            out = tmp_path / f"half{idx}"
            half.coalesce(1).write.parquet(str(out))
            part = glob.glob(str(out / "part-*.parquet"))[0]
            shutil.copy(part, str(src / f"part{idx}.parquet"))
            if idx == 0:
                time.sleep(1.05)  # file-source orders triggers by mtime

        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            minhash_candidates(stream)
            .writeStream.format("memory")
            .queryName("minhash_split_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        cand = spark.table("minhash_split_test").select(
            "doc_a", "doc_b"
        ).distinct()
        got = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in exact_jaccard_pairs(cand, docs).collect()
        }
        assert got == batch
        # the split is only meaningful if some verified pair straddles
        # the trigger boundary
        assert any(a <= split_at < b for a, b, _ in got)

class TestStreamKmvDistinct:
    """r8: stream_kmv_distinct_users — the streaming KMV estimate
    equals the batch sketch on bounded input (mergeability), incl. a
    forced two-trigger split where per-key min-K state must merge
    across batches."""

    def test_single_batch_equals_batch_twin(self, spark):
        sf = "/root/testdata/sf0.001"
        got = {
            r.event_type: r.n_kmv
            for r in plans.QUERIES["stream_kmv_distinct_users"](
                spark, sf
            ).collect()
        }
        batch = {
            r.event_type: r.n_kmv
            for r in plans.QUERIES["events_kmv_distinct_users"](
                spark, sf
            ).collect()
        }
        assert got == batch and got

    def test_multi_trigger_split_merges_state(self, spark, tmp_path):
        import glob
        import shutil
        import time

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.plans.distinct import KMV_K, _KMV_H
        from hive_hdfs_practise_spark.sources.catalog import table
        from hive_hdfs_practise_spark.streaming.kmv_stream import (
            kmv_running_state,
        )

        sf = "/root/testdata/sf0.001"
        e = table(spark, sf, "events").select("event_type", "user_id")
        src = tmp_path / "stream_src"
        src.mkdir()
        for idx, half in enumerate(
            [
                e.filter(F.col("user_id") % 2 == 0),
                e.filter(F.col("user_id") % 2 == 1),
            ]
        ):
            assert half.count() > 0
            out = tmp_path / f"half{idx}"
            half.coalesce(1).write.parquet(str(out))
            part = glob.glob(str(out / "part-*.parquet"))[0]
            shutil.copy(part, str(src / f"part{idx}.parquet"))
            if idx == 0:
                time.sleep(1.05)
        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .select(
                "event_type",
                F.expr(_KMV_H.replace("VARCHAR", "STRING")).alias("hv"),
            )
        )
        q = (
            kmv_running_state(stream, KMV_K)
            .writeStream.format("memory")
            .queryName("kmv_split_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sunk = spark.table("kmv_split_test")
        # keys touched by both triggers emit two snapshots
        assert sunk.groupBy("event_type").count().agg(
            F.max("count")
        ).collect()[0][0] == 2
        last = sunk.groupBy("event_type").agg(
            F.max_by(F.struct("n_state", "hk"), F.col("upd")).alias("s")
        )
        est = F.when(
            F.col("s.n_state") >= KMV_K, (KMV_K - 1) / F.col("s.hk")
        ).otherwise(F.col("s.n_state").cast("double"))
        got = {
            r.event_type: r.n_kmv
            for r in last.select(
                "event_type", F.round(est, 4).alias("n_kmv")
            ).collect()
        }
        batch = {
            r.event_type: r.n_kmv
            for r in plans.QUERIES["events_kmv_distinct_users"](
                spark, sf
            ).collect()
        }
        assert got == batch


class TestStreamFilterCascade:
    """r9: stream_filter_cascade — the 13th value-checked stream
    twin. The per-row column scorers must reproduce the batch
    explode-path values exactly (funnel equality pins it), and the
    single global count aggregate must merge across a forced
    multi-trigger split (integer addition — but the test proves the
    plumbing, not the arithmetic)."""

    def test_equals_batch_twin(self, spark):
        sf = "/root/testdata/sf0.001"
        got = {
            r.stage: (r.rule, r.n_in, r.n_dropped, r.n_out)
            for r in plans.QUERIES["stream_filter_cascade"](
                spark, sf
            ).collect()
        }
        want = {
            r.stage: (r.rule, r.n_in, r.n_dropped, r.n_out)
            for r in plans.QUERIES["documents_filter_cascade"](
                spark, sf
            ).collect()
        }
        assert got == want and got[1][1] > 0

    def test_multi_trigger_split_merges_counts(self, spark, tmp_path):
        import glob
        import shutil
        import time

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.plans.streaming_plans import (
            cascade_flag_counts,
        )
        from hive_hdfs_practise_spark.sources.catalog import table

        sf = "/root/testdata/sf0.001"
        docs = table(spark, sf, "documents").select("doc_id", "text")
        mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).head()[0]
        src = tmp_path / "cascade_stream"
        src.mkdir()
        for idx, half in enumerate(
            [
                docs.filter(F.col("doc_id") <= mid),
                docs.filter(F.col("doc_id") > mid),
            ]
        ):
            assert half.count() > 0
            out = tmp_path / f"half{idx}"
            half.coalesce(1).write.parquet(str(out))
            part = glob.glob(str(out / "part-*.parquet"))[0]
            shutil.copy(part, str(src / f"part{idx}.parquet"))
            if idx == 0:
                time.sleep(1.05)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            cascade_flag_counts(stream)
            .writeStream.format("memory")
            .queryName("cascade_split_test")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert q.lastProgress["batchId"] >= 1  # proves >1 trigger ran
        got = spark.table("cascade_split_test").collect()[-1]
        full = (
            cascade_flag_counts(
                spark.readStream.schema(docs.schema).parquet(str(src))
            )
            .writeStream.format("memory")
            .queryName("cascade_full_test")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        full.awaitTermination()
        want = spark.table("cascade_full_test").collect()[-1]
        assert (got.n, got.n1, got.n2, got.n3) == (
            want.n,
            want.n1,
            want.n2,
            want.n3,
        )
        assert got.n == docs.count()


class TestStreamTransitionMatrix:
    """r9: stream_transition_matrix — the per-user last-event state
    must chain transitions across micro-batches exactly once each,
    so the aggregated matrix equals the batch lead() twin."""

    def test_single_batch_equals_batch_twin(self, spark):
        sf = "/root/testdata/sf0.001"
        got = {
            tuple(r)
            for r in plans.QUERIES["stream_transition_matrix"](
                spark, sf
            ).collect()
        }
        want = {
            tuple(r)
            for r in plans.QUERIES["events_transition_matrix"](
                spark, sf
            ).collect()
        }
        assert got == want and len(got) > 0

    def test_multi_trigger_split_carries_state(self, spark, tmp_path):
        """Split the corpus at the median timestamp, one trigger per
        file: the transition that straddles the boundary (a user's
        last pre-split event → first post-split event) must emit
        exactly once, from the carried state."""
        import glob
        import shutil
        import time
        from collections import Counter

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.sources.catalog import table
        from hive_hdfs_practise_spark.streaming.transitions import (
            transition_pairs,
        )

        sf = "/root/testdata/sf0.001"
        e = table(spark, sf, "events").select(
            "user_id", "event_id", "ts", "event_type"
        )
        med = e.agg(
            F.expr("percentile(unix_micros(ts), 0.5)").cast("bigint")
        ).collect()[0][0]
        src = tmp_path / "stream_src"
        src.mkdir()
        halves = [
            e.filter(F.unix_micros("ts") <= med),
            e.filter(F.unix_micros("ts") > med),
        ]
        # a user with events on both sides makes the split meaningful
        straddlers = (
            halves[0]
            .select("user_id")
            .intersect(halves[1].select("user_id"))
            .count()
        )
        assert straddlers > 0
        for idx, half in enumerate(halves):
            assert half.count() > 0
            out = tmp_path / f"half{idx}"
            half.coalesce(1).write.parquet(str(out))
            part = glob.glob(str(out / "part-*.parquet"))[0]
            shutil.copy(part, str(src / f"part{idx}.parquet"))
            if idx == 0:
                time.sleep(1.05)  # file-source orders triggers by mtime

        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            transition_pairs(stream)
            .writeStream.format("memory")
            .queryName("transition_split_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = Counter(
            tuple(r)
            for r in spark.table("transition_split_test").collect()
        )
        # batch ground truth: per-user consecutive pairs
        w = __import__(
            "pyspark.sql.window", fromlist=["Window"]
        ).Window.partitionBy("user_id").orderBy("ts", "event_id")
        want = Counter(
            tuple(r)
            for r in e.select(
                "user_id",
                F.col("event_type").alias("from_type"),
                F.lead("event_type").over(w).alias("to_type"),
            )
            .where(F.col("to_type").isNotNull())
            .collect()
        )
        assert got == want and len(got) > 0


class TestStreamGopherRules:
    """r10: stream_gopher_rules — the 15th value-checked stream twin.
    The per-row flags are the batch twin's shared gopher_flags
    helper; the single global integer-sum aggregate must merge across
    a forced multi-trigger split."""

    def test_equals_batch_twin_aggregate(self, spark):
        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark import plans

        sf = "/root/testdata/sf0.001"
        got = plans.QUERIES["stream_gopher_rules"](spark, sf).collect()
        assert len(got) == 1
        flags = plans.QUERIES["documents_gopher_rules"](spark, sf)
        want = flags.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("r_word_count"), 0).otherwise(1)).alias(
                "n_fail_word_count"
            ),
            F.sum(
                F.when(F.col("n_failed") == 0, 1).otherwise(0)
            ).alias("n_pass_all"),
        ).head()
        row = got[0]
        assert row.n_docs == want.n_docs
        assert row.n_fail_word_count == want.n_fail_word_count
        assert row.n_pass_all == want.n_pass_all

    def test_multi_trigger_split_merges_counts(self, spark, tmp_path):
        import glob
        import shutil
        import time

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.plans.streaming_plans import (
            gopher_rule_counts,
        )
        from hive_hdfs_practise_spark.sources.catalog import table

        sf = "/root/testdata/sf0.001"
        docs = table(spark, sf, "documents").select("doc_id", "text")
        mid = docs.agg(F.expr("percentile_approx(doc_id, 0.5)")).head()[0]
        src = tmp_path / "gopher_stream"
        src.mkdir()
        for idx, half in enumerate(
            [
                docs.filter(F.col("doc_id") <= mid),
                docs.filter(F.col("doc_id") > mid),
            ]
        ):
            assert half.count() > 0
            out = tmp_path / f"ghalf{idx}"
            half.coalesce(1).write.parquet(str(out))
            part = glob.glob(str(out / "part-*.parquet"))[0]
            shutil.copy(part, str(src / f"part{idx}.parquet"))
            if idx == 0:
                time.sleep(1.05)
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            gopher_rule_counts(stream)
            .writeStream.format("memory")
            .queryName("gopher_split_test")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert q.lastProgress["batchId"] >= 1  # proves >1 trigger ran
        got = spark.table("gopher_split_test").collect()[-1]
        want = gopher_rule_counts(docs).head()
        assert tuple(got) == tuple(want)


class TestStreamIvfAssign:
    """r10: stream_ivf_assign — the 16th value-checked stream twin.
    The per-row argmin is stateless (literal frozen centroids); the
    per-cell count aggregate must merge across a forced multi-trigger
    split."""

    def test_equals_batch_pick(self, spark):
        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.plans.streaming_plans import (
            ivf_assign_counts,
        )
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        got = {
            r.cluster_id: r.n_vecs
            for r in plans.QUERIES["stream_ivf_assign"](spark, sf).collect()
        }
        e = wide_table(spark, sf, "embeddings")
        want = {
            r.cluster_id: r.n_vecs
            for r in ivf_assign_counts(e, spark, sf).collect()
        }
        assert got == want and got
        assert sum(got.values()) == e.count()

    def test_multi_trigger_split_merges_counts(self, spark, tmp_path):
        import glob
        import shutil
        import time

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.plans.streaming_plans import (
            ivf_assign_counts,
        )
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        e = wide_table(spark, sf, "embeddings")
        mid = e.agg(F.expr("percentile_approx(vec_id, 0.5)")).head()[0]
        src = tmp_path / "ivf_stream"
        src.mkdir()
        for idx, half in enumerate(
            [
                e.filter(F.col("vec_id") <= mid),
                e.filter(F.col("vec_id") > mid),
            ]
        ):
            assert half.count() > 0
            out = tmp_path / f"ihalf{idx}"
            half.coalesce(1).write.parquet(str(out))
            part = glob.glob(str(out / "part-*.parquet"))[0]
            shutil.copy(part, str(src / f"part{idx}.parquet"))
            if idx == 0:
                time.sleep(1.05)
        stream = (
            spark.readStream.schema(e.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            ivf_assign_counts(stream, spark, sf)
            .writeStream.format("memory")
            .queryName("ivf_assign_split_test")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert q.lastProgress["batchId"] >= 1
        got = {
            r.cluster_id: r.n_vecs
            for r in spark.table("ivf_assign_split_test").collect()
        }
        want = {
            r.cluster_id: r.n_vecs
            for r in ivf_assign_counts(e, spark, sf).collect()
        }
        assert got == want and got


class TestStreamDecontamination:
    """r11: the 17th stream twin — Bloom decontamination over
    arriving train docs."""

    LEAK = "alpha beta gamma delta epsilon zeta eta theta"

    def test_stream_equals_batch_on_corpus(self, spark):
        sf = "/root/testdata/sf0.01"
        got = {
            (r.train_doc, r.n_flagged_grams)
            for r in plans.QUERIES["stream_decontamination_bloom"](
                spark, sf
            ).collect()
        }
        batch = {
            (r.train_doc, r.n_flagged_grams)
            for r in plans.QUERIES["split_decontamination_bloom"](
                spark, sf
            ).collect()
        }
        assert got == batch and got

    def test_multi_trigger_split_inside_known_leak(self, spark, tmp_path):
        """Two PLANTED leaked train docs (1 and 2 — train buckets)
        share an 8-gram with test doc 3 (test bucket) and arrive in
        DIFFERENT triggers (maxFilesPerTrigger=1); the complete-mode
        count state must merge to the batch twin's output."""
        import glob
        import shutil
        import time

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.plans.sampling_plans import (
            bloom_filter_words,
        )
        from hive_hdfs_practise_spark.plans.streaming_plans import (
            bloom_decon_counts,
        )

        rows = [
            # doc 3: md5 bucket 0xfd >= 231 -> TEST (builds the filter)
            (3, self.LEAK + " benchmark answer key", "en", "s0"),
            # docs 1, 2: train buckets -> each contains the leak gram
            (1, "intro words " + self.LEAK + " more text", "en", "s0"),
            (2, self.LEAK + " trailing tokens here now", "en", "s1"),
            # doc 4: clean train doc
            (4, "totally unrelated clean training document body", "en", "s1"),
        ]
        d = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        )
        corpus = tmp_path / "corpus"
        d.coalesce(1).write.parquet(str(corpus / "documents.parquet"))
        full = spark.read.parquet(str(corpus / "documents.parquet"))
        filt = bloom_filter_words(full)
        # stage the stream as 2 files: trigger 1 = docs {3, 1},
        # trigger 2 = docs {2, 4} — the leak pair spans triggers
        src = tmp_path / "stream_src"
        src.mkdir()
        for idx, ids in enumerate([(3, 1), (2, 4)]):
            half = full.filter(F.col("doc_id").isin(*ids))
            assert half.count() == 2
            out = tmp_path / f"half{idx}"
            half.coalesce(1).write.parquet(str(out))
            part = glob.glob(str(out / "part-*.parquet"))[0]
            shutil.copy(part, str(src / f"part{idx}.parquet"))
            if idx == 0:
                time.sleep(1.05)
        stream = (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = (
            bloom_decon_counts(stream, filt)
            .writeStream.format("memory")
            .queryName("decon_split_test")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r.train_doc, r.n_flagged_grams)
            for r in spark.table("decon_split_test").collect()
        }
        # both planted leaks flagged (the 8-gram), clean doc absent
        assert got == {(1, 1), (2, 1)}


class TestStreamRateCusum:
    """r11: the 18th stream twin — CUSUM burst detection over
    arriving events."""

    def test_stream_equals_batch_on_corpus(self, spark):
        sf = "/root/testdata/sf0.01"
        got = {
            (r.event_type, r.hour, r.n_events, r.cusum)
            for r in plans.QUERIES["stream_rate_cusum"](spark, sf).collect()
        }
        batch = {
            (r.event_type, r.hour, r.n_events, r.cusum)
            for r in plans.QUERIES["events_rate_cusum"](
                spark, sf
            ).collect()
        }
        assert got == batch and got

    def test_multi_trigger_split_inside_burst(self, spark, tmp_path):
        """A planted burst SPANS the trigger boundary: hours 0-1 in
        file 1, hours 2-5 in file 2 (hour-ordered split — the twin's
        documented arrival contract); the integer (cs, mn) state must
        carry across micro-batches and the final rows must equal the
        batch twin."""
        import glob
        import shutil
        import time

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.plans.streaming_plans import (
            cusum_finalize,
        )
        from hive_hdfs_practise_spark.plans.events import CUSUM_H, CUSUM_K
        from hive_hdfs_practise_spark.streaming.cusum_stream import (
            cusum_running_state,
        )

        ns = 1_000_000_000
        base = 1_700_000_000  # epoch seconds, whole hour? normalize:
        base -= base % 3600
        rows = []
        eid = 0
        # burst type: 10 events/hour in hours 1..3, silence after
        for h, n in [(0, 2), (1, 10), (2, 10), (3, 10), (4, 0), (5, 1)]:
            for k in range(n):
                rows.append(
                    (eid, 1, "burst", 0.0, (base + h * 3600 + k) * ns)
                )
                eid += 1
        d = tmp_path / "corpus"
        full = spark.createDataFrame(
            rows,
            "event_id long, user_id long, event_type string,"
            " value double, ts long",
        )
        full.coalesce(1).write.parquet(str(d / "events.parquet"))
        batch = {
            (r.event_type, r.hour, r.n_events, r.cusum)
            for r in plans.QUERIES["events_rate_cusum"](
                spark, str(d)
            ).collect()
        }
        assert batch  # the burst actually trips the detector
        # stream in 2 hour-ordered files: hours 0-1, then 2-5
        src = tmp_path / "stream_src"
        src.mkdir()
        cut = (base + 2 * 3600) * ns
        for idx, half in enumerate(
            [full.where(F.col("ts") < cut), full.where(F.col("ts") >= cut)]
        ):
            assert half.count() > 0
            out = tmp_path / f"half{idx}"
            half.coalesce(1).write.parquet(str(out))
            part = glob.glob(str(out / "part-*.parquet"))[0]
            shutil.copy(part, str(src / f"part{idx}.parquet"))
            if idx == 0:
                time.sleep(1.05)
        eh_of = (
            "CAST(unix_seconds(date_trunc('hour',"
            " timestamp_micros(ts div 1000))) div 3600 AS LONG)"
        )
        stream = (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .select("event_type", F.expr(eh_of).alias("eh"))
        )
        h0 = base // 3600
        h1 = h0 + 5
        q = (
            cusum_running_state(stream, h0, CUSUM_K, CUSUM_H)
            .writeStream.format("memory")
            .queryName("cusum_split_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        sunk = spark.table("cusum_split_test")
        # two snapshots -> the state really crossed micro-batches
        assert sunk.where("is_state").count() == 2
        got = {
            (r.event_type, r.hour, r.n_events, r.cusum)
            for r in cusum_finalize(sunk, h1, CUSUM_K, CUSUM_H).collect()
        }
        assert got == batch

    def test_multi_trigger_split_mid_hour(self, spark, tmp_path):
        """r11 review: an HOUR whose events span the trigger boundary
        must be counted completely — the open-hour state buffers it
        until a later hour finalizes it (or the post-sink finalizer
        closes it)."""
        import glob
        import shutil
        import time

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.plans.streaming_plans import (
            cusum_finalize,
        )
        from hive_hdfs_practise_spark.plans.events import CUSUM_H, CUSUM_K
        from hive_hdfs_practise_spark.streaming.cusum_stream import (
            cusum_running_state,
        )

        ns = 1_000_000_000
        base = 1_700_000_000
        base -= base % 3600
        rows = []
        eid = 0
        for h, n in [(0, 2), (1, 10), (2, 10), (3, 10), (4, 0), (5, 1)]:
            for k in range(n):
                rows.append(
                    (eid, 1, "burst", 0.0, (base + h * 3600 + k) * ns)
                )
                eid += 1
        d = tmp_path / "corpus"
        full = spark.createDataFrame(
            rows,
            "event_id long, user_id long, event_type string,"
            " value double, ts long",
        )
        full.coalesce(1).write.parquet(str(d / "events.parquet"))
        batch = {
            (r.event_type, r.hour, r.n_events, r.cusum)
            for r in plans.QUERIES["events_rate_cusum"](
                spark, str(d)
            ).collect()
        }
        src = tmp_path / "stream_src"
        src.mkdir()
        # cut INSIDE hour 2: 4 of its 10 events in file 1, 6 in file 2
        cut = (base + 2 * 3600 + 4) * ns
        for idx, half in enumerate(
            [full.where(F.col("ts") < cut), full.where(F.col("ts") >= cut)]
        ):
            assert half.count() > 0
            out = tmp_path / f"half{idx}"
            half.coalesce(1).write.parquet(str(out))
            part = glob.glob(str(out / "part-*.parquet"))[0]
            shutil.copy(part, str(src / f"part{idx}.parquet"))
            if idx == 0:
                time.sleep(1.05)
        eh_of = (
            "CAST(unix_seconds(date_trunc('hour',"
            " timestamp_micros(ts div 1000))) div 3600 AS LONG)"
        )
        stream = (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .select("event_type", F.expr(eh_of).alias("eh"))
        )
        h0 = base // 3600
        q = (
            cusum_running_state(stream, h0, CUSUM_K, CUSUM_H)
            .writeStream.format("memory")
            .queryName("cusum_midhour_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = {
            (r.event_type, r.hour, r.n_events, r.cusum)
            for r in cusum_finalize(
                spark.table("cusum_midhour_test"), h0 + 5, CUSUM_K, CUSUM_H
            ).collect()
        }
        assert got == batch
        # the boundary-spanning hour specifically carries its FULL count
        full_h2 = [
            r for r in got if int(r[1].timestamp()) == base + 2 * 3600
        ]
        assert full_h2 and full_h2[0][2] == 10


class TestStreamIndexAppend:
    """r12: the 19th twin — streaming index ingestion. Multi-trigger
    appends must leave pre-existing index files byte-identical and
    produce exactly the from-scratch full-corpus index's rows."""

    def test_multi_trigger_append_parity_and_byte_stability(
        self, spark, tmp_path
    ):
        import hashlib
        import os

        from hive_hdfs_practise_spark.dedup import minhash as mh
        from hive_hdfs_practise_spark.operators.compaction import (
            table_location,
        )
        from hive_hdfs_practise_spark.plans.dedup import (
            _indexed_pairs,
            _probe_delta_col,
        )

        kw = dict(downsample=4, family="md5")
        d = table(spark, SF, "documents").select("doc_id", "text")
        corpus = d.filter(~_probe_delta_col())
        delta = d.filter(_probe_delta_col())
        assert delta.count() > 0
        mh.write_minhash_index(spark, corpus, "minhash_strm_test_idx", **kw)

        def snap(suffix):
            root = table_location(
                spark, f"minhash_strm_test_idx{suffix}"
            )
            out = {}
            for f in os.listdir(root):
                if f.endswith(".parquet"):
                    with open(os.path.join(root, f), "rb") as fh:
                        out[f] = hashlib.md5(fh.read()).hexdigest()
            return out

        before = {s: snap(s) for s in ("_bands", "_sigs")}

        # delta arrives as 3 staged files, one micro-batch each
        src = str(tmp_path / "delta_docs")
        delta.repartition(3).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        batches = []

        def _append(bdf, bid):
            n = bdf.count()
            if n == 0:
                return
            batches.append(n)
            mh.append_minhash_index(
                spark, bdf.select("doc_id", "text"),
                "minhash_strm_test_idx", **kw,
            )

        q = (
            stream.writeStream.foreachBatch(_append)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert len(batches) >= 3 and sum(batches) == delta.count()
        for s, files in before.items():
            spark.sql(f"REFRESH TABLE minhash_strm_test_idx{s}")
            after = snap(s)
            for f, digest in files.items():
                assert after.get(f) == digest, (s, f)

        # streamed-in index rows == from-scratch full-corpus build
        mh.write_minhash_index(spark, d, "minhash_strm_ref_idx", **kw)
        for s in ("_bands", "_sigs"):
            got = {
                tuple(r)
                for r in spark.table(f"minhash_strm_test_idx{s}")
                .select("doc_id", "band", "band_key")
                .collect()
            } if s == "_bands" else {
                (r.doc_id, tuple(r.sig))
                for r in spark.table(f"minhash_strm_test_idx{s}").collect()
            }
            want = {
                tuple(r)
                for r in spark.table(f"minhash_strm_ref_idx{s}")
                .select("doc_id", "band", "band_key")
                .collect()
            } if s == "_bands" else {
                (r.doc_id, tuple(r.sig))
                for r in spark.table(f"minhash_strm_ref_idx{s}").collect()
            }
            assert got == want and got, s

        # probe parity: streamed index == from-scratch index
        got_pairs = {
            (r.doc_a, r.doc_b)
            for r in _indexed_pairs(
                spark, SF, "minhash_strm_test_idx"
            ).collect()
        }
        want_pairs = {
            (r.doc_a, r.doc_b)
            for r in _indexed_pairs(
                spark, SF, "minhash_strm_ref_idx"
            ).collect()
        }
        assert got_pairs == want_pairs and got_pairs


class TestStreamIvfIndexAppend:
    """r12: the 20th twin — streaming IVF ingestion. Multi-trigger
    frozen-centroid appends must leave pre-existing files untouched
    and produce exactly the one-shot append's assignment rows."""

    def test_multi_trigger_append_parity_and_byte_stability(
        self, spark, tmp_path
    ):
        import hashlib
        import os

        from hive_hdfs_practise_spark.operators.compaction import (
            table_location,
        )
        from hive_hdfs_practise_spark.plans.similarity import (
            IVF_ITERS,
            IVF_NLIST,
        )
        from hive_hdfs_practise_spark.similarity.knn import (
            append_ivf_index,
            assign_clusters,
            write_ivf_index,
        )
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        e = wide_table(spark, sf, "embeddings")
        nib = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
        corpus, delta = e.filter(nib != "0"), e.filter(nib == "0")
        assert delta.count() > 0
        write_ivf_index(
            spark, corpus, "ivf_strm_test_idx",
            nlist=IVF_NLIST, iters=IVF_ITERS,
        )
        path = table_location(spark, "ivf_strm_test_idx_assign")

        def snap():
            out = {}
            for f in os.listdir(path):
                if f.endswith(".parquet"):
                    with open(os.path.join(path, f), "rb") as fh:
                        out[f] = hashlib.md5(fh.read()).hexdigest()
            return out

        before = snap()
        src = str(tmp_path / "delta_vecs")
        delta.repartition(3).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(delta.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        batches = []

        def _append(bdf, bid):
            n = bdf.count()
            if n == 0:
                return
            batches.append(n)
            append_ivf_index(spark, bdf, "ivf_strm_test_idx")

        q = (
            stream.writeStream.foreachBatch(_append)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert len(batches) >= 3 and sum(batches) == delta.count()
        spark.sql("REFRESH TABLE ivf_strm_test_idx_assign")
        after = snap()
        for f, digest in before.items():
            assert after.get(f) == digest, f
        # streamed-in assignment == the union assigned against the
        # SAME frozen centroids
        cents = spark.table("ivf_strm_test_idx_centroids")
        want = {
            r.vec_id: r.cluster_id
            for r in assign_clusters(e, cents).collect()
        }
        got = {
            r.vec_id: r.cluster_id
            for r in spark.table("ivf_strm_test_idx_assign")
            .select("vec_id", "cluster_id")
            .collect()
        }
        assert got == want and got


def test_one_state_call_site():
    """Every stateful stream goes through ``streaming/state.py``: it is
    the only module that calls ``applyInPandasWithState`` or imports
    from ``pyspark.sql.streaming.state`` (names in docstrings and
    comments do not count)."""
    import ast
    from pathlib import Path

    import hive_hdfs_practise_spark

    root = Path(hive_hdfs_practise_spark.__file__).parent
    sites = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            calls_state = (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "applyInPandasWithState"
            )
            imports_state = (
                isinstance(node, ast.ImportFrom)
                and node.module == "pyspark.sql.streaming.state"
            ) or (
                isinstance(node, ast.Import)
                and any(a.name == "pyspark.sql.streaming.state" for a in node.names)
            )
            if calls_state or imports_state:
                sites.add(path.relative_to(root).as_posix())
    assert sites == {"streaming/state.py"}
