"""Dedup operator tests with PLANTED duplicates (the driver corpus
has none at small SF, so recall is asserted on fixtures)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from hive_hdfs_practise_spark.dedup.minhash import lsh_bands, minhash_signature_from_text
from hive_hdfs_practise_spark.functions import text as tx
from hive_hdfs_practise_spark import plans

BASE = (
    "spark shuffles data across the cluster when a wide dependency requires "
    "repartitioning by key and the optimizer cannot avoid the exchange"
)
NEAR = BASE.replace("cluster", "cluster nodes")  # tiny edit → high jaccard
FAR = "completely different text about storage replication and heartbeats"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE, "en", "s0", len(BASE)),
        (1, BASE, "en", "s1", len(BASE)),        # exact dup of 0
        (2, NEAR, "en", "s2", len(NEAR)),        # near dup of 0
        (3, FAR, "en", "s3", len(FAR)),
        (4, "  " + BASE.upper() + "  ", "en", "s4", len(BASE)),  # normalized dup
    ]
    return spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )


class TestExact:
    def test_exact_groups(self, docs):
        g = (
            docs.groupBy(tx.content_hash(F.col("text"), normalize=False).alias("h"))
            .agg(F.collect_set("doc_id").alias("ids"))
            .collect()
        )
        groups = {frozenset(r.ids) for r in g}
        assert frozenset({0, 1}) in groups  # exact dups collapse
        assert frozenset({4}) in groups     # case/space variant does NOT

    def test_normalized_catches_case_and_space(self, docs):
        g = (
            docs.groupBy(tx.content_hash(F.col("text"), normalize=True).alias("h"))
            .agg(F.collect_set("doc_id").alias("ids"))
            .collect()
        )
        groups = {frozenset(r.ids) for r in g}
        assert frozenset({0, 1, 4}) in groups


class TestMinHash:
    def test_identical_docs_identical_signatures(self, docs):
        sigs = {
            r.doc_id: r.sig
            for r in minhash_signature_from_text(docs, ["doc_id"]).collect()
        }
        assert sigs[0] == sigs[1]
        assert sigs[0] != sigs[3]
        # near-dup signatures agree on most permutations (j≈0.95)
        agree = sum(a == b for a, b in zip(sigs[0], sigs[2])) / len(sigs[0])
        assert agree > 0.7

    def test_bands_collide_for_near_dups(self, docs):
        sigs = minhash_signature_from_text(docs, ["doc_id"])
        bands = {
            r.doc_id: r.b
            for r in sigs.select("doc_id", lsh_bands(F.col("sig")).alias("b")).collect()
        }
        assert any(x == y for x, y in zip(bands[0], bands[2]))  # ≥1 shared band
        assert not any(x == y for x, y in zip(bands[0], bands[3]))

    def test_signature_table_one_row_per_doc(self, spark):
        # cardinality contract (see minhash_signature_from_text
        # docstring): at downsample=1 EVERY input doc — including
        # empty/short ones — gets exactly one signature row; at
        # downsample>1 short docs may drop out (probabilistic-recall
        # contract), so the table is never LARGER than the corpus.
        docs = spark.createDataFrame(
            [(1, "abcdefghij"), (2, ""), (3, "abc"), (4, None), (5, "xy")],
            "doc_id long, text string",
        )
        sigs = minhash_signature_from_text(docs, ["doc_id"])
        assert sorted(r.doc_id for r in sigs.collect()) == [1, 2, 3, 4, 5]
        down = minhash_signature_from_text(docs, ["doc_id"], downsample=4)
        ids = [r.doc_id for r in down.collect()]
        assert len(ids) == len(set(ids)) <= 5

    # (family, downsample, input path) -> (md5 of the sorted
    # (doc_id, sig) rows, row count), captured on the per-slot
    # Column builder the one-expression aggregate replaced
    SIG_CHECKSUMS = {
        ("md5", 1, "text"): ("a032b08f4807124f", 13),
        ("md5", 4, "text"): ("8c7d819f50a097c2", 11),
        ("xxhash", 1, "text"): ("e0fa06cc682166af", 13),
        ("xxhash", 4, "text"): ("8c821f35f5119eae", 11),
    }

    @staticmethod
    def _degenerate_docs(spark):
        rows = [
            (0, BASE), (1, BASE), (2, NEAR), (3, FAR),
            (4, ""), (5, None), (6, "     "), (7, "abc"), (8, "abcd"),
            (9, "abcde"), (10, "  \t\n  "),
            (11, "数据去重的近似方法 minhash 签名"), (12, "xy"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.mark.parametrize("family", ["md5", "xxhash"])
    @pytest.mark.parametrize("downsample", [1, 4])
    @pytest.mark.parametrize("path", ["text"])
    def test_signature_checksums_pinned(self, spark, family, downsample, path):
        """Signatures are byte-identical to the per-slot builder on a
        corpus with empty, NULL, whitespace-only and shorter-than-k
        docs, for both families, with and without downsampling. Text
        is the one signature input path; ``path`` keeps the test ids."""
        import hashlib

        docs = self._degenerate_docs(spark)
        sigs = minhash_signature_from_text(
            docs, ["doc_id"], downsample=downsample, family=family
        )
        rows = sorted((r.doc_id, tuple(r.sig)) for r in sigs.collect())
        got = (hashlib.md5(repr(rows).encode()).hexdigest()[:16], len(rows))
        assert got == self.SIG_CHECKSUMS[(family, downsample, path)]

    def test_signature_plan_gateway_calls_bounded(self, spark, monkeypatch):
        """Building a 128-perm signature plan must stay a few hundred
        py4j calls (the per-slot Column form took ~16,000, about a
        second of Python CPU per build): counts gateway round trips
        instead of timing them."""
        from py4j import clientserver

        docs = self._degenerate_docs(spark)
        calls = [0]
        send = clientserver.ClientServerConnection.send_command

        def counting(self, *args, **kwargs):
            calls[0] += 1
            return send(self, *args, **kwargs)

        monkeypatch.setattr(
            clientserver.ClientServerConnection, "send_command", counting
        )
        for family in ("md5", "xxhash"):
            calls[0] = 0
            minhash_signature_from_text(docs, ["doc_id"], downsample=4, family=family)
            assert calls[0] < 1000, (family, "text", calls[0])

    def test_lsh_pairs_subset_of_bruteforce(self, spark, tmp_path):
        # LSH candidates (verified ≥ threshold) ⊆ brute-force pairs on
        # the driver corpus at sf0.001, restricted to same-lang blocks
        # (brute force blocks by lang; LSH is global).
        sf = "/root/testdata/sf0.001"
        lsh = {
            (r.doc_a, r.doc_b)
            for r in plans.QUERIES["dedup_minhash_lsh"](spark, sf).collect()
        }
        brute = {
            (r.doc_a, r.doc_b)
            for r in plans.QUERIES["dedup_ngram_jaccard"](spark, sf).collect()
        }
        langs = dict(
            spark.read.parquet(f"{sf}/documents.parquet")
            .select("doc_id", "lang")
            .rdd.map(lambda r: (r.doc_id, r.lang))
            .collect()
        )
        lsh_same_lang = {p for p in lsh if langs[p[0]] == langs[p[1]]}
        assert lsh_same_lang == brute  # same threshold, full recall here


class TestFamilyParity:
    """The sf-gated md5/xxhash minhash families must be
    output-identical on the correctness corpora — the justification
    for oracle-checking the md5 family while benching xxhash
    (plans/dedup.py::dedup_minhash_lsh). Candidate SETS may differ
    (different hash draws), but every difference sits below the
    verification threshold, so the verified output cannot."""

    def _run(self, spark, name, sf, family, monkeypatch):
        monkeypatch.setenv("SPARK_GRAFT_MINHASH_FAMILY", family)
        return {tuple(r) for r in plans.QUERIES[name](spark, sf).collect()}

    @pytest.mark.parametrize("family", ["MD5", "xx", "murmur"])
    def test_unknown_family_raises(self, monkeypatch, family):
        """A typo must not fall back to picking the family by corpus
        size: the md5 oracle contract would silently not apply."""
        from hive_hdfs_practise_spark.dedup.minhash import minhash_family

        monkeypatch.setenv("SPARK_GRAFT_MINHASH_FAMILY", family)
        with pytest.raises(ValueError, match="SPARK_GRAFT_MINHASH_FAMILY"):
            minhash_family(SF_DIR)

    def test_minhash_lsh_family_swap_identical(self, spark, monkeypatch):
        sf = "/root/testdata/sf0.01"
        md5 = self._run(spark, "dedup_minhash_lsh", sf, "md5", monkeypatch)
        xx = self._run(spark, "dedup_minhash_lsh", sf, "xxhash", monkeypatch)
        assert md5 == xx and len(md5) > 0

    def test_clusters_lsh_family_swap_identical(self, spark, monkeypatch):
        sf = "/root/testdata/sf0.001"
        md5 = self._run(spark, "dedup_clusters_lsh", sf, "md5", monkeypatch)
        xx = self._run(spark, "dedup_clusters_lsh", sf, "xxhash", monkeypatch)
        assert md5 == xx and len(md5) > 0


class TestSimhash:
    def test_near_dups_have_small_hamming(self, spark, docs):
        docs.createOrReplaceTempView("documents")
        from hive_hdfs_practise_spark.functions import simhash as sh

        hashes = (
            docs.withColumn("tokens", tx.tokens(F.col("text")))
            .withColumn("tok_sigs", F.expr(sh.token_sigs_expr("spark", "tokens")))
            .select(
                "doc_id",
                F.expr(sh.simhash_expr("spark", "tok_sigs")).alias("simhash"),
            )
        )
        h = {r.doc_id: r.simhash for r in hashes.collect()}
        assert h[0] == h[1]  # identical text → identical simhash
        assert bin(h[0] ^ h[2]).count("1") <= 6   # near dup → small distance
        assert bin(h[0] ^ h[3]).count("1") > 6    # unrelated → large


class TestClusters:
    def test_connected_components_hand_graph(self, spark):
        from hive_hdfs_practise_spark.dedup.clusters import (
            connected_components,
            dedup_survivors,
        )

        # components: {1,2,3,4} (chain), {10,11}, singleton 20 absent
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a LONG, doc_b LONG"
        )
        comp = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
        surv = {
            r.doc_id: r.is_survivor
            for r in dedup_survivors(connected_components(pairs)).collect()
        }
        assert surv == {1: True, 2: False, 3: False, 4: False, 10: True, 11: False}

    def test_long_chain_converges(self, spark):
        from hive_hdfs_practise_spark.dedup.clusters import connected_components

        n = 12
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "doc_a LONG, doc_b LONG"
        )
        comp = {r.doc_id: r.cluster_id for r in connected_components(pairs).collect()}
        assert set(comp.values()) == {0}

    def test_driver_path_equals_iterative_path(self, spark, monkeypatch):
        """The r12 size-gated driver union-find must return exactly
        the iterative min-label fixpoint — pin parity on a random
        multi-component graph (chains, a clique, reversed-order
        edges so min-root unions are exercised both ways), plus the
        gate-off path via a forced zero threshold."""
        import random

        from hive_hdfs_practise_spark.dedup import clusters as cl

        rng = random.Random(7)
        # chain depth stays under the iterative path's max_iter=20
        # contract (the driver union-find is exact at ANY diameter —
        # a 40-deep chain exposes the iterative cap, not a UF bug)
        edges = [(i, i + 1) for i in range(0, 16, 1)]
        edges += [(a, b) for a in range(100, 106) for b in range(a + 1, 106)]
        edges += [(rng.randrange(200, 260), rng.randrange(200, 260)) for _ in range(80)]
        edges = [(a, b) for a, b in edges if a != b]
        rng.shuffle(edges)
        pairs = spark.createDataFrame(edges, "doc_a LONG, doc_b LONG")

        fast = {
            r.doc_id: r.cluster_id
            for r in cl.connected_components(pairs).collect()
        }
        monkeypatch.setattr(cl, "CC_DRIVER_MAX_EDGES", -1)
        slow = {
            r.doc_id: r.cluster_id
            for r in cl.connected_components(pairs).collect()
        }
        assert fast == slow and len(fast) > 0

    def test_null_ids_take_iterative_path(self, spark, monkeypatch):
        """A NULL-bearing edge graph is routed to the iterative loop by
        the engine-side check: the edge list is never collected, the
        driver union-find is never reached, and the result equals the
        forced-iterative run."""
        from hive_hdfs_practise_spark.dedup import clusters as cl

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (None, 4), (10, None), (10, 11)],
            "doc_a LONG, doc_b LONG",
        )
        edge_collects = []
        collect = type(pairs).collect

        def spying_collect(df):
            if df.columns == ["u", "v"]:
                edge_collects.append(df)
            return collect(df)

        monkeypatch.setattr(type(pairs), "collect", spying_collect)

        def no_driver(rows):
            raise AssertionError("driver union-find ran on a NULL graph")

        monkeypatch.setattr(cl, "_driver_components", no_driver)
        got = {
            r.doc_id: r.cluster_id
            for r in cl.connected_components(pairs).collect()
        }
        monkeypatch.setattr(cl, "CC_DRIVER_MAX_EDGES", -1)
        want = {
            r.doc_id: r.cluster_id
            for r in cl.connected_components(pairs).collect()
        }
        assert got == want and not edge_collects
        assert got[1] == got[2] == got[3] == 1 and got[11] == 10


class TestClustersLshParity:
    def test_lsh_clusters_equal_exact_clusters(self, spark):
        from hive_hdfs_practise_spark import plans as P

        sf = "/root/testdata/sf0.001"
        exact = {
            (r.doc_id, r.cluster_id, r.is_survivor)
            for r in P.QUERIES["dedup_clusters"](spark, sf).collect()
        }
        lsh = {
            (r.doc_id, r.cluster_id, r.is_survivor)
            for r in P.QUERIES["dedup_clusters_lsh"](spark, sf).collect()
        }
        assert exact == lsh


class TestPipelineLshParity:
    def test_lsh_pipeline_equals_exact_pipeline(self, spark):
        from hive_hdfs_practise_spark import plans as P

        sf = "/root/testdata/sf0.001"
        exact = {
            (r.split, r.n_docs, r.total_tokens)
            for r in P.QUERIES["pipeline_training_data"](spark, sf).collect()
        }
        lsh = {
            (r.split, r.n_docs, r.total_tokens)
            for r in P.QUERIES["pipeline_training_data_lsh"](spark, sf).collect()
        }
        assert exact == lsh

    def test_indexed_pipeline_equals_exact_and_stays_exchange_free(
        self, spark
    ):
        """r12: the index-reuse composition must return the identical
        split counts AND its candidate grouping must ride the written
        bucketed layout with zero exchange."""
        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.dedup import minhash as mh

        sf = "/root/testdata/sf0.001"
        exact = {
            (r.split, r.n_docs, r.total_tokens)
            for r in P.QUERIES["pipeline_training_data"](spark, sf).collect()
        }
        idx = {
            (r.split, r.n_docs, r.total_tokens)
            for r in P.QUERIES["documents_dedup_pipeline_indexed"](
                spark, sf
            ).collect()
        }
        assert exact == idx and idx
        # exchange pin on the index the query just wrote
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            banded = spark.table("pipeline_dedup_idx_bands")
            cand = mh.pairs_within_buckets(
                banded, "doc_id", ["lang", "band", "band_key"]
            )
            plan = cand._jdf.queryExecution().executedPlan().toString()
            assert "hashpartitioning(lang" not in plan.lower(), plan[:3000]
            assert "hashpartitioning(band" not in plan.lower(), plan[:3000]
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "true",
            )


class TestEmbeddingLsh:
    SF = "/root/testdata/sf0.001"

    def test_reported_cosines_exact_and_above_threshold(self, spark):
        import numpy as np

        from hive_hdfs_practise_spark import plans as P

        emb = {
            r.vec_id: np.array(r.embedding, dtype=np.float64)
            for r in spark.read.parquet(f"{self.SF}/embeddings.parquet").collect()
        }
        rows = P.QUERIES["dedup_embedding_lsh"](spark, self.SF).collect()
        assert rows, "no candidate pairs found on the test corpus"
        for r in rows:
            a, b = emb[r.vec_a], emb[r.vec_b]
            want = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
            assert abs(r.cosine - round(want, 6)) < 1e-6
            assert r.cosine >= 0.4 and r.vec_a < r.vec_b

    def test_deterministic(self, spark):
        from hive_hdfs_practise_spark import plans as P

        a = {(r.vec_a, r.vec_b) for r in P.QUERIES["dedup_embedding_lsh"](spark, self.SF).collect()}
        b = {(r.vec_a, r.vec_b) for r in P.QUERIES["dedup_embedding_lsh"](spark, self.SF).collect()}
        assert a == b

    def test_planted_duplicates_found(self, spark):
        import os
        import tempfile

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark import plans as P

        base = spark.read.parquet(f"{self.SF}/embeddings.parquet").limit(50)
        # plant an exact duplicate of each of vec_ids 0 and 1 at high ids
        dup = base.filter(F.col("vec_id") < 2).withColumn(
            "vec_id", F.col("vec_id") + 100000
        )
        with tempfile.TemporaryDirectory() as tmp:
            base.union(dup).write.parquet(os.path.join(tmp, "embeddings.parquet"))
            got = {
                (r.vec_a, r.vec_b)
                for r in P.QUERIES["dedup_embedding_lsh"](spark, tmp).collect()
            }
        # identical vectors share every band bucket → always candidates
        assert (0, 100000) in got and (1, 100001) in got


class TestSemDeDup:
    """dedup_semdedup: k-means-blocked exact cosine pairs — cosines
    exact, both endpoints co-clustered, and an exact planted
    duplicate is always found (identical vectors share a cluster:
    argmin of identical inputs picks the identical centroid)."""

    SF = "/root/testdata/sf0.001"

    def test_cosines_exact_and_co_clustered(self, spark):
        import numpy as np

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.plans.dedup import (
            SEM_MIN_NLIST,
            SEM_TARGET_CLUSTER,
        )
        from hive_hdfs_practise_spark.similarity.pq import quantize_rows

        raw = spark.read.parquet(f"{self.SF}/embeddings.parquet").collect()
        # the operator computes cosine over the 1e6-QUANTIZED integer
        # vectors (HALF_UP — never np.round, which is half-even)
        emb = {r.vec_id: quantize_rows([r.embedding])[0] for r in raw}
        nlist = max(SEM_MIN_NLIST, len(raw) // SEM_TARGET_CLUSTER)
        rows = P.QUERIES["dedup_semdedup"](spark, self.SF).collect()
        assert rows, "no semantic near-dup pairs on the test corpus"
        for r in rows:
            a, b = emb[r.vec_a], emb[r.vec_b]
            dot = int(a @ b)
            na, nb = int(a @ a), int(b @ b)
            assert dot > 0 and 25 * dot * dot >= 4 * na * nb
            want = dot / (np.sqrt(na) * np.sqrt(nb))
            assert abs(r.cosine - round(want, 6)) < 1e-6
            assert r.vec_a < r.vec_b
            assert 0 <= r.cluster_id < nlist

    def test_planted_duplicates_found(self, spark):
        import os
        import tempfile

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark import plans as P

        base = spark.read.parquet(f"{self.SF}/embeddings.parquet").limit(50)
        dup = base.filter(F.col("vec_id") < 2).withColumn(
            "vec_id", F.col("vec_id") + 100000
        )
        with tempfile.TemporaryDirectory() as tmp:
            base.union(dup).write.parquet(os.path.join(tmp, "embeddings.parquet"))
            got = {
                (r.vec_a, r.vec_b)
                for r in P.QUERIES["dedup_semdedup"](spark, tmp).collect()
            }
        # identical vectors land in the same cluster and score cosine 1
        assert (0, 100000) in got and (1, 100001) in got


class TestSimhashBucketed:
    def test_bucketed_pairs_equal_bruteforce(self, spark):
        """Pigeonhole guarantee: chunk-bucketed candidates lose NO
        pair within the Hamming threshold — exact equality, not a
        recall bound."""
        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.plans.dedup import (
            HAMMING_THRESHOLD,
            SIMHASH_SCALE_BITS,
            _simhash_signatures,
        )
        from hive_hdfs_practise_spark.sources.catalog import table

        sf = "/root/testdata/sf0.001"
        got = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in P.QUERIES["dedup_simhash_bucketed"](spark, sf).collect()
        }
        h = _simhash_signatures(
            table(spark, sf, "documents"), SIMHASH_SCALE_BITS
        ).localCheckpoint(eager=True)
        a, b = h.alias("a"), h.alias("b")
        brute = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in a.join(
                b,
                (F.col("a.lang") == F.col("b.lang"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.expr("bit_count(a.simhash ^ b.simhash)").cast("int").alias("hamming"),
            )
            .filter(F.col("hamming") <= HAMMING_THRESHOLD)
            .collect()
        }
        assert got == brute and len(got) > 0


class TestPairSkewGuard:
    """r4: pairs_within_buckets chunks oversized buckets so one
    boilerplate mega-bucket cannot serialize the quadratic pair
    expansion in a single task (the planted-hot-bucket scenario from
    SCALING.md's methodology note)."""

    def _pairs(self, spark, rows):
        from hive_hdfs_practise_spark.dedup.minhash import pairs_within_buckets

        df = spark.createDataFrame(rows, "doc_id long, bucket string")
        out = pairs_within_buckets(df, "doc_id", ["bucket"])
        return {(r.doc_a, r.doc_b) for r in out.collect()}

    def test_mega_bucket_pairs_exact_under_chunking(self, spark, monkeypatch):
        """With PAIR_CHUNK forced tiny, a 120-id hot bucket spans 8
        chunks (36 cells) — the chunked expansion must reproduce the
        exact combination set, incl. a small bucket and overlap
        dedup across buckets."""
        import itertools

        from hive_hdfs_practise_spark.dedup import minhash as mh

        monkeypatch.setattr(mh, "PAIR_CHUNK", 16)
        hot = [(i, "hot") for i in range(120)]
        small = [(i, "small") for i in (3, 5, 200)]
        single = [(999, "lonely")]
        want = {
            tuple(sorted(p)) for p in itertools.combinations(range(120), 2)
        } | {(3, 5), (3, 200), (5, 200)}
        got = self._pairs(spark, hot + small + single)
        assert got == want

    def test_small_buckets_single_cell_identity(self, spark):
        """At the default PAIR_CHUNK, ordinary buckets produce one
        (0,0) cell — output identical to plain combinations."""
        rows = [(i, "b1") for i in range(10)] + [(i, "b2") for i in (1, 2)]
        import itertools

        want = {tuple(sorted(p)) for p in itertools.combinations(range(10), 2)} | {
            (1, 2)
        }
        assert self._pairs(spark, rows) == want

    def test_expansion_happens_after_redistribution(self, spark):
        """Structural pin: the pair-generating Generate sits ABOVE a
        round-robin exchange, which sits above the bucket aggregate —
        i.e. a hot bucket's cells are spread across tasks before the
        quadratic explode runs, not expanded inside the aggregating
        task."""
        from hive_hdfs_practise_spark.dedup.minhash import pairs_within_buckets

        df = spark.createDataFrame(
            [(i, "b") for i in range(5)], "doc_id long, bucket string"
        )
        plan = (
            pairs_within_buckets(df, "doc_id", ["bucket"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        gen = plan.index("Generate explode")
        rr = plan.index("RoundRobinPartitioning")
        agg = plan.index("collect_set")
        assert gen < rr < agg


class TestEmbeddingLshStrict:
    """r4: the production-shaped strict twin (threshold 0.95,
    8 x 16-bit bands) — empty on this corpus (pinned by the oracle),
    perfect recall on planted exact duplicates (identical vectors
    share every band bucket)."""

    def test_corpus_has_no_strict_pairs(self, spark):
        assert (
            plans.QUERIES["dedup_embedding_lsh_strict"](
                spark, "/root/testdata/sf0.001"
            ).count()
            == 0
        )

    def test_planted_duplicates_found(self, spark):
        import os
        import tempfile

        base = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).limit(50)
        dup = base.filter(F.col("vec_id") < 2).withColumn(
            "vec_id", F.col("vec_id") + 100000
        )
        with tempfile.TemporaryDirectory() as tmp:
            base.union(dup).write.parquet(os.path.join(tmp, "embeddings.parquet"))
            got = {
                (r.vec_a, r.vec_b)
                for r in plans.QUERIES["dedup_embedding_lsh_strict"](
                    spark, tmp
                ).collect()
            }
        assert (0, 100000) in got and (1, 100001) in got


class TestFamilyPlantedCollisions:
    """r5: the md5/xxhash family swap must change CANDIDATES but never
    the verified OUTPUT — pinned on a corpus CRAFTED so the two
    families' bandings disagree in BOTH directions (gray-zone pairs at
    Jaccard ~0.55-0.7, where per-band collision odds are ~0.2-0.6 and
    family-dependent), plus high-J pairs both families must detect."""

    @staticmethod
    def _crafted_docs():
        import random

        rng = random.Random(1)  # seed searched offline: banding
        # asymmetry in both directions (2 md5-only / 4 xxhash-only
        # candidate pairs at authoring time) with identical output

        def words(n):
            return " ".join(
                "".join(
                    rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(6)
                )
                for _ in range(n)
            )

        docs = []
        did = 0
        for _ in range(10):  # background
            docs.append((did, words(40)))
            did += 1
        for _ in range(2):  # high-J pairs: the verified output
            base = words(60)
            docs.append((did, base + " " + words(2)))
            did += 1
            docs.append((did, base + " " + words(2)))
            did += 1
        for k in range(14):  # gray-zone pairs, J in [0.52, 0.66] —
            # strictly BELOW tau: pairs ABOVE tau in the banding-miss
            # zone (J ~0.7-0.8, detection ~0.6-0.95) would let the
            # families disagree on OUTPUT legitimately, which is the
            # probabilistic-recall caveat this corpus must stay clear
            # of to pin swap-invariance
            c = 30 + (k % 5) * 2
            t = 14 - (k % 5)
            common = words(c)
            docs.append((did, common + " " + words(t)))
            did += 1
            docs.append((did, common + " " + words(t)))
            did += 1
        return docs

    @pytest.fixture(scope="class")
    def crafted_dir(self, tmp_path_factory):
        import pandas as pd

        docs = self._crafted_docs()
        d = tmp_path_factory.mktemp("famsf")
        pd.DataFrame(
            {
                "doc_id": [i for i, _ in docs],
                "text": [t for _, t in docs],
                "lang": ["en"] * len(docs),
                "source": ["src0"] * len(docs),
                "n_chars": [len(t) for _, t in docs],
            }
        ).to_parquet(str(d / "documents.parquet"))
        return str(d)

    def test_candidates_differ_both_directions(self, spark, crafted_dir):
        from hive_hdfs_practise_spark.dedup import minhash as mh

        docs = spark.read.parquet(f"{crafted_dir}/documents.parquet").select(
            "doc_id", "text"
        )

        def candidates(family):
            sigs = mh.minhash_signature_from_text(
                docs, ["doc_id"], downsample=4, family=family
            )
            return {
                (r.doc_a, r.doc_b)
                for r in mh.lsh_candidate_pairs(sigs, family=family).collect()
            }

        cm, cx = candidates("md5"), candidates("xxhash")
        assert cm - cx, "corpus must contain md5-only band collisions"
        assert cx - cm, "corpus must contain xxhash-only band collisions"

    def test_verified_output_identical_and_nonempty(
        self, spark, crafted_dir, monkeypatch
    ):
        def run(family):
            monkeypatch.setenv("SPARK_GRAFT_MINHASH_FAMILY", family)
            return {
                tuple(r)
                for r in plans.QUERIES["dedup_minhash_lsh"](
                    spark, crafted_dir
                ).collect()
            }

        md5, xx = run("md5"), run("xxhash")
        assert md5 == xx
        assert len(md5) >= 2  # both planted high-J pairs found


class TestDuplicateSpans:
    """r6: documents_duplicate_spans — a planted shared passage must
    surface as one maximal span with exact boundaries in BOTH docs;
    an all-unique corpus yields nothing."""

    def test_planted_shared_passage(self, spark, tmp_path):
        import os

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.plans.dedup import ESD_K

        import random

        rng = random.Random(7)
        uniq = lambda n: "".join(  # noqa: E731
            rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(n)
        )
        shared = "the quick brown fox jumps over the lazy dog repeatedly"
        a_pre, b_pre = uniq(40), uniq(55)
        rows = [
            (1, a_pre + shared + uniq(30), "en", "s1", 0),
            (2, b_pre + shared + uniq(25), "en", "s2", 0),
            (3, uniq(120), "en", "s3", 0),
        ]
        df = spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        out = os.path.join(tmp_path, "documents.parquet")
        df.write.parquet(out)
        got = {
            r.doc_id: (r.span_start, r.span_end, r.span_len)
            for r in P.QUERIES["documents_duplicate_spans"](
                spark, str(tmp_path)
            ).collect()
        }
        # duplicated k-gram STARTS cover exactly the shared passage:
        # first start = passage offset (1-based), last start =
        # offset + len(shared) - K, so the span ends at the passage's
        # last char
        for doc_id, pre in ((1, a_pre), (2, b_pre)):
            start = len(pre) + 1
            end = len(pre) + len(shared)
            assert got[doc_id] == (start, end, len(shared))
        assert 3 not in got  # unique doc carries no duplicated span


class TestWinnowingPairs:
    """r6: documents_winnowing_pairs — the MOSS guarantee (a shared
    substring of length >= W+K-1 yields >= 1 shared fingerprint) on
    a planted passage, and a from-scratch Python winnowing recompute
    of the full pair table."""

    @staticmethod
    def _winnow(text, K=8, W=4):
        import hashlib

        P32 = 4_294_967_291
        n = len(text)
        hs = []
        for i in range(1, max(n - K + 1, 0) + 1):
            g = text[i - 1 : i - 1 + K]
            hs.append((i, int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % P32))
        POS = 1 << 20
        sel = set()
        for e in range(W, len(hs) + 1):
            win = hs[e - W : e]
            key = min(h * POS + (POS - i) for i, h in win)
            sel.add(key // POS)
        return sel

    def test_full_pair_table_matches_python(self, spark, tmp_path):
        import os

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.plans.dedup import (
            WIN_DF_CAP,
            WIN_MIN_SHARED,
        )

        import random

        rng = random.Random(11)
        words = ["alpha", "beta", "gamma", "delta", "omega", "sigma"]
        mk = lambda: " ".join(rng.choice(words) for _ in range(30))  # noqa: E731
        shared = "this exact passage is planted into two documents"
        texts = {1: mk() + " " + shared, 2: shared + " " + mk(), 3: mk(), 4: mk()}
        rows = [(i, t, "en", f"s{i}", len(t)) for i, t in texts.items()]
        df = spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.parquet(os.path.join(tmp_path, "documents.parquet"))
        got = {
            (r.doc_a, r.doc_b): r.n_shared
            for r in P.QUERIES["documents_winnowing_pairs"](
                spark, str(tmp_path)
            ).collect()
        }
        fps = {i: self._winnow(t) for i, t in texts.items()}
        df_count: dict = {}
        for s_ in fps.values():
            for h in s_:
                df_count[h] = df_count.get(h, 0) + 1
        rare = {h for h, c in df_count.items() if c <= WIN_DF_CAP}
        want = {}
        ids = sorted(fps)
        for x in ids:
            for y in ids:
                if x < y:
                    n = len(fps[x] & fps[y] & rare)
                    if n >= WIN_MIN_SHARED:
                        want[(x, y)] = n
        assert got == want
        # the guarantee: docs 1 and 2 share a >= W+K-1 char passage
        assert (1, 2) in got


class TestDuplicateSpansSummary:
    """r7: the capped span miner — per-doc stats must equal a direct
    recompute from the exact twin's span table, and dup_frac must be
    the exact-integer ratio."""

    def test_matches_exact_twin_aggregation(self, spark):
        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.sources.catalog import wide_table
        from pyspark.sql import functions as F

        sf = "/root/testdata/sf0.001"
        spans = P.QUERIES["documents_duplicate_spans"](spark, sf).collect()
        lens = {
            r.doc_id: r.n
            for r in wide_table(spark, sf, "documents")
            .select("doc_id", F.length("text").alias("n"))
            .collect()
        }
        # merge the exact twin's spans whose CHAR ranges overlap or
        # touch before aggregating — the summary reports the char-set
        # union (see the gap=ESD_K note in the builder)
        by_doc: dict = {}
        for r in spans:
            by_doc.setdefault(r.doc_id, []).append(
                (r.span_start, r.span_end, r.n_dup_grams)
            )
        want: dict = {}
        for doc, sp in by_doc.items():
            sp.sort()
            merged = []
            for s, e, n in sp:
                if merged and s <= merged[-1][1] + 1:
                    merged[-1][1] = max(merged[-1][1], e)
                    merged[-1][2] += n
                else:
                    merged.append([s, e, n])
            n_spans = len(merged)
            n_grams = sum(m[2] for m in merged)
            mx = max(m[1] - m[0] + 1 for m in merged)
            chars = sum(m[1] - m[0] + 1 for m in merged)
            want[doc] = (n_spans, n_grams, mx, chars)
        got = P.QUERIES["documents_duplicate_spans_summary"](spark, sf).collect()
        assert {r.doc_id for r in got} == set(want)
        for r in got:
            n_spans, n_grams, mx, chars = want[r.doc_id]
            assert r.dup_frac <= 1.0 + 1e-9
            assert (r.n_spans, r.n_dup_grams, r.max_span_len, r.dup_chars) == (
                n_spans,
                n_grams,
                mx,
                chars,
            )
            # HALF_UP like Spark/DuckDB round(), not Python's
            # banker's rounding (the recurring np.round test defect)
            from decimal import ROUND_HALF_UP, Decimal

            want_frac = float(
                Decimal(chars / lens[r.doc_id]).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            assert abs(r.dup_frac - want_frac) < 1e-9


class TestWinnowingTopPairs:
    def test_subset_of_exact_twin_and_planted_recall(self, spark, tmp_path):
        """Capped pairs are exact-twin pairs with n_shared bounded by
        the un-capped count, and the planted passage (rare shared
        fingerprints → inside both budgets) is recalled."""
        import os

        from hive_hdfs_practise_spark import plans as P

        import random

        rng = random.Random(11)
        words = ["alpha", "beta", "gamma", "delta", "omega", "sigma"]
        mk = lambda: " ".join(rng.choice(words) for _ in range(30))  # noqa: E731
        shared = "this exact passage is planted into two documents"
        texts = {1: mk() + " " + shared, 2: shared + " " + mk(), 3: mk(), 4: mk()}
        rows = [(i, t, "en", f"s{i}", len(t)) for i, t in texts.items()]
        df = spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        df.write.parquet(os.path.join(tmp_path, "documents.parquet"))
        exact = {
            (r.doc_a, r.doc_b): r.n_shared
            for r in P.QUERIES["documents_winnowing_pairs"](
                spark, str(tmp_path)
            ).collect()
        }
        got = {
            (r.doc_a, r.doc_b): r.n_shared
            for r in P.QUERIES["documents_winnowing_top_pairs"](
                spark, str(tmp_path)
            ).collect()
        }
        assert (1, 2) in got
        for pair, n in got.items():
            assert pair in exact and n <= exact[pair]

    def test_corpus_subset(self, spark):
        from hive_hdfs_practise_spark import plans as P

        sf = "/root/testdata/sf0.001"
        exact = {
            (r.doc_a, r.doc_b): r.n_shared
            for r in P.QUERIES["documents_winnowing_pairs"](spark, sf).collect()
        }
        got = P.QUERIES["documents_winnowing_top_pairs"](spark, sf).collect()
        assert got
        for r in got:
            assert (r.doc_a, r.doc_b) in exact
            assert r.n_shared <= exact[(r.doc_a, r.doc_b)]


class TestUrlDedup:
    """r7: documents_url_dedup — from-scratch Python recompute of the
    synthetic-URL construction AND the canonicalizer; also pins that
    the md5 noise actually exercises the normalizer (raw URLs within
    a group are not all identical)."""

    @staticmethod
    def _canon(url):
        import re

        u = re.sub(r"#.*$", "", url).lower()
        u = re.sub(r"^https?://", "", u)
        hostport, _, tail = u.partition("/")
        tail = "/" + tail if tail or u.endswith("/") else ""
        host = re.sub(r":(80|443)$", "", re.sub(r"^www\.", "", hostport))
        path, _, q = tail.partition("?")
        path = re.sub(r"/+$", "", path)
        if q:
            ps = sorted(
                p
                for p in q.split("&")
                if not (
                    p.startswith("utm_")
                    or p.startswith("fbclid=")
                    or p.startswith("gclid=")
                )
            )
            q = "&".join(ps)
        return host + path + ("?" + q if q else "")

    @staticmethod
    def _synth(doc_id, source):
        import hashlib

        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        nib = lambda k: int(h[k - 1], 16)  # noqa: E731
        scheme = "HTTP" if nib(1) % 2 == 0 else "https"
        www = "WWW." if nib(2) % 2 == 0 else ""
        port = (
            (":80" if nib(1) % 2 == 0 else ":443") if nib(3) % 2 == 0 else ""
        )
        slash = "/" if nib(4) % 2 == 0 else ""
        q = ["?x=1&utm_source=feed", "?utm_campaign=z&x=1", "?x=1"][nib(5) % 3]
        frag = "#Sec2" if nib(6) % 2 == 0 else ""
        return (
            f"{scheme}://{www}{source}.Example.COM{port}"
            f"/Docs/{doc_id // 100}{slash}{q}{frag}"
        )

    def test_groups_match_python_recompute(self, spark):
        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        docs = wide_table(spark, sf, "documents").select("doc_id", "source").collect()
        raw = {r.doc_id: self._synth(r.doc_id, r.source) for r in docs}
        groups: dict = {}
        for did, u in raw.items():
            groups.setdefault(self._canon(u), []).append(did)
        want = {
            k: sorted(v) for k, v in groups.items() if len(v) >= 2
        }
        got = {
            r.canonical_url: (r.n_docs, r.keeper_doc_id, r.doc_ids)
            for r in P.QUERIES["documents_url_dedup"](spark, sf).collect()
        }
        assert set(got) == set(want)
        noisy_group_seen = False
        for k, ids in want.items():
            n, keeper, id_str = got[k]
            assert (n, keeper) == (len(ids), min(ids))
            assert id_str == ",".join(str(i) for i in ids)
            if len({raw[i] for i in ids}) > 1:
                noisy_group_seen = True
        # the md5 noise must be live: some group's RAW urls differ
        assert noisy_group_seen


class TestRemoveDuplicateSpans:
    def test_excision_matches_python_and_planted(self, spark, tmp_path):
        """Planted shared passage: the cleaned texts must equal a
        from-scratch Python excision of the char-union islands, and
        the planted duplicate region must be gone from both docs."""
        import os

        from hive_hdfs_practise_spark import plans as P

        shared = "".join(chr(97 + (i * 7) % 26) for i in range(60))  # 60 chars
        a_text = "A-unique-prefix-0123456789 " + shared + " A-unique-tail-abcdef"
        b_text = shared + " B-own-middle-zyxwvu " + shared
        rows = [
            (1, a_text, "en", "s", len(a_text)),
            (2, b_text, "en", "s", len(b_text)),
            (3, "no duplicated material whatsoever here", "en", "s", 38),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.parquet(os.path.join(tmp_path, "documents.parquet"))

        def clean(text, all_texts, K=20):
            from collections import Counter

            grams = Counter()
            for t in all_texts:
                for i in range(len(t) - K + 1):
                    grams[t[i : i + K]] += 1
            dup_pos = [
                i
                for i in range(len(text) - K + 1)
                if grams[text[i : i + K]] >= 2
            ]
            # char-union islands (merge when gap <= K), then excise
            islands = []
            for i in dup_pos:
                if islands and i - islands[-1][1] <= K:
                    islands[-1][1] = i
                else:
                    islands.append([i, i])
            kept, prev = [], 0
            for s, e in islands:
                kept.append(text[prev:s])
                prev = e + K
            kept.append(text[prev:])
            return "".join(kept)

        texts = [t for _, t, _, _, _ in rows]
        got = {
            r.doc_id: (r.clean_text, r.orig_len, r.clean_len, r.removed_chars)
            for r in P.QUERIES["documents_remove_duplicate_spans"](
                spark, str(tmp_path)
            ).collect()
        }
        for did, text, *_ in rows:
            want = clean(text, texts)
            ct, ol, cl, rm = got[did]
            assert ct == want
            assert (ol, cl, rm) == (len(text), len(want), len(text) - len(want))
        assert shared not in got[1][0] and shared not in got[2][0]
        assert got[3][0] == rows[2][1]  # clean doc untouched


class TestSurvivorsQuality:
    """r8: dedup_survivors_quality — same clusters as
    dedup_clusters_lsh, survivor = python argmax of the engine's own
    quality scores (unique doc_id tiebreak), exactly one per
    cluster."""

    def test_survivor_is_quality_argmax(self, spark):
        from hive_hdfs_practise_spark import plans as P

        sf = "/root/testdata/sf0.001"
        got = P.QUERIES["dedup_survivors_quality"](spark, sf).collect()
        assert got
        base = {
            r.doc_id: r.cluster_id
            for r in P.QUERIES["dedup_clusters_lsh"](spark, sf).collect()
        }
        assert {r.doc_id: r.cluster_id for r in got} == base
        by_cluster: dict = {}
        for r in got:
            by_cluster.setdefault(r.cluster_id, []).append(r)
        for cid, rows in by_cluster.items():
            best = max(rows, key=lambda r: (r.quality, -r.doc_id))
            for r in rows:
                assert r.is_survivor == (r.doc_id == best.doc_id)
            assert sum(r.is_survivor for r in rows) == 1


class TestMinhashIndexed:
    """r8: dedup_minhash_indexed — the materialized band index. The
    candidate-pair groupBy must ride the bucketed layout with NO
    exchange, and the indexed query's output must equal the inline
    dedup_minhash_lsh pair set."""

    def test_bucketed_candidates_no_exchange_and_parity(self, spark):
        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.dedup import minhash as mh
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        d = wide_table(spark, sf, "documents").select("doc_id", "text")
        mh.write_minhash_index(
            spark, d, "minhash_test_idx", downsample=4, family="md5"
        )
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        banded = spark.table("minhash_test_idx_bands")
        cand = mh.pairs_within_buckets(
            banded, "doc_id", ["band", "band_key"]
        )
        plan = cand._jdf.queryExecution().executedPlan().toString()
        # the bucketed table provides the (band, band_key) hash
        # distribution, so NO exchange keyed on the bucket columns
        # may exist anywhere in the plan (plans print root-first, so
        # a prefix check would vacuously pass — r8 review catch); the
        # candidate-sized distinct above it may shuffle on doc pairs
        assert "hashpartitioning(band" not in plan.lower(), plan[:3000]
        inline = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in P.QUERIES["dedup_minhash_lsh"](spark, sf).collect()
        }
        indexed = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in P.QUERIES["dedup_minhash_indexed"](spark, sf).collect()
        }
        assert indexed == inline and indexed

    def test_probe_delta_plan_and_parity(self, spark):
        """r9: dedup_minhash_probe_delta — the incremental ingestion
        probe. (a) Parity: banding is per-doc independent, so the
        probe's verified (new, corpus) pairs must equal EXACTLY the
        cross-split subset of the full dedup_minhash_lsh pair set.
        (b) Plan pin: the probe must read both index tables and never
        re-shingle the corpus as a whole — the Generates are the two
        candidate-bounded verify materializations (r13: shingle
        arrays and intersect counts become attributes via
        explode(array(...)) so the threshold cannot inline them into
        the join condition) above the delta banding posexplode
        (delta signatures hide behind their checkpoint), and
        documents.parquet appears exactly twice (the
        candidate-bounded verify text joins)."""
        import re

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.plans.dedup import (
            PROBE_DELTA_NIBBLE,
        )

        sf = "/root/testdata/sf0.001"
        df = P.QUERIES["dedup_minhash_probe_delta"](spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "minhash_probe_idx_bands" in plan
        assert "minhash_probe_idx_sigs" in plan
        gens = re.findall(r"Generate (\w+)", plan)
        assert gens == ["explode", "explode", "posexplode"], gens
        assert len(re.findall(r"documents\.parquet", plan)) == 2
        got = {(r.doc_new, r.doc_corpus, r.jaccard) for r in df.collect()}

        def nib(doc_id):
            import hashlib

            return hashlib.md5(str(doc_id).encode()).hexdigest()[0]

        want = set()
        for r in P.QUERIES["dedup_minhash_lsh"](spark, sf).collect():
            da, db = (
                nib(r.doc_a) == PROBE_DELTA_NIBBLE,
                nib(r.doc_b) == PROBE_DELTA_NIBBLE,
            )
            if da and not db:
                want.add((r.doc_a, r.doc_b, r.jaccard))
            elif db and not da:
                want.add((r.doc_b, r.doc_a, r.jaccard))
        assert got == want and got

    def test_survivors_indexed_parity_and_no_exchange(self, spark):
        """r9: dedup_survivors_indexed must equal
        dedup_survivors_quality row-for-row (same oracle, same
        closure/quality machinery — only the pair front end rides
        the written lang-blocked bands table), and the candidate
        groupBy over the bucketed index must be exchange-free even
        though it groups on the SUPERSET (lang, band, band_key) of
        the (band, band_key) bucket key."""
        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.dedup import minhash as mh

        sf = "/root/testdata/sf0.001"
        df = P.QUERIES["dedup_survivors_indexed"](spark, sf)
        got = {
            r.doc_id: (r.cluster_id, r.quality, r.is_survivor)
            for r in df.collect()
        }
        base = {
            r.doc_id: (r.cluster_id, r.quality, r.is_survivor)
            for r in P.QUERIES["dedup_survivors_quality"](
                spark, sf
            ).collect()
        }
        assert got == base and got
        # superset-grouping exchange pin on the index the query wrote
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            banded = spark.table("minhash_fam_idx_bands")
            cand = mh.pairs_within_buckets(
                banded, "doc_id", ["lang", "band", "band_key"]
            )
            plan = cand._jdf.queryExecution().executedPlan().toString()
            assert "hashpartitioning(lang" not in plan.lower(), plan[:3000]
            assert "hashpartitioning(band" not in plan.lower(), plan[:3000]
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "true",
            )

    def test_cross_source_indexed_parity_and_no_exchange(self, spark):
        """r10: dedup_cross_source_indexed must equal the inline
        dedup_cross_source_matrix row-for-row (same oracle, same
        rollup helper — only the pair front end rides the written
        minhash_doc_idx bands table), and the candidate groupBy over
        the bucketed index must be exchange-free."""
        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.dedup import minhash as mh

        sf = "/root/testdata/sf0.001"
        df = P.QUERIES["dedup_cross_source_indexed"](spark, sf)
        got = {(r.source_a, r.source_b): r.n_pairs for r in df.collect()}
        base = {
            (r.source_a, r.source_b): r.n_pairs
            for r in P.QUERIES["dedup_cross_source_matrix"](
                spark, sf
            ).collect()
        }
        assert got == base and got
        # exchange pin on the index the query wrote
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            banded = spark.table("minhash_doc_idx_bands")
            cand = mh.pairs_within_buckets(
                banded, "doc_id", ["band", "band_key"]
            )
            plan = cand._jdf.queryExecution().executedPlan().toString()
            assert "hashpartitioning(band" not in plan.lower(), plan[:3000]
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "true",
            )

    def test_index_append_untouched_files_and_parity(self, spark):
        """r10: append_minhash_index must (a) never rewrite existing
        index files — the append adds per-bucket files next to them,
        (b) write ONLY delta-derived rows into the new files, and
        (c) produce an index equal row-for-row to a from-scratch
        build over the union corpus (signatures/bands are per-doc
        deterministic)."""
        import hashlib
        import os
        from urllib.parse import urlparse

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.dedup import minhash as mh
        from hive_hdfs_practise_spark.plans.dedup import (
            PROBE_DELTA_NIBBLE,
            _probe_delta_col,
        )
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        d = wide_table(spark, sf, "documents").select("doc_id", "text")
        delta = d.filter(_probe_delta_col())
        corpus = d.filter(~_probe_delta_col())
        mh.write_minhash_index(
            spark, corpus, "minhash_append_test_idx", downsample=4,
            family="md5",
        )

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

        def snap(suffix):
            root = f"{wh}/minhash_append_test_idx{suffix}"
            out = {}
            for dp, _, fs in os.walk(root):
                for f in fs:
                    if f.endswith(".parquet"):
                        path = os.path.join(dp, f)
                        with open(path, "rb") as fh:
                            out[path] = hashlib.md5(fh.read()).hexdigest()
            return out

        before_bands, before_sigs = snap("_bands"), snap("_sigs")
        mh.append_minhash_index(
            spark, delta, "minhash_append_test_idx", downsample=4,
            family="md5",
        )
        after_bands, after_sigs = snap("_bands"), snap("_sigs")
        # (a) every pre-existing file survives byte-for-byte
        for pre, post in ((before_bands, after_bands), (before_sigs, after_sigs)):
            for path, digest in pre.items():
                assert post.get(path) == digest, path
        # (b) the new band files hold ONLY delta doc_ids
        new_files = sorted(set(after_bands) - set(before_bands))
        assert new_files
        new_ids = {
            r.doc_id
            for r in spark.read.parquet(*new_files)
            .select("doc_id")
            .distinct()
            .collect()
        }
        assert new_ids and all(
            hashlib.md5(str(i).encode()).hexdigest()[0] == PROBE_DELTA_NIBBLE
            for i in new_ids
        )
        # (c) appended index == from-scratch build over the union
        mh.write_minhash_index(
            spark, d, "minhash_append_full_idx", downsample=4, family="md5"
        )
        got = {
            tuple(r)
            for r in spark.table("minhash_append_test_idx_bands").collect()
        }
        want = {
            tuple(r)
            for r in spark.table("minhash_append_full_idx_bands").collect()
        }
        assert got == want and got
        # ... and the _sigs table too (r10 advice): the appended
        # signature rows feed _indexed_pairs' agreement prefilter, so
        # a sigs-append bug that still wrote correct bands would
        # otherwise only surface indirectly through the oracle
        got_sigs = {
            (r.doc_id, tuple(r.sig))
            for r in spark.table("minhash_append_test_idx_sigs").collect()
        }
        want_sigs = {
            (r.doc_id, tuple(r.sig))
            for r in spark.table("minhash_append_full_idx_sigs").collect()
        }
        assert got_sigs == want_sigs and got_sigs

    def test_append_write_sized_to_delta(self, spark):
        """A small-delta append, on either index family and at any
        bucket count, writes one file per touched bucket, each holding
        only rows whose bucket-column hash is its bucket id, from a
        write stage of k tasks, k | n_buckets and no more than the
        delta's partitions (here at most the session's 8 shuffle
        partitions) — not n_buckets tasks. The append is given no
        bucket count: it reads the table's from the catalog."""
        import os
        import random
        import re
        from collections import Counter

        from hive_hdfs_practise_spark.dedup import minhash as mh
        from hive_hdfs_practise_spark.operators.compaction import (
            table_location,
        )
        from hive_hdfs_practise_spark.similarity.knn import (
            append_ivf_index,
            write_ivf_index,
        )

        rng = random.Random(3)
        words = ["alpha", "beta", "gamma", "delta", "omega", "kappa", "sigma"]
        docs = spark.createDataFrame(
            [(i, " ".join(rng.choice(words) for _ in range(30))) for i in range(60)],
            "doc_id long, text string",
        )
        vecs = spark.createDataFrame(
            [(i, [float(i % 5), float(i % 7), 1.0]) for i in range(60)],
            "vec_id long, embedding array<double>",
        )
        mh_prefix = "minhash_append_layout_idx"
        ivf_prefix = "ivf_append_layout_idx"
        cases = [
            (
                f"{mh_prefix}_bands", ["band", "band_key"], 16,
                lambda: mh.write_minhash_index(
                    spark, docs.filter("doc_id < 40"), mh_prefix,
                    downsample=4, family="md5", n_buckets=16,
                ),
                lambda: mh.append_minhash_index(
                    spark, docs.filter("doc_id >= 40"), mh_prefix,
                    downsample=4, family="md5",
                ),
            ),
            (
                f"{ivf_prefix}_assign", ["cluster_id"], 8,
                lambda: write_ivf_index(
                    spark, vecs.filter("vec_id < 40"), ivf_prefix, iters=1
                ),
                lambda: append_ivf_index(
                    spark, vecs.filter("vec_id >= 40"), ivf_prefix
                ),
            ),
        ]
        sc = spark.sparkContext
        st = sc.statusTracker()
        for table, cols, n, build, append in cases:
            build()
            root = table_location(spark, table)

            def files():
                return {f for f in os.listdir(root) if f.endswith(".parquet")}

            before = files()
            group = f"append-layout-pin-{table}"
            sc.setJobGroup(group, "append")
            try:
                append()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            write_job = max(st.getJobIdsForGroup(group))
            write_stage = max(st.getJobInfo(write_job).stageIds)
            tasks = st.getStageInfo(write_stage).numTasks
            assert tasks <= 8 and n % tasks == 0, (table, tasks)

            new = sorted(files() - before)
            assert new, table
            bucket_of = {
                f: int(re.search(r"_(\d{5})\.c\d+", f).group(1)) for f in new
            }
            assert max(Counter(bucket_of.values()).values()) == 1, table
            hashed = (
                spark.read.parquet(*[os.path.join(root, f) for f in new])
                .groupBy(F.input_file_name().alias("f"))
                .agg(
                    F.collect_set(
                        F.pmod(F.hash(*cols), F.lit(n))
                    ).alias("b")
                )
                .collect()
            )
            assert len(hashed) == len(new), table
            for r in hashed:
                assert r.b == [bucket_of[os.path.basename(r.f)]], r.f

    def test_auto_bucketed_scan_conf_restored(self, spark):
        """r9 advice fix: the indexed query pins autoBucketedScan=false
        for ITS plan only — build_with_conf forces the physical plan
        then restores the session value, so a shared bench/sweep
        session sees no cross-query side effect. The pinned plan must
        still be exchange-free after the restore."""
        from hive_hdfs_practise_spark import plans as P

        key = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
        spark.conf.set(key, "true")
        df = P.QUERIES["dedup_minhash_indexed"](
            spark, "/root/testdata/sf0.001"
        )
        assert spark.conf.get(key) == "true"  # restored at build time
        rows = df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning(band" not in plan.lower()
        assert rows


class TestIndexCompact:
    """r11: compact_bucketed_table must shrink the appended index's
    file count while preserving every band row, every file's
    bucket-id encoding, and the exchange-free bucketed probe."""

    def test_compaction_shrinks_preserves_and_stays_pruned(self, spark):
        import os

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.dedup import minhash as mh
        from hive_hdfs_practise_spark.operators.compaction import (
            bucket_id_of,
            compact_bucketed_table,
            table_location,
        )
        from hive_hdfs_practise_spark.plans.dedup import _probe_delta_col
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        d = wide_table(spark, sf, "documents").select("doc_id", "text")
        kw = dict(downsample=4, family="md5")
        mh.write_minhash_index(
            spark, d.filter(~_probe_delta_col()), "minhash_cpt_test_idx",
            **kw,
        )
        mh.append_minhash_index(
            spark, d.filter(_probe_delta_col()), "minhash_cpt_test_idx",
            **kw,
        )
        table = "minhash_cpt_test_idx_bands"
        before_rows = {tuple(r) for r in spark.table(table).collect()}
        path = table_location(spark, table)
        n_before = sum(
            1 for f in os.listdir(path) if f.endswith(".parquet")
        )
        stats = compact_bucketed_table(spark, table)
        # (a) the append's extra per-bucket files are gone
        assert stats.n_files_before == n_before
        assert stats.n_files_after < n_before
        assert stats.n_buckets_touched > 0
        assert stats.bytes_rewritten <= stats.total_bytes
        # (b) every surviving file still encodes a valid bucket id
        names = [f for f in os.listdir(path) if f.endswith(".parquet")]
        assert len(names) == stats.n_files_after
        assert all(bucket_id_of(f) is not None for f in names)
        # (c) band-row SET parity — nothing lost, nothing duplicated
        after = [tuple(r) for r in spark.table(table).collect()]
        assert len(after) == len(before_rows)
        assert set(after) == before_rows
        # (d) the bucketed probe stays exchange-free post-compaction
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            cand = mh.pairs_within_buckets(
                spark.table(table), "doc_id", ["band", "band_key"]
            )
            plan = cand._jdf.queryExecution().executedPlan().toString()
            assert "hashpartitioning(band" not in plan.lower(), plan[:3000]
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "true",
            )

    def test_registered_compact_query_matches_inline(self, spark):
        """The compacted-index probe must return the inline
        pipeline's exact pair set (the oracle certifies this against
        DuckDB; this pins it against the sibling query in-session)."""
        from hive_hdfs_practise_spark import plans as P

        sf = "/root/testdata/sf0.001"
        got = {
            (r.doc_a, r.doc_b)
            for r in P.QUERIES["dedup_minhash_index_compact"](
                spark, sf
            ).collect()
        }
        want = {
            (r.doc_a, r.doc_b)
            for r in P.QUERIES["dedup_minhash_lsh"](spark, sf).collect()
        }
        assert got == want and got


class TestIngestBatchCompiles:
    """A steady-state ingest batch (probe + append, the perfbench
    ``ingest`` op) selected by a per-batch ``doc_id BETWEEN`` range
    must not recompile the 128-slot signature stage, and the probe's
    plan must carry no batch literal and no bucketed band scan."""

    @staticmethod
    def _codegen(spark):
        """(compiles so far, the source sizes the histogram holds)."""
        cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        sizes = cm.METRIC_SOURCE_CODE_SIZE().getSnapshot().getValues()
        return cm.METRIC_COMPILATION_TIME().getCount(), list(sizes)

    def _batch(self, spark, prefix, docs, lo, hi):
        """Probe then append ids [lo, hi]; return (compiles, sizes of
        the sources compiled, probe frame)."""
        from collections import Counter

        from hive_hdfs_practise_spark.dedup import minhash as mh
        from hive_hdfs_practise_spark.plans.dedup import probe_minhash_index

        n0, s0 = self._codegen(spark)
        delta = docs.filter(f"doc_id BETWEEN {lo} AND {hi}")
        probe = probe_minhash_index(spark, delta, prefix, docs, "md5")
        assert probe.collect()
        mh.append_minhash_index(spark, delta, prefix, downsample=4, family="md5")
        n1, s1 = self._codegen(spark)
        # the histogram is a decaying sample, not a log: compiles are
        # read from the exact count, and the multiset difference holds
        # the sizes of (the sampled) new sources
        return n1 - n0, sorted((Counter(s1) - Counter(s0)).elements()), probe

    @pytest.fixture()
    def index(self, spark):
        from hive_hdfs_practise_spark.dedup import minhash as mh

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
            "doc_id", "text"
        )
        prefix = "minhash_ingest_compile_idx"
        mh.write_minhash_index(
            spark, docs.filter("doc_id < 100"), prefix, downsample=4, family="md5"
        )
        return docs, prefix

    def test_steady_batch_reuses_signature_stage(self, spark, index):
        """Warm with batch [100, 139], then run batch [350, 389] (both
        have near-dups in the index, so every stage of the probe runs):
        the second batch compiles no source as large as the warm
        batch's largest (the 128-slot stage) and at most 2 classes
        (the caller's scan+filter stage). With the range fused into
        the 128-slot stage and carried into the _sigs and documents
        scans, every batch compiled 6."""
        docs, prefix = index
        _, warm, _ = self._batch(spark, prefix, docs, 100, 139)
        n, sizes, _ = self._batch(spark, prefix, docs, 350, 389)
        assert warm and max(sizes, default=0) < max(warm), (sizes, max(warm))
        assert n <= 2, (n, sizes)

    def test_probe_plan_unbucketed_literal_free(self, spark, index, monkeypatch):
        """After a collect the probe's plan (a) reads the band table
        unbucketed, (b) has no ``doc_id`` range literal in any _sigs
        or documents scan, and (c) its signature job (and the
        append's) runs the 128-slot aggregate over the checkpointed
        delta rows, with no range literal anywhere in its plan. The
        scoped confs are restored."""
        import re

        from hive_hdfs_practise_spark.dedup import minhash as mh

        docs, prefix = index
        built = []
        sign = mh.minhash_signature_from_text

        def spy(*args, **kwargs):
            built.append(sign(*args, **kwargs))
            return built[-1]

        monkeypatch.setattr(mh, "minhash_signature_from_text", spy)
        _, _, probe = self._batch(spark, prefix, docs, 100, 139)
        for key in (
            "spark.sql.constraintPropagation.enabled",
            "spark.sql.sources.bucketing.enabled",
        ):
            assert spark.conf.get(key) == "true", key
        literal = re.compile(r"doc_id#\d+L? [<>]=|(Greater|Less)ThanOrEqual\(doc_id")

        def final(df):
            plan = df._jdf.queryExecution().executedPlan().toString()
            return plan.split("== Initial Plan ==")[0].splitlines()

        scans = [ln for ln in final(probe) if "FileScan" in ln]
        bands = [ln for ln in scans if f"{prefix}_bands" in ln]
        assert bands and all("Bucketed: false" in ln for ln in bands), bands
        lookups = [
            ln for ln in scans
            if f"{prefix}_sigs" in ln or "documents.parquet" in ln
        ]
        assert len(lookups) >= 2, scans
        assert not [ln for ln in lookups if literal.search(ln)], lookups
        # two signature jobs: the probe's and the append's
        assert len(built) == 2
        for df in built:
            sig = final(df)
            assert any("HashAggregate" in ln and "min(" in ln for ln in sig), sig
            assert any("Scan ExistingRDD" in ln for ln in sig), sig
            assert not any("FileScan" in ln or literal.search(ln) for ln in sig), sig


class TestKnnGraphStats:
    """r9: embeddings_knn_graph_stats — the rank must run on the
    duplicate-bearing pair stream with a map-side WindowGroupLimit
    (a groupBy-dedup first shuffles the full candidate mass and
    killed the 40x context), and the output invariants must hold."""

    def test_window_group_limit_pushdown(self, spark):
        from hive_hdfs_practise_spark.plans.dedup import _knn_graph_topk

        plan = (
            _knn_graph_topk(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "WindowGroupLimit" in plan
        # both the map-side (Partial) and post-shuffle (Final) limits
        assert "row_number(), 12, Partial" in plan
        assert "row_number(), 12, Final" in plan

    def test_output_invariants(self, spark):
        rows = plans.QUERIES["embeddings_knn_graph_stats"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert rows
        assert all(0 <= r.n_mutual <= r.out_deg <= 3 for r in rows)
        assert sum(r.n_mutual for r in rows) % 2 == 0


class TestCalibrationGate:
    """r11: the count-derived md5 doc-sample gate that bounds the
    calibration queries' pair mass at scale. On every natural corpus
    the gate is a no-op (block <= CAP => cutoff >= 2^32); this class
    pins the ENGAGED gate cross-engine on a 6000-doc corpus."""

    @pytest.fixture(scope="class")
    def gate_dir(self, tmp_path_factory):
        import pandas as pd

        d = tmp_path_factory.mktemp("r11gate")
        n = 6000
        pd.DataFrame(
            {
                "doc_id": list(range(n)),
                "text": [f"tok{i % 37} tok{i % 11}" for i in range(n)],
                "lang": ["en"] * n,
                "source": ["s0"] * n,
            }
        ).to_parquet(str(d / "documents.parquet"))
        return str(d)

    def test_gate_sample_set_cross_engine(self, spark, gate_dir):
        """The sampled doc_id SET must match DuckDB's exactly —
        u32(md5(doc_id)) and the (CAP*2^32) div n cutoff are the
        whole cross-engine surface of the gate."""
        import duckdb

        from hive_hdfs_practise_spark.plans.dedup import (
            SPECTRUM_BLOCK_CAP,
            _U32_SPAN,
        )
        from hive_hdfs_practise_spark.functions.hexdigest import (
            hex_int,
            hex_int_sql,
        )

        d = spark.read.parquet(f"{gate_dir}/documents.parquet")
        u32 = hex_int(F.md5(F.col("doc_id").cast("string")))
        nn = d.agg(
            F.expr(
                f"CAST(({SPECTRUM_BLOCK_CAP} * {_U32_SPAN}) div count(*)"
                " AS BIGINT)"
            ).alias("cut")
        )
        got = {
            r.doc_id
            for r in d.crossJoin(F.broadcast(nn))
            .where(u32 < F.col("cut"))
            .select("doc_id")
            .collect()
        }
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{gate_dir}/documents.parquet')"
        )
        u32sql = hex_int_sql("md5(CAST(d.doc_id AS VARCHAR))")
        want = {
            r[0]
            for r in con.execute(
                f"""
                WITH nn AS (SELECT ({SPECTRUM_BLOCK_CAP} * {_U32_SPAN})
                                   // count(*) AS cut FROM documents)
                SELECT d.doc_id FROM documents d, nn
                WHERE {u32sql} < nn.cut
                """
            ).fetchall()
        }
        assert got == want
        # the gate actually ENGAGED: a strict, binomially-safe subset
        assert 3500 < len(got) < 4700

    def test_spectrum_engaged_gate_cross_engine(self, spark, gate_dir):
        """Full spectrum query vs its oracle with the gate binding —
        composition pin (sampling -> lang-blocked pairs -> histogram)."""
        import duckdb

        rows = plans.QUERIES["dedup_simhash_spectrum"](
            spark, gate_dir
        ).collect()
        got = {(r.hamming, r.n_pairs) for r in rows}
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{gate_dir}/documents.parquet')"
        )
        want = {
            (int(h), int(n))
            for h, n in con.execute(
                plans.ORACLES["dedup_simhash_spectrum"]
            ).fetchall()
        }
        assert got == want and got
        # sampled pair mass ~= C(sample, 2), far below C(6000, 2)
        total = sum(n for _, n in got)
        assert total < 6000 * 5999 // 2 // 1.5


class TestIndexDelete:
    """r11: tombstone deletes — the index files must stay
    byte-stable, the probe must exclude exactly the deleted docs, the
    exchange-free plan must survive the broadcast anti-join, and a
    rebuild must not inherit tombstones."""

    def test_tombstone_delete_semantics(self, spark):
        import hashlib
        import os

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.dedup import minhash as mh
        from hive_hdfs_practise_spark.operators.compaction import (
            table_location,
        )
        from hive_hdfs_practise_spark.plans.dedup import (
            DELETE_NIBBLE,
            _indexed_pairs,
        )
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        d = wide_table(spark, sf, "documents").select("doc_id", "text")
        kw = dict(downsample=4, family="md5")
        mh.write_minhash_index(spark, d, "minhash_del_test_idx", **kw)

        def snap(suffix):
            p = table_location(spark, f"minhash_del_test_idx{suffix}")
            out = {}
            for f in os.listdir(p):
                if f.endswith(".parquet"):
                    with open(os.path.join(p, f), "rb") as fh:
                        out[f] = hashlib.md5(fh.read()).hexdigest()
            return out

        before_b, before_s = snap("_bands"), snap("_sigs")
        nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        deleted_ids = {
            r.doc_id
            for r in d.where(nib == DELETE_NIBBLE)
            .select("doc_id")
            .collect()
        }
        assert deleted_ids
        mh.delete_from_minhash_index(
            spark, d.where(nib == DELETE_NIBBLE).select("doc_id"),
            "minhash_del_test_idx",
        )
        # (a) bands/sigs byte-stable — a delete rewrites nothing
        assert snap("_bands") == before_b and snap("_sigs") == before_s
        # (b) probe excludes exactly the deleted docs
        pairs = _indexed_pairs(spark, sf, "minhash_del_test_idx")
        got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
        want = {
            (r.doc_a, r.doc_b)
            for r in P.QUERIES["dedup_minhash_lsh"](spark, sf).collect()
            if r.doc_a not in deleted_ids and r.doc_b not in deleted_ids
        }
        assert got == want
        # (c) exchange-free candidate grouping survives the anti-join
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            banded = spark.table("minhash_del_test_idx_bands").join(
                F.broadcast(
                    spark.table("minhash_del_test_idx_dels").select(
                        "doc_id"
                    )
                ),
                "doc_id",
                "left_anti",
            )
            cand = mh.pairs_within_buckets(
                banded, "doc_id", ["band", "band_key"]
            )
            plan = cand._jdf.queryExecution().executedPlan().toString()
            assert "hashpartitioning(band" not in plan.lower(), plan[:3000]
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "true",
            )
        # (d) a rebuild drops the tombstones
        mh.write_minhash_index(spark, d, "minhash_del_test_idx", **kw)
        assert not spark.catalog.tableExists("minhash_del_test_idx_dels")


    def test_probe_skips_tombstoned_corpus_docs(self, spark):
        """The ingestion probe (probe_minhash_index) must not report a
        tombstoned corpus doc as a near-duplicate of a new doc, before
        any vacuum."""
        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.dedup import minhash as mh
        from hive_hdfs_practise_spark.plans.dedup import probe_minhash_index
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = SF_DIR
        a, b = min(
            (r.doc_a, r.doc_b)
            for r in P.QUERIES["dedup_minhash_lsh"](spark, sf).collect()
        )
        d = wide_table(spark, sf, "documents").select("doc_id", "text")
        prefix = "minhash_probe_del_test_idx"
        mh.write_minhash_index(
            spark, d.filter(F.col("doc_id") != a), prefix,
            downsample=4, family="md5",
        )

        def probe():
            new = d.filter(F.col("doc_id") == a)
            return {
                (r.doc_new, r.doc_corpus)
                for r in probe_minhash_index(spark, new, prefix, d, "md5").collect()
            }

        assert (a, b) in probe()
        mh.delete_from_minhash_index(
            spark, d.filter(F.col("doc_id") == b).select("doc_id"), prefix
        )
        assert b not in {c for _, c in probe()}


class TestIndexVacuum:
    """r11: vacuum folds the tombstones into a rewrite — the
    space-reclaim half of the delete story (lifecycle now
    write/probe/append/compact/delete/VACUUM)."""

    def test_vacuum_parity_and_cleanup(self, spark):
        from hive_hdfs_practise_spark.dedup import minhash as mh
        from hive_hdfs_practise_spark.plans.dedup import (
            DELETE_NIBBLE,
            _indexed_pairs,
        )
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        d = wide_table(spark, sf, "documents").select("doc_id", "text")
        kw = dict(downsample=4, family="md5")
        mh.write_minhash_index(spark, d, "minhash_vac_test_idx", **kw)
        nib = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        deleted = d.where(nib == DELETE_NIBBLE).select("doc_id")
        mh.delete_from_minhash_index(
            spark, deleted, "minhash_vac_test_idx"
        )
        before = {
            (r.doc_a, r.doc_b)
            for r in _indexed_pairs(
                spark, sf, "minhash_vac_test_idx"
            ).collect()
        }
        n = mh.vacuum_minhash_index(spark, "minhash_vac_test_idx")
        assert n == deleted.count() > 0
        # (a) the tombstone table is gone; a plain probe (no
        # anti-join) now returns the tombstoned probe's pairs
        assert not spark.catalog.tableExists("minhash_vac_test_idx_dels")
        after = {
            (r.doc_a, r.doc_b)
            for r in _indexed_pairs(
                spark, sf, "minhash_vac_test_idx"
            ).collect()
        }
        assert after == before and after
        # (b) no deleted doc_id survives in either table
        dels = {r.doc_id for r in deleted.collect()}
        for t in ("minhash_vac_test_idx_bands", "minhash_vac_test_idx_sigs"):
            ids = {r.doc_id for r in spark.table(t).select("doc_id").collect()}
            assert not (ids & dels)
        # (c) the bucketed probe stays exchange-free post-vacuum
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        try:
            cand = mh.pairs_within_buckets(
                spark.table("minhash_vac_test_idx_bands"),
                "doc_id",
                ["band", "band_key"],
            )
            plan = cand._jdf.queryExecution().executedPlan().toString()
            assert "hashpartitioning(band" not in plan.lower(), plan[:3000]
        finally:
            spark.conf.set(
                "spark.sql.sources.bucketing.autoBucketedScan.enabled",
                "true",
            )
        # (d) idempotent: a second vacuum is a no-op
        assert mh.vacuum_minhash_index(spark, "minhash_vac_test_idx") == 0


    def test_vacuum_rewrites_only_affected_groups(self, spark):
        """The vacuum rewrites only the groups holding a tombstoned row
        — a bucket of ``_bands``, a file of ``_sigs`` — and leaves
        every other file of both tables byte-identical."""
        import hashlib
        import os

        from hive_hdfs_practise_spark.dedup import minhash as mh
        from hive_hdfs_practise_spark.operators.compaction import (
            bucket_id_of,
            table_location,
        )
        from hive_hdfs_practise_spark.plans.dedup import _probe_delta_col
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = SF_DIR
        d = wide_table(spark, sf, "documents").select("doc_id", "text")
        prefix = "minhash_vac_groups_test_idx"
        kw = dict(downsample=4, family="md5")
        corpus = d.filter(~_probe_delta_col())
        mh.write_minhash_index(spark, corpus, prefix, **kw)
        mh.append_minhash_index(spark, d.filter(_probe_delta_col()), prefix, **kw)
        gone = corpus.agg(F.min("doc_id").alias("doc_id"))
        gone_id = gone.collect()[0].doc_id
        mh.delete_from_minhash_index(spark, gone, prefix)

        def group(f):
            b = bucket_id_of(f)
            return f if b is None else b

        tables = (f"{prefix}_bands", f"{prefix}_sigs")
        before, hit = {}, {}
        for t in tables:
            root = table_location(spark, t)
            before[t] = {}
            for f in os.listdir(root):
                if f.endswith(".parquet"):
                    with open(os.path.join(root, f), "rb") as fh:
                        before[t][f] = hashlib.md5(fh.read()).hexdigest()
            hit[t] = {
                group(r.f)
                for r in spark.table(t)
                .where(F.col("doc_id") == gone_id)
                .select(F.col("_metadata.file_name").alias("f"))
                .collect()
            }
            assert hit[t], t
        assert mh.vacuum_minhash_index(spark, prefix) == 1
        for t in tables:
            root = table_location(spark, t)
            after = {f for f in os.listdir(root) if f.endswith(".parquet")}
            kept = [f for f in before[t] if group(f) not in hit[t]]
            assert kept, t
            for f in kept:
                with open(os.path.join(root, f), "rb") as fh:
                    assert hashlib.md5(fh.read()).hexdigest() == before[t][f], f
            for f in set(before[t]) - set(kept):
                assert f not in after, f
            ids = {r.doc_id for r in spark.table(t).select("doc_id").collect()}
            assert gone_id not in ids and ids


class TestChunkFuzzyPartialOverlap:
    """r12: the chunk-grain fuzzy dedup's DISTINCTIVE capability —
    finding a doc pair that shares one paragraph but is nowhere near
    whole-doc Jaccard 0.7 — pinned on a crafted corpus (the natural
    corpus's chunk pairs are all whole-doc pairs, so only an
    adversarial pin demonstrates the operator isn't redundant), and
    cross-engine (full oracle on the same corpus)."""

    @pytest.fixture(scope="class")
    def partial_overlap_dir(self, tmp_path_factory):
        import random

        import pandas as pd

        rng = random.Random(12)

        def blob(n):
            return "".join(
                rng.choice("abcdefghijklmnopqrstuvwxyz 0123456789")
                for _ in range(n)
            )

        para = blob(1500)            # the shared paragraph
        filler_a, filler_b = blob(2500), blob(2500)
        docs = [
            (0, para + filler_a),    # para at offset 0
            (1, filler_b + para),    # same para at offset 2500
            (2, blob(2000)),         # unrelated
        ]
        d = tmp_path_factory.mktemp("partial_sf")
        pd.DataFrame(
            {
                "doc_id": [i for i, _ in docs],
                "text": [t for _, t in docs],
                "lang": ["en"] * len(docs),
                "source": ["src0"] * len(docs),
                "n_chars": [len(t) for _, t in docs],
            }
        ).to_parquet(str(d / "documents.parquet"))
        return str(d)

    def test_partial_overlap_found_cross_engine(
        self, spark, partial_overlap_dir
    ):
        import duckdb

        from hive_hdfs_practise_spark import plans

        got = {
            (r.doc_a, r.doc_b): (r.n_chunk_matches, r.max_jaccard)
            for r in plans.QUERIES["documents_chunk_fuzzy_dedup"](
                spark, partial_overlap_dir
            ).collect()
        }
        spark.catalog.clearCache()
        # the shared-paragraph pair IS found at chunk grain...
        assert (0, 1) in got and got[(0, 1)][0] >= 1
        # ...and is invisible to whole-doc dedup (J far below 0.7)
        whole = {
            (r.doc_a, r.doc_b)
            for r in plans.QUERIES["dedup_minhash_lsh"](
                spark, partial_overlap_dir
            ).collect()
        }
        assert (0, 1) not in whole
        # full oracle parity on the crafted corpus
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{partial_overlap_dir}/documents.parquet')"
        )
        oracle = {
            (int(r[0]), int(r[1])): (int(r[2]), float(r[3]))
            for r in con.execute(
                plans.ORACLES["documents_chunk_fuzzy_dedup"]
            ).fetchall()
        }
        assert {
            k: (v[0], round(v[1], 6)) for k, v in got.items()
        } == oracle
