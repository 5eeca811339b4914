"""Similarity-search tests: brute-force kNN against numpy ground
truth; LSH bucketing determinism + subset property."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hive_hdfs_practise_spark import plans
from hive_hdfs_practise_spark.functions import vectors as vec

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


class TestVectorFunctions:
    def test_cosine_matches_numpy(self, spark):
        a, b = [1.0, 2.0, 3.0], [-1.0, 0.5, 2.0]
        df = spark.createDataFrame([(a, b)], "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
        got = df.select(vec.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c
        want = np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
        assert abs(got - want) < 1e-12

    def test_zero_vector_cosine_is_zero(self, spark):
        df = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
        assert df.select(vec.cosine(F.col("a"), F.col("b"))).collect()[0][0] == 0.0

    def test_normalize_unit_norm(self, spark):
        df = spark.createDataFrame([([3.0, 4.0],)], "a ARRAY<DOUBLE>")
        out = df.select(vec.norm(vec.normalize(F.col("a"))).alias("n")).collect()[0].n
        assert abs(out - 1.0) < 1e-12


class TestKnn:
    def test_brute_force_matches_numpy(self, spark, emb):
        rows = emb.collect()
        M = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
        q = M[0]
        scores = {
            vid: float(np.dot(v, q) / (np.linalg.norm(v) * np.linalg.norm(q)))
            for vid, v in M.items()
            if vid != 0
        }
        want = [v for v, _ in sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]]
        got = [r.vec_id for r in plans.QUERIES["knn_brute_cosine"](spark, SF).collect()]
        assert got == want

    def test_lsh_results_subset_of_brute_ranking(self, spark, emb):
        got = plans.QUERIES["knn_lsh_bucketed"](spark, SF).collect()
        brute = {
            r.vec_id: r.cosine
            for r in plans.QUERIES["knn_brute_cosine"](spark, SF).collect()
        }
        # every LSH hit scores exactly what brute force scores it
        rows = emb.collect()
        M = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
        q = M[0]
        for r in got:
            want = float(np.dot(M[r.vec_id], q) / (np.linalg.norm(M[r.vec_id]) * np.linalg.norm(q)))
            assert abs(r.cosine - round(want, 6)) < 1e-6

    def test_lsh_bucketing_deterministic(self, spark):
        a = {r.vec_id for r in plans.QUERIES["knn_lsh_bucketed"](spark, SF).collect()}
        b = {r.vec_id for r in plans.QUERIES["knn_lsh_bucketed"](spark, SF).collect()}
        assert a == b


class TestIvf:
    def test_ivf_scores_match_bruteforce_for_returned_ids(self, spark, emb):
        import numpy as np

        got = plans.QUERIES["knn_ivf"](spark, SF).collect()
        assert 1 <= len(got) <= 10
        rows = emb.collect()
        M = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
        q = M[0]
        for r in got:
            want = float(
                np.dot(M[r.vec_id], q)
                / (np.linalg.norm(M[r.vec_id]) * np.linalg.norm(q))
            )
            assert abs(r.cosine - round(want, 6)) < 1e-6

    def test_ivf_deterministic(self, spark):
        a = [(r.vec_id, r.cosine) for r in plans.QUERIES["knn_ivf"](spark, SF).collect()]
        b = [(r.vec_id, r.cosine) for r in plans.QUERIES["knn_ivf"](spark, SF).collect()]
        assert a == b

    def test_lazy_hyperplanes_match_eager(self, spark, emb):
        # the in-plan (SQL md5/conv) plane generator must be
        # bit-identical to the hashlib formula — component c of plane
        # p is md5("p:c")'s first 8 hex digits mapped to [-1, 1); LSH
        # bucket assignments depend on every component's sign
        import hashlib

        eager = {
            p: [
                int(hashlib.md5(f"{p}:{c}".encode()).hexdigest()[:8], 16)
                / float(1 << 31)
                - 1.0
                for c in range(64)
            ]
            for p in range(8)
        }
        lazy = {r.plane_id: r.plane for r in vec.hyperplanes(emb, "embedding", 8).collect()}
        assert set(eager) == set(lazy)
        for p in eager:
            assert eager[p] == lazy[p]  # exact double equality

    def test_kmeans_centroid_count_and_dim(self, spark, emb):
        from hive_hdfs_practise_spark.similarity.knn import kmeans_centroids

        cents = kmeans_centroids(emb, nlist=4, iters=2).collect()
        assert len(cents) <= 4 and len(cents) >= 1
        assert all(len(c.centroid) == 64 for c in cents)


class TestL2AndSkew:
    def test_l2_distance_matches_numpy(self, spark):
        import numpy as np

        a, b = [1.0, -2.0, 3.5], [0.5, 1.0, -1.5]
        df = spark.createDataFrame([(a, b)], "a ARRAY<DOUBLE>, b ARRAY<DOUBLE>")
        got = df.select(vec.l2_distance(F.col("a"), F.col("b")).alias("d")).collect()[0].d
        assert abs(got - float(np.linalg.norm(np.array(a) - np.array(b)))) < 1e-12

    def test_salted_agg_equals_plain(self, spark):
        from hive_hdfs_practise_spark.operators.skew import salted_sum_count
        from hive_hdfs_practise_spark.sources.catalog import table

        e = table(spark, SF, "events")
        salted = {
            r.event_type: (round(r.total, 6), r.n)
            for r in salted_sum_count(e, ["event_type"], F.col("value"), 8).collect()
        }
        plain = {
            r.event_type: (round(r.total, 6), r.n)
            for r in e.groupBy("event_type")
            .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
            .collect()
        }
        for k in plain:
            assert salted[k][1] == plain[k][1]
            assert abs(salted[k][0] - plain[k][0]) < 1e-6

    def test_salted_join_equals_plain(self, spark):
        from hive_hdfs_practise_spark.operators.skew import salted_join
        from hive_hdfs_practise_spark.sources.catalog import table

        e = table(spark, SF, "events").select("event_id", "user_id")
        c = table(spark, SF, "customer").select(
            F.col("c_custkey").alias("user_id"), "c_nationkey"
        )
        got = {
            (r.event_id, r.c_nationkey)
            for r in salted_join(e, c, "user_id", n_salt=4).collect()
        }
        want = {(r.event_id, r.c_nationkey) for r in e.join(c, "user_id").collect()}
        assert got == want and len(want) > 0


class TestMultiProbe:
    def test_superset_of_single_probe_and_exact_scores(self, spark, emb):
        multi = {r.vec_id: r.cosine for r in plans.QUERIES["knn_lsh_multiprobe"](spark, SF).collect()}
        single = {r.vec_id for r in plans.QUERIES["knn_lsh_bucketed"](spark, SF).collect()}
        brute = {r.vec_id: r.cosine for r in plans.QUERIES["knn_brute_cosine"](spark, SF).collect()}
        # single-probe's hits that made the global top-k must persist;
        # multi-probe can only ADD candidates ahead of them
        assert len(multi) >= len(single & set(brute))
        rows = emb.collect()
        M = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
        q = M[0]
        for vid, cos in multi.items():
            want = float(np.dot(M[vid], q) / (np.linalg.norm(M[vid]) * np.linalg.norm(q)))
            assert abs(cos - round(want, 6)) < 1e-6


class TestIvfIndexed:
    """r4: the materialized IVF index (write_ivf_index /
    knn_ivf_indexed) — the deployment path the module docstring
    promises: assignment table bucketed by cluster_id, probe scan
    bucket-pruned to nprobe lists, zero exchanges."""

    @pytest.fixture(scope="class")
    def ivf_index(self, spark, emb):
        import shutil

        from hive_hdfs_practise_spark.similarity.knn import write_ivf_index

        spark.sql("CREATE DATABASE IF NOT EXISTS ivf_test")
        for t in ["idx_assign", "idx_centroids"]:
            spark.sql(f"DROP TABLE IF EXISTS ivf_test.{t}")
            shutil.rmtree(f"spark-warehouse/ivf_test.db/{t}", ignore_errors=True)
        write_ivf_index(spark, emb, "ivf_test.idx", nlist=8, iters=3)
        yield "ivf_test.idx"
        for t in ["idx_assign", "idx_centroids"]:
            spark.sql(f"DROP TABLE IF EXISTS ivf_test.{t}")

    def test_probe_scan_bucket_pruned_and_exchange_free(self, spark, ivf_index):
        from hive_hdfs_practise_spark.similarity.knn import knn_ivf_indexed

        df = knn_ivf_indexed(spark, ivf_index, query_vec_id=0, nprobe=2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        # bucket pruning engaged: only the 2 probed buckets of 8 scanned
        assert "SelectedBucketsCount: 2 out of 8" in plan
        # probe side is scan + TakeOrdered: no shuffle anywhere
        assert "Exchange hashpartitioning" not in plan

    def test_indexed_matches_inline_ivf(self, spark, emb, ivf_index):
        from hive_hdfs_practise_spark.similarity.knn import knn_ivf, knn_ivf_indexed

        got = [
            (r.vec_id, r.cosine)
            for r in knn_ivf_indexed(spark, ivf_index, 0, top_k=10, nprobe=2).collect()
        ]
        want = [
            (r.vec_id, r.cosine)
            for r in knn_ivf(emb, 0, top_k=10, nlist=8, nprobe=2, iters=3).collect()
        ]
        assert got == want


class TestHardNegatives:
    """r4: embedding_hard_negatives — different-label top-k mining."""

    def test_matches_numpy_and_labels_differ(self, spark, emb):
        import numpy as np

        from hive_hdfs_practise_spark.plans.similarity import HARD_NEG_K, N_ANCHORS

        vecs = {r.vec_id: (r.label, np.array(r.embedding, dtype=np.float64)) for r in emb.collect()}
        got = plans.QUERIES["embedding_hard_negatives"](spark, SF).collect()
        by_anchor = {}
        for r in got:
            by_anchor.setdefault(r.anchor_id, []).append(r)
        assert set(by_anchor) == set(range(N_ANCHORS))
        for aid, rows in by_anchor.items():
            alabel, av = vecs[aid]
            want = sorted(
                (
                    (round(float(np.dot(av, v) / (np.linalg.norm(av) * np.linalg.norm(v))), 6), vid)
                    for vid, (lbl, v) in vecs.items()
                    if lbl != alabel
                ),
                key=lambda t: (-t[0], t[1]),
            )[:HARD_NEG_K]
            got_sorted = sorted(rows, key=lambda r: r.rnk)
            assert [(r.cosine, r.vec_id) for r in got_sorted] == want
            for r in rows:
                assert vecs[r.vec_id][0] != alabel

    def test_rank_filter_pushes_window_group_limit(self, spark):
        p = (
            plans.QUERIES["embedding_hard_negatives"](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "WindowGroupLimit" in p and "Partial" in p
        assert "SortMergeJoin" not in p  # anchors broadcast


class TestQuantizeInt8:
    """r4: embeddings_quantize_int8 — code range, error bound, and
    the per-element quantization identity."""

    def test_codes_and_error_bounds(self, spark):
        from hive_hdfs_practise_spark import plans

        rows = plans.QUERIES["embeddings_quantize_int8"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert rows
        for r in rows:
            # codes serialize as '|'-joined ints (driver forbids
            # nested output types — r05 canon ERR)
            codes = [int(c) for c in r.codes.split("|")]
            assert all(-127 <= c <= 127 for c in codes)
            assert max(abs(c) for c in codes) == 127  # max-abs hits full range
            # per-element |err| ≤ scale/254 → mean ≤ scale/254 (+6dp slack)
            assert r.mean_abs_err <= r.scale / 254 + 1e-6

    def test_roundtrip_matches_python(self, spark):
        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.sources.catalog import table

        sf = "/root/testdata/sf0.001"
        got = {
            r.vec_id: [int(c) for c in r.codes.split("|")]
            for r in plans.QUERIES["embeddings_quantize_int8"](spark, sf).collect()
        }
        for row in table(spark, sf, "embeddings").collect():
            v = [float(x) for x in row.embedding]
            scale = max(abs(x) for x in v)
            # Spark round = HALF_UP on the double's decimal form
            import decimal

            codes = [
                int(
                    decimal.Decimal(x * 127.0 / scale).quantize(
                        0, rounding=decimal.ROUND_HALF_UP
                    )
                )
                for x in v
            ]
            assert got[row.vec_id] == codes


class TestQuantizedKnn:
    """r4: knn_quantized_int8 — compressed-domain search."""

    def test_recall_vs_exact_and_plan_shape(self, spark):
        from hive_hdfs_practise_spark import plans

        sf = "/root/testdata/sf0.001"
        df = plans.QUERIES["knn_quantized_int8"](spark, sf)
        approx = [r.vec_id for r in df.collect()]
        exact = [
            r.vec_id
            for r in plans.QUERIES["knn_brute_cosine"](spark, sf).collect()
        ]
        assert len(approx) == len(exact) == 10
        # int8 on unit vectors keeps ~3 decimal places of the cosine:
        # the top-10 sets should agree almost everywhere
        assert len(set(approx) & set(exact)) >= 8
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in p
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


class TestPcaPower:
    """embeddings_pca_power: the integer matrix-squaring eigensolve
    must land on the float top eigenvector despite the measured
    ~1.013 eigengap (the property the squaring cascade exists for),
    with the canonical sign convention and a sane Rayleigh value."""

    @pytest.fixture(scope="class")
    def pca(self, spark):
        return (
            plans.QUERIES["embeddings_pca_power"](spark, SF)
            .orderBy("dim")
            .collect()
        )

    def test_matches_float_eigh(self, spark, pca):
        rows = spark.read.parquet(f"{SF}/embeddings.parquet").select(
            "embedding"
        ).collect()
        X = np.array(
            [np.round(np.array(r.embedding, dtype=float) * 1e6) for r in rows]
        )
        n = X.shape[0]
        M = n * (X.T @ X) - np.outer(X.sum(axis=0), X.sum(axis=0))
        evals, evecs = np.linalg.eigh(M)
        top = evecs[:, -1]
        v = np.array([r.loading_fp for r in pca], dtype=float)
        assert np.linalg.norm(v) > 0
        cos = abs(np.dot(top, v)) / (np.linalg.norm(top) * np.linalg.norm(v))
        assert cos > 0.999
        # eigenvalue in covariance units (quantized-integer semantic)
        lam = pca[0].lambda_cov
        want = evals[-1] / (n * n * 1e12)
        assert abs(lam - want) / want < 1e-3

    def test_canonical_sign(self, pca):
        v = [r.loading_fp for r in pca]
        mx = max(abs(x) for x in v)
        first_max = next(x for x in v if abs(x) == mx)
        assert first_max > 0
        # fixed-point normalization: the max-|loading| slot is exactly
        # +- VSCALE
        assert mx == 1_000_000

    def test_display_columns_derive_from_fp(self, pca):
        for r in pca:
            assert abs(r.loading - r.loading_fp / 1e6) <= 5e-7


class TestPqAdc:
    """knn_pq_adc: the ADC-shortlist + exact-re-rank pipeline must
    surface (nearly all of) the true top-k — the re-rank stage exists
    precisely because plain ADC top-10 held 1/10 on this corpus."""

    def test_rerank_recall_and_exactness(self, spark, emb):
        from hive_hdfs_practise_spark.similarity.pq import quantize_rows

        got = plans.QUERIES["knn_pq_adc"](spark, SF).collect()
        rows = emb.collect()
        # quantize_rows, NOT np.round: numpy rounds half-even while
        # the pipeline (and both engines) round HALF_UP
        X = {
            r.vec_id: quantize_rows([r.embedding])[0] for r in rows
        }
        q = X[0]
        true = sorted(
            (int(np.sum((v - q) ** 2)), vid)
            for vid, v in X.items()
            if vid != 0
        )
        true10 = {vid for _, vid in true[:10]}
        assert len(true10 & {r.vec_id for r in got}) >= 8
        # the re-rank distances are EXACT quantized L2 — bit-equal to
        # numpy's integer computation, not approximately equal
        for r in got:
            assert r.l2sq_fp == int(np.sum((X[r.vec_id] - q) ** 2))
        # output ordered by exact distance
        dists = [r.l2sq_fp for r in got]
        assert dists == sorted(dists)


class TestOpqAdc:
    """knn_opq_adc: the rotation is exactly orthogonal up to the
    integer factor 64 (SᵀS = 64·I), so rotated exact-re-rank
    distances must be EXACTLY 64× the unrotated quantized L2 — and
    the final ranking must match the unrotated pipeline's whenever
    both shortlists hold the true top-k."""

    def test_rotation_preserves_ranking_exactly(self, spark, emb):
        from hive_hdfs_practise_spark.similarity.pq import opq_rotation

        from hive_hdfs_practise_spark.similarity.pq import quantize_rows

        R = opq_rotation(64)
        # S·Sᵀ = 64·I — the exactness contract of the whole operator
        assert (R @ R.T == 64 * np.eye(64, dtype=np.int64)).all()
        got = plans.QUERIES["knn_opq_adc"](spark, SF).collect()
        rows = emb.collect()
        # quantize_rows, NOT np.round (numpy is half-even; the
        # pipeline is HALF_UP)
        X = {
            r.vec_id: quantize_rows([r.embedding])[0] for r in rows
        }
        q = X[0]
        true = sorted(
            (int(np.sum((v - q) ** 2)), vid)
            for vid, v in X.items()
            if vid != 0
        )
        true10 = {vid for _, vid in true[:10]}
        assert len(true10 & {r.vec_id for r in got}) >= 8
        for r in got:
            # 64× identity: rotated integer L2 == 64 * raw integer L2
            assert r.l2sq_fp == 64 * int(np.sum((X[r.vec_id] - q) ** 2))
        dists = [r.l2sq_fp for r in got]
        assert dists == sorted(dists)

    def test_consistent_with_unrotated_pipeline(self, spark):
        opq = {
            r.vec_id: r.l2sq_fp
            for r in plans.QUERIES["knn_opq_adc"](spark, SF).collect()
        }
        pq = {
            r.vec_id: r.l2sq_fp
            for r in plans.QUERIES["knn_pq_adc"](spark, SF).collect()
        }
        # the SHORTLISTS differ (rotation reshapes the ADC landscape —
        # measured 8/10 vs 10/10 true-top-10 recall at sf0.001), so
        # the final sets may diverge on the tail; but every common
        # member's exact re-rank distance obeys the 64× identity
        common = set(opq) & set(pq)
        assert len(common) >= 7
        for vid in common:
            assert opq[vid] == 64 * pq[vid]


class TestComomentGemm:
    def test_gemm_equals_explode_join(self, spark, emb):
        """The Arrow-GEMM co-moment path must be bit-equal to the
        declarative posexplode self-join it replaced."""
        from hive_hdfs_practise_spark.similarity.comoment import (
            comoment_upper_exact,
        )

        got = {
            (r.di, r.dj): int(r.sxy)
            for r in comoment_upper_exact(emb).collect()
        }
        x = emb.select(
            "vec_id", F.posexplode("embedding").alias("p", "xf")
        ).select(
            "vec_id",
            (F.col("p") + 1).alias("i"),
            F.round(F.col("xf").cast("double") * 1_000_000)
            .cast("bigint")
            .alias("xi"),
        )
        want = {
            (r.di, r.dj): int(r.sxy)
            for r in (
                x.select("vec_id", F.col("i").alias("di"), F.col("xi").alias("xa"))
                .join(
                    x.select(
                        "vec_id", F.col("i").alias("dj"), F.col("xi").alias("xb")
                    ),
                    "vec_id",
                )
                .filter(F.col("di") <= F.col("dj"))
                .groupBy("di", "dj")
                .agg(
                    F.sum(
                        (F.col("xa") * F.col("xb")).cast("decimal(38,0)")
                    ).alias("sxy")
                )
                .collect()
            )
        }
        assert got == want


class TestIvfPq:
    def test_rerank_recall_and_exactness(self, spark, emb):
        """knn_ivfpq_adc: probing 2 of 8 coarse lists + residual-PQ
        shortlisting + exact re-rank must surface the true top-k
        (10/10 measured on this corpus), and the re-rank distances
        are exact quantized L2 — bit-equal to numpy integers."""
        from hive_hdfs_practise_spark.similarity.pq import quantize_rows

        got = plans.QUERIES["knn_ivfpq_adc"](spark, SF).collect()
        rows = emb.collect()
        # quantize_rows, NOT np.round (numpy is half-even; the
        # pipeline is HALF_UP)
        X = {
            r.vec_id: quantize_rows([r.embedding])[0] for r in rows
        }
        q = X[0]
        true = sorted(
            (int(np.sum((v - q) ** 2)), vid)
            for vid, v in X.items()
            if vid != 0
        )
        true10 = {vid for _, vid in true[:10]}
        assert len(true10 & {r.vec_id for r in got}) >= 8
        for r in got:
            assert r.l2sq_fp == int(np.sum((X[r.vec_id] - q) ** 2))
        dists = [r.l2sq_fp for r in got]
        assert dists == sorted(dists)


class TestDegenerateEmbeddings:
    """Zero/constant corpora exercise the am=0 / mw=0 / den=0 guard
    branches in the r6 embedding operators — the ANSI-division trap
    class no natural corpus reaches (adversarial-corpus pattern)."""

    @pytest.fixture(scope="class")
    def corpora(self, spark, tmp_path_factory):
        base = tmp_path_factory.mktemp("degen")
        paths = {}
        for name, vec in (
            ("zeros", [0.0] * 64),
            ("constant", [0.25] * 64),
        ):
            path = str(base / name)
            df = spark.createDataFrame(
                [(i, vec, i % 3) for i in range(40)],
                "vec_id long, embedding array<float>, label int",
            )
            df.write.mode("overwrite").parquet(
                f"{path}/embeddings.parquet"
            )
            paths[name] = path
        return paths

    def test_pca_zero_covariance_yields_zero_vector(self, spark, corpora):
        for path in corpora.values():
            rows = (
                plans.QUERIES["embeddings_pca_power"](spark, path)
                .orderBy("dim")
                .collect()
            )
            assert len(rows) == 64
            assert all(r.loading_fp == 0 for r in rows)
            assert all(r.lambda_cov == 0.0 for r in rows)

    def test_pq_ties_are_deterministic(self, spark, corpora):
        for path in corpora.values():
            rows = plans.QUERIES["knn_pq_adc"](spark, path).collect()
            # all-identical vectors: every distance 0, ties resolve
            # by vec_id — the 10 lowest non-query ids, in order
            assert [r.vec_id for r in rows] == list(range(1, 11))
            assert all(r.adc_fp == 0 and r.l2sq_fp == 0 for r in rows)

    def test_ivfpq_ties_are_deterministic(self, spark, corpora):
        for path in corpora.values():
            rows = plans.QUERIES["knn_ivfpq_adc"](spark, path).collect()
            assert [r.vec_id for r in rows] == list(range(1, 11))
            assert all(r.l2sq_fp == 0 for r in rows)

    @pytest.mark.parametrize("name", ["knn_opq_adc", "dedup_semdedup"])
    def test_cross_engine(self, spark, corpora, name):
        """Every vector collapses into cid 0 after the first Lloyd
        round, so the other seeds' empty centroids must drop out of
        the next round on both engines alike."""
        import duckdb

        for corpus, path in corpora.items():
            got = sorted(
                tuple(r) for r in plans.QUERIES[name](spark, path).collect()
            )
            con = duckdb.connect()
            con.execute(
                "CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{path}/embeddings.parquet/*.parquet')"
            )
            want = sorted(
                tuple(r) for r in con.execute(plans.ORACLES[name]).fetchall()
            )
            assert got == want, (name, corpus)
            if name == "knn_opq_adc":
                assert [r[0] for r in got] == list(range(1, 11))
            else:
                # zero vectors have no cosine: no pairs; a constant
                # corpus pairs everything in the one cell
                assert len(got) == (0 if corpus == "zeros" else 40 * 39 // 2)


class TestCodebookChecksums:
    """Every trained codebook at sf0.001, as it enters the scoring or
    assignment scan: sha256 of its (cids, centroids) int64 bytes,
    subspaces in order. Captured on the per-builder Lloyd loops the
    shared trainer in similarity/pq.py replaced."""

    SHA256 = {
        "knn_pq_adc": "28d4422b26d8c65e",
        "knn_opq_adc": "994f9490d86b6480",
        "knn_ivfpq_adc": "02dd81dc18ae001a",
        "knn_ivfpq_adc:coarse": "e9ac6ae219fd3cbd",
        "dedup_semdedup": "e9ac6ae219fd3cbd",
    }

    @staticmethod
    def _digest(books) -> str:
        import hashlib

        h = hashlib.sha256()
        for cids, C in books:
            h.update(np.ascontiguousarray(cids, dtype=np.int64).tobytes())
            h.update(np.ascontiguousarray(C, dtype=np.int64).tobytes())
        return h.hexdigest()[:16]

    def test_codebooks_pinned(self, spark, monkeypatch):
        import inspect

        from hive_hdfs_practise_spark.similarity import pq

        seen = {}
        score, assign = pq.pq_score_pass, pq.vq_assign_pass

        def spy_score(*args, **kwargs):
            a = inspect.signature(score).bind(*args, **kwargs).arguments
            seen["score"] = (a["cents"], a.get("coarse"))
            return score(*args, **kwargs)

        def spy_assign(*args, **kwargs):
            a = inspect.signature(assign).bind(*args, **kwargs).arguments
            seen["vq"] = a["cents"]
            return assign(*args, **kwargs)

        monkeypatch.setattr(pq, "pq_score_pass", spy_score)
        monkeypatch.setattr(pq, "vq_assign_pass", spy_assign)
        got = {}
        for name in ("knn_pq_adc", "knn_opq_adc", "knn_ivfpq_adc"):
            plans.QUERIES[name](spark, SF)
            cents, coarse = seen.pop("score")
            got[name] = self._digest(cents[s] for s in sorted(cents))
            if coarse is not None:
                got[f"{name}:coarse"] = self._digest([coarse])
        plans.QUERIES["dedup_semdedup"](spark, SF)
        got["dedup_semdedup"] = self._digest([seen["vq"]])
        spark.catalog.clearCache()
        assert got == self.SHA256


def test_update_pass_matches_mask_loop(spark):
    """The vectorized per-subspace accumulation in ``pq_update_pass``
    equals the per-centroid mask loop it replaced, summed over
    partitions; a centroid nobody is nearest to emits no row."""
    from hive_hdfs_practise_spark.similarity.pq import (
        _assign,
        pq_update_pass,
        quantize_rows,
    )

    rng = np.random.RandomState(8)
    vecs = rng.uniform(-1, 1, (60, 64)).astype("float32")
    emb = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    ).repartition(3)
    X = quantize_rows(vecs)
    cents = {}
    for s in range(8):
        C = X[:4, s * 8 : (s + 1) * 8].copy()
        C[3] = 10**8  # far from every row: no members
        cents[s] = (np.array([0, 2, 5, 7], dtype=np.int64), C)
    want = {}
    for s, (cids, C) in cents.items():
        Xs = X[:, s * 8 : (s + 1) * 8]
        a, _ = _assign(Xs, C)
        for idx in range(len(cids)):
            mask = a == idx
            for i in range(8):
                if mask.any():
                    want[(s, int(cids[idx]), i + 1)] = (
                        int(Xs[mask, i].sum()),
                        int(mask.sum()),
                    )
    got = {
        (r.s, r.cid, r.i): (r.ts, r.tc)
        for r in pq_update_pass(emb, cents)
        .groupBy("s", "cid", "i")
        .agg(F.sum("ssum").alias("ts"), F.sum("cnt").alias("tc"))
        .collect()
    }
    assert got == want
    assert not any(cid == 7 for _, cid, _ in got)


def test_one_lloyd_loop():
    """similarity/pq.py owns the integer Lloyd loop: it is the only
    module that calls ``pq_update_pass`` (names in docstrings and
    comments do not count)."""
    import ast
    from pathlib import Path

    import hive_hdfs_practise_spark

    root = Path(hive_hdfs_practise_spark.__file__).parent
    sites = set()
    for path in root.rglob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call) and (
                (isinstance(node.func, ast.Name) and node.func.id == "pq_update_pass")
                or (
                    isinstance(node.func, ast.Attribute)
                    and node.func.attr == "pq_update_pass"
                )
            ):
                sites.add(path.relative_to(root).as_posix())
    assert sites == {"similarity/pq.py"}


_GEOMETRY_OWNERS = {
    # the guarded cosine: a raw list_cosine_similarity, or a 6-dp
    # round around a cosine
    "cosine": (
        r"list_cosine_similarity|round\(\s*(vec\.)?cosine\(",
        {"functions/vectors.py"},
    ),
    # the md5 hyperplane formula
    "hyperplane": (r"md5\(concat\(p\.plane_id", {"functions/vectors.py"}),
    # the SQL k-means argmin: a row_number ranked by squared L2,
    # written out or through vectors.l2sq_sql
    "argmin": (
        r"row_number\(\) OVER \(PARTITION BY [^()]*?ORDER BY "
        r"(list_sum\(list_transform\(range\(|\{[\w.]*l2sq_sql\()",
        {"similarity/knn.py", "similarity/pq.py"},
    ),
}


def _geometry_sites(root) -> dict[str, set[str]]:
    """Modules spelling out each vector formula of ``_GEOMETRY_OWNERS``.
    Scans string constants (an f-string reads with each hole as
    ``{expr}``, whitespace collapsed) and Spark calls; docstrings and
    comments do not count."""
    import ast
    import re

    from test_text import _docstrings

    pats = {k: re.compile(p) for k, (p, _) in _GEOMETRY_OWNERS.items()}
    sites: dict[str, set[str]] = {k: set() for k in pats}
    for path in root.rglob("*.py"):
        tree = ast.parse(path.read_text())
        skip = _docstrings(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Constant) and isinstance(node.value, str):
                text = "" if id(node) in skip else node.value
            elif isinstance(node, ast.JoinedStr):
                text = "".join(
                    v.value if isinstance(v, ast.Constant) else "{%s}" % ast.unparse(v.value)
                    for v in node.values
                )
            elif isinstance(node, ast.Call):
                text = ast.unparse(node)
            else:
                continue
            text = " ".join(text.split())
            for k, pat in pats.items():
                if pat.search(text):
                    sites[k].add(path.relative_to(root).as_posix())
    return sites


def test_one_vector_geometry():
    """Each vector formula is written in one place per engine:
    functions/vectors.py owns the guarded cosine and the hyperplanes,
    the two k-means modules own their SQL Lloyd unrolls."""
    from pathlib import Path

    import hive_hdfs_practise_spark

    root = Path(hive_hdfs_practise_spark.__file__).parent
    sites = _geometry_sites(root)
    for k, (_, owners) in _GEOMETRY_OWNERS.items():
        assert sites[k] == owners, k


class TestEngineParity:
    """The Spark and SQL forms of each vector formula agree exactly on
    degenerate vectors (zero, self, opposite, scaled, tiny-norm)."""

    PAIRS = [
        ([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),  # zero vector
        ([0.0, 0.0, 0.0], [0.0, 0.0, 0.0]),  # zero with zero
        ([0.3, -1.7, 2.2], [0.3, -1.7, 2.2]),  # itself
        ([0.3, -1.7, 2.2], [-0.3, 1.7, -2.2]),  # opposite
        ([0.3, -1.7, 2.2], [0.9, -5.1, 6.6]),  # scaled copy (x3)
        ([1e-160, 2e-160, -3e-160], [1.0, 2.0, 3.0]),  # tiny norm
        ([1e-200, 0.0, 0.0], [0.0, 1e-200, 1e-200]),  # tiny, orthogonal
        ([0.1, 0.2, 0.3], [0.2, 0.4, 0.6000000001]),  # near-parallel
    ]

    def test_cosine6(self, spark):
        import duckdb

        df = spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(self.PAIRS)],
            "i int, a array<double>, b array<double>",
        )
        got = {
            r.i: r.c
            for r in df.select("i", vec.cosine6(F.col("a"), F.col("b")).alias("c")).collect()
        }
        con = duckdb.connect()
        con.execute("CREATE TABLE p (i INT, a DOUBLE[], b DOUBLE[])")
        con.executemany("INSERT INTO p VALUES (?, ?, ?)", [
            (i, a, b) for i, (a, b) in enumerate(self.PAIRS)
        ])
        want = dict(
            con.execute(f"SELECT i, {vec.cosine6_sql('a', 'b')} FROM p").fetchall()
        )
        assert got == want
        assert got[0] == got[1] == 0.0 and got[2] == 1.0 and got[3] == -1.0

    @pytest.mark.parametrize("n_bands,ppb", [(1, 8), (4, 4)])
    def test_hyperplane_buckets(self, spark, emb, n_bands, ppb):
        import duckdb
        import pyarrow as pa

        rows = [
            (int(r.vec_id), list(r.embedding))
            for r in emb.orderBy("vec_id").limit(40).collect()
        ]
        rows.append((10_000, [0.0] * 64))  # a dot product of 0 is bit 1
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {
            (r.vec_id, r.band): r.bucket
            for r in vec.hyperplane_buckets(df, "embedding", n_bands, ppb).collect()
        }
        con = duckdb.connect()
        con.register(
            "embeddings",
            pa.table({
                "vec_id": [v for v, _ in rows],
                "embedding": pa.array([e for _, e in rows], pa.list_(pa.float32())),
            }),
        )
        want = {
            (v, b): k
            for v, b, k in con.execute(
                f"WITH {vec.hyperplane_bucket_ctes(n_bands, ppb)} "
                "SELECT vec_id, band, bucket FROM buckets"
            ).fetchall()
        }
        assert got == want
        assert len(got) == len(rows) * n_bands
        assert {got[(10_000, b)] for b in range(n_bands)} == {(1 << ppb) - 1}


class TestClusterBalancedSample:
    """r6: embeddings_cluster_balanced_sample — per-cluster quota
    holds, kept ids agree with an independent assignment recompute,
    and the selection is md5-rank (order-insensitive)."""

    def test_quota_and_assignment_parity(self, spark):
        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.plans.sampling_plans import (
            CBS_ITERS,
            CBS_NLIST,
            CBS_QUOTA,
        )
        from hive_hdfs_practise_spark.similarity.knn import (
            assign_clusters,
            kmeans_centroids,
        )
        from hive_hdfs_practise_spark.sources.catalog import table

        got = plans.QUERIES["embeddings_cluster_balanced_sample"](
            spark, SF
        ).collect()
        assert got
        per = {}
        for r in got:
            per.setdefault(r.cluster_id, []).append(r)
            assert 1 <= r.cluster_rank <= CBS_QUOTA
        for rows in per.values():
            assert len(rows) <= CBS_QUOTA
            assert len({r.cluster_rank for r in rows}) == len(rows)
        e = table(spark, SF, "embeddings").select("vec_id", "embedding")
        cents = kmeans_centroids(e, nlist=CBS_NLIST, iters=CBS_ITERS)
        want = {
            r.vec_id: r.cluster_id
            for r in assign_clusters(e, cents).select(
                "vec_id", "cluster_id"
            ).collect()
        }
        for r in got:
            assert want[r.vec_id] == r.cluster_id


class TestRecallAudit:
    """r8: knn_recall_audit — panel coverage and identities, plus
    cross-query consistency: the audit's qvec-0 hit count equals the
    intersection of the registered single-query IVF and brute
    top-10s (same quantizer, same rounded-cosine rank)."""

    def test_identities_and_cross_query_consistency(self, spark):
        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.plans.similarity import (
            AUDIT_QVECS,
            TOP_K,
        )

        sf = "/root/testdata/sf0.001"
        got = {
            r.qvec: (r.n_hits, r.recall)
            for r in P.QUERIES["knn_recall_audit"](spark, sf).collect()
        }
        assert set(got) == set(AUDIT_QVECS)
        for n, rec in got.values():
            assert 0 <= n <= TOP_K
            assert abs(rec - round(n / TOP_K, 6)) < 1e-12
        ivf = {r.vec_id for r in P.QUERIES["knn_ivf"](spark, sf).collect()}
        brute = {
            r.vec_id
            for r in P.QUERIES["knn_brute_cosine"](spark, sf).collect()
        }
        assert got[0][0] == len(ivf & brute)


class TestDriftByLabel:
    """r8: embeddings_drift_by_label — full python integer recompute
    (md5 split, 1e6 HALF_UP micros, int sums, exact squared-diff
    mass, the same fixed IEEE tail)."""

    def test_matches_python_recompute(self, spark):
        import hashlib
        import math
        from decimal import ROUND_HALF_UP, Decimal

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        rows = (
            wide_table(spark, sf, "embeddings")
            .select("vec_id", "label", "embedding")
            .collect()
        )
        sums: dict = {}
        cnts: dict = {}
        for r in rows:
            in_a = int(hashlib.md5(str(r.vec_id).encode()).hexdigest()[:2], 16) < 128
            key = (r.label, in_a)
            cnts[key] = cnts.get(key, 0) + 1
            vec = sums.setdefault(key, [0] * 64)
            for i, x in enumerate(r.embedding):
                q = int(
                    Decimal(repr(float(x) * 1_000_000)).quantize(
                        Decimal("1"), rounding=ROUND_HALF_UP
                    )
                )
                vec[i] += q
        got = {
            r.label: (r.na, r.nb, r.centroid_drift)
            for r in P.QUERIES["embeddings_drift_by_label"](spark, sf).collect()
        }
        labels = {lab for lab, _ in sums}
        for lab in labels:
            na = cnts.get((lab, True), 0)
            nb = cnts.get((lab, False), 0)
            if na == 0 or nb == 0:
                assert lab not in got
                continue
            sa = sums.get((lab, True), [0] * 64)
            sb = sums.get((lab, False), [0] * 64)
            s2 = sum((sa[i] * nb - sb[i] * na) ** 2 for i in range(64))
            drift = math.sqrt(float(s2)) / (float(na) * float(nb) * 1_000_000)
            want = float(
                Decimal(repr(drift)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                )
            )
            gna, gnb, gd = got[lab]
            assert (gna, gnb) == (na, nb)
            assert abs(gd - want) < 1e-9


class TestMmrRerank:
    """r9: knn_mmr_rerank — greedy invariants plus a from-scratch
    python recompute of the integer greedy from the pool's OWN
    Spark-computed micro-unit scores (the oracle separately pins the
    values end to end)."""

    def test_greedy_invariants_and_recompute(self, spark):
        from hive_hdfs_practise_spark import plans as P

        sf = "/root/testdata/sf0.001"
        rows = P.QUERIES["knn_mmr_rerank"](spark, sf).collect()
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        ids = [r.vec_id for r in rows]
        assert len(set(ids)) == len(ids)
        # rank 1 is the pure-relevance argmax == knn_brute's top hit
        brute = P.QUERIES["knn_brute_cosine"](spark, sf).collect()
        assert rows[0].vec_id == brute[0].vec_id
        assert rows[0].score_micro == rows[0].rel_micro
        # recompute each pick's score from INDEPENDENTLY computed
        # pairwise micro-sims (same guarded-cosine expression, its
        # own tiny Spark query): score_k = rel - max sim to the
        # k-1 already-selected. NB the penalty can be NEGATIVE
        # (anti-similar neighbors), so score > rel is legal.
        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark.functions import vectors as vec
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        e = wide_table(spark, sf, "embeddings")
        sel = [r.vec_id for r in rows]
        sub = e.filter(F.col("vec_id").isin(sel))
        a = sub.select(
            F.col("vec_id").alias("va"),
            vec.as_double(F.col("embedding")).alias("ea"),
        )
        b = sub.select(
            F.col("vec_id").alias("vb"),
            vec.as_double(F.col("embedding")).alias("eb"),
        )
        sims = {
            (r.va, r.vb): r.s
            for r in a.join(b, F.col("va") != F.col("vb"))
            .select(
                "va",
                "vb",
                F.round(
                    F.round(vec.cosine(F.col("ea"), F.col("eb")), 6)
                    * 1000000
                )
                .cast("bigint")
                .alias("s"),
            )
            .collect()
        }
        for i, r in enumerate(rows[1:], start=1):
            penalty = max(sims[(r.vec_id, p.vec_id)] for p in rows[:i])
            assert r.score_micro == r.rel_micro - penalty


class TestOutlierAudit:
    """r9: embeddings_outlier_audit — from-scratch integer recompute
    (numpy int64 quantization, python-int exact squared mass, low
    median, 4x flag)."""

    def test_matches_python_recompute(self, spark):
        import numpy as np

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        rows = (
            wide_table(spark, sf, "embeddings")
            .select("vec_id", "label", "embedding")
            .collect()
        )
        by_label: dict = {}
        for r in rows:
            v = np.asarray(r.embedding, dtype=np.float64)
            q = [int(x) for x in np.round(v * 1_000_000).astype(np.int64)]
            by_label.setdefault(r.label, []).append((r.vec_id, q))
        want = {}
        for lab, vs in by_label.items():
            n = len(vs)
            S = [sum(q[i] for _, q in vs) for i in range(64)]
            msds = {}
            for vid, q in vs:
                dd = sum((n * q[i] - S[i]) ** 2 for i in range(64))
                msds[vid] = dd // (n * n)
            ordered = sorted(msds.items(), key=lambda kv: (kv[1], kv[0]))
            med = ordered[(n + 1) // 2 - 1][1]
            for vid, m in msds.items():
                want[vid] = (lab, m, med, m > 4 * med)
        got = {
            r.vec_id: (r.label, r.msd_micro2, r.med_micro2, r.is_outlier)
            for r in P.QUERIES["embeddings_outlier_audit"](
                spark, sf
            ).collect()
        }
        assert got == want and got


class TestIvfIndexAppend:
    """r10: append_ivf_index — frozen-centroid delta append. Existing
    index files must survive byte-for-byte, new files hold only
    delta vec_ids, and the appended assignment equals assigning the
    union against the same frozen centroids."""

    def test_append_untouched_files_and_parity(self, spark):
        import hashlib
        import os
        from urllib.parse import urlparse

        from pyspark.sql import functions as F

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
        write_ivf_index(spark, corpus, "ivf_append_test_idx", nlist=8)

        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path

        def snap():
            root = f"{wh}/ivf_append_test_idx_assign"
            out = {}
            for dp, _, fs in os.walk(root):
                for f in fs:
                    if f.endswith(".parquet"):
                        path = os.path.join(dp, f)
                        with open(path, "rb") as fh:
                            out[path] = hashlib.md5(fh.read()).hexdigest()
            return out

        before = snap()
        append_ivf_index(spark, delta, "ivf_append_test_idx")
        after = snap()
        for path, digest in before.items():
            assert after.get(path) == digest, path
        new_files = sorted(set(after) - set(before))
        assert new_files
        new_ids = {
            r.vec_id
            for r in spark.read.parquet(*new_files)
            .select("vec_id")
            .distinct()
            .collect()
        }
        assert new_ids and all(
            hashlib.md5(str(i).encode()).hexdigest()[0] == "0"
            for i in new_ids
        )
        # appended == union assigned against the SAME frozen centroids
        cents = spark.table("ivf_append_test_idx_centroids")
        want = {
            r.vec_id: r.cluster_id
            for r in assign_clusters(e, cents).collect()
        }
        got = {
            r.vec_id: r.cluster_id
            for r in spark.table("ivf_append_test_idx_assign").collect()
        }
        assert got == want and got


class TestIvfIndexCompact:
    """r11: compaction of the appended IVF assignment table must
    shrink files, keep every row, and keep the bucket-pruned
    exchange-free probe plan."""

    def test_compact_shrinks_preserves_and_stays_pruned(self, spark):
        import os

        from hive_hdfs_practise_spark.operators.compaction import (
            bucket_id_of,
            compact_bucketed_table,
            table_location,
        )
        from hive_hdfs_practise_spark.plans.similarity import (
            IVF_ITERS,
            IVF_NLIST,
            IVF_NPROBE,
        )
        from hive_hdfs_practise_spark.similarity.knn import (
            append_ivf_index,
            knn_ivf_indexed,
            write_ivf_index,
        )
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        e = wide_table(spark, SF, "embeddings")
        nib = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
        write_ivf_index(
            spark, e.filter(nib != "0"), "ivf_cpt_test_idx",
            nlist=IVF_NLIST, iters=IVF_ITERS,
        )
        append_ivf_index(spark, e.filter(nib == "0"), "ivf_cpt_test_idx")
        table = "ivf_cpt_test_idx_assign"
        before = {
            (r.vec_id, r.cluster_id)
            for r in spark.table(table)
            .select("vec_id", "cluster_id")
            .collect()
        }
        path = table_location(spark, table)
        n_before = sum(
            1 for f in os.listdir(path) if f.endswith(".parquet")
        )
        stats = compact_bucketed_table(spark, table)
        assert stats.n_files_before == n_before
        assert stats.n_files_after < n_before
        names = [f for f in os.listdir(path) if f.endswith(".parquet")]
        assert all(bucket_id_of(f) is not None for f in names)
        after = [
            (r.vec_id, r.cluster_id)
            for r in spark.table(table)
            .select("vec_id", "cluster_id")
            .collect()
        ]
        assert len(after) == len(before) and set(after) == before
        # probe plan: still bucket-pruned, still exchange-free
        df = knn_ivf_indexed(
            spark, "ivf_cpt_test_idx", query_vec_id=0, nprobe=IVF_NPROBE
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert f"SelectedBucketsCount: {IVF_NPROBE} out of" in plan
        assert "Exchange hashpartitioning" not in plan


class TestIvfIndexDelete:
    """r12: tombstone deletes — index files byte-stable, deleted
    vec_ids absent from every probe, probe plan still pruned and
    exchange-free."""

    def test_delete_byte_stable_filtered_and_pruned(self, spark):
        import hashlib
        import os

        from hive_hdfs_practise_spark.operators.compaction import (
            table_location,
        )
        from hive_hdfs_practise_spark.plans.similarity import (
            IVF_DELETE_NIBBLE,
            IVF_ITERS,
            IVF_NLIST,
            IVF_NPROBE,
        )
        from hive_hdfs_practise_spark.similarity.knn import (
            delete_from_ivf_index,
            knn_ivf_indexed,
            write_ivf_index,
        )
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        e = wide_table(spark, sf, "embeddings")
        write_ivf_index(
            spark, e, "ivf_del_test_idx", nlist=IVF_NLIST, iters=IVF_ITERS
        )
        nib = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
        deleted = e.where(nib == IVF_DELETE_NIBBLE).select("vec_id")
        del_ids = {r.vec_id for r in deleted.collect()}
        assert del_ids

        def snap(table):
            root = table_location(spark, table)
            out = {}
            for dp, _, fs in os.walk(root):
                for f in fs:
                    if f.endswith(".parquet"):
                        p = os.path.join(dp, f)
                        with open(p, "rb") as fh:
                            out[p] = hashlib.md5(fh.read()).hexdigest()
            return out

        before = {
            t: snap(f"ivf_del_test_idx_{t}") for t in ("assign", "centroids")
        }
        delete_from_ivf_index(spark, deleted, "ivf_del_test_idx")
        for t, b in before.items():
            assert snap(f"ivf_del_test_idx_{t}") == b, t
        # probing with a deleted query vector raises; probes from any
        # kept query never return a deleted id
        df = knn_ivf_indexed(
            spark, "ivf_del_test_idx", 0, 50, nprobe=IVF_NLIST,
        )
        got = {r.vec_id for r in df.collect()}
        assert got and not (got & del_ids)
        some_deleted = sorted(del_ids)[0]
        import pytest as _pytest

        with _pytest.raises(KeyError):
            knn_ivf_indexed(
                spark, "ivf_del_test_idx", some_deleted, 5
            )
        # plan: pruned + exchange-free with the tombstone anti-join on
        plan = (
            knn_ivf_indexed(
                spark, "ivf_del_test_idx", 0, nprobe=IVF_NPROBE,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert f"SelectedBucketsCount: {IVF_NPROBE} out of" in plan
        assert "Exchange hashpartitioning" not in plan


class TestIvfIndexVacuum:
    """r12: vacuum folds the tombstones in INCREMENTALLY — only the
    affected cluster buckets' files are rewritten; unaffected buckets
    stay byte-identical (the inverted-list advantage over the
    scatter-everywhere band index, whose vacuum is a full rewrite)."""

    def test_vacuum_incremental_parity_idempotent(self, spark):
        import hashlib
        import os

        from hive_hdfs_practise_spark.operators.compaction import (
            bucket_id_of,
            table_location,
        )
        from hive_hdfs_practise_spark.plans.similarity import (
            IVF_DELETE_NIBBLE,
            IVF_ITERS,
            IVF_NLIST,
            IVF_NPROBE,
        )
        from hive_hdfs_practise_spark.similarity.knn import (
            delete_from_ivf_index,
            knn_ivf_indexed,
            vacuum_ivf_index,
            write_ivf_index,
        )
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        e = wide_table(spark, sf, "embeddings")
        write_ivf_index(
            spark, e, "ivf_vac_test_idx", nlist=IVF_NLIST, iters=IVF_ITERS
        )
        nib = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
        deleted = e.where(nib == IVF_DELETE_NIBBLE).select("vec_id")
        del_ids = {r.vec_id for r in deleted.collect()}
        delete_from_ivf_index(spark, deleted, "ivf_vac_test_idx")
        table = "ivf_vac_test_idx_assign"
        path = table_location(spark, table)
        # which buckets hold tombstoned rows (ground truth from data)
        affected = {
            r.b
            for r in spark.table(table)
            .where(F.col("vec_id").isin(list(del_ids)))
            .select(
                F.pmod(F.hash("cluster_id"), F.lit(IVF_NLIST)).alias("b")
            )
            .distinct()
            .collect()
        }
        assert affected and len(affected) < IVF_NLIST, affected

        def snap():
            out = {}
            for f in os.listdir(path):
                if f.endswith(".parquet"):
                    with open(os.path.join(path, f), "rb") as fh:
                        out[f] = hashlib.md5(fh.read()).hexdigest()
            return out

        before_probe = {
            (r.vec_id, r.cosine)
            for r in knn_ivf_indexed(
                spark, "ivf_vac_test_idx", 0, 50, nprobe=IVF_NLIST,
            ).collect()
        }
        before_files = snap()
        n = vacuum_ivf_index(spark, "ivf_vac_test_idx")
        assert n == len(del_ids) > 0
        assert not spark.catalog.tableExists("ivf_vac_test_idx_dels")
        after_files = snap()
        # (a) incremental: every unaffected bucket's files untouched
        for f, digest in before_files.items():
            if bucket_id_of(f) not in affected:
                assert after_files.get(f) == digest, f
        # (b) every affected bucket WAS rewritten (old files gone)
        for f in before_files:
            if bucket_id_of(f) in affected:
                assert f not in after_files, f
        # (c) no deleted vec_id survives; kept rows all survive
        ids = {
            r.vec_id for r in spark.table(table).select("vec_id").collect()
        }
        assert not (ids & del_ids)
        assert ids == {r.vec_id for r in e.select("vec_id").collect()} - del_ids
        # (d) a plain probe (no anti-join) now equals the tombstoned
        # probe from before the vacuum
        after_probe = {
            (r.vec_id, r.cosine)
            for r in knn_ivf_indexed(
                spark, "ivf_vac_test_idx", 0, 50, nprobe=IVF_NLIST
            ).collect()
        }
        assert after_probe == before_probe and after_probe
        # (e) idempotent; (f) plan still pruned + exchange-free
        assert vacuum_ivf_index(spark, "ivf_vac_test_idx") == 0
        plan = (
            knn_ivf_indexed(
                spark, "ivf_vac_test_idx", 0, nprobe=IVF_NPROBE
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert f"SelectedBucketsCount: {IVF_NPROBE} out of" in plan
        assert "Exchange hashpartitioning" not in plan
