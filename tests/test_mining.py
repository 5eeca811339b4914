"""Tests for plans/mining.py: prefix-filter Jaccard join, degree-
ordered triangle counting, and the 2-D skyline.

Each test verifies the SPARK plan against an independent recompute
(the naive algorithm in Python, or its registered all-pairs twin) —
the same strategy the oracle uses, but engine-internal so it runs in
the suite without DuckDB.
"""

from __future__ import annotations

from itertools import combinations

import pytest

from hive_hdfs_practise_spark import plans
from hive_hdfs_practise_spark.sources.catalog import table

SF = "/root/testdata/sf0.001"


class TestJaccardPrefixJoin:
    def test_matches_allpairs_twin(self, spark):
        """Prefix filtering is lossless: output set == the quadratic
        dedup_ngram_jaccard's output (same shingles, same tau)."""
        fast = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in plans.QUERIES["dedup_jaccard_prefix_join"](
                spark, SF
            ).collect()
        }
        brute = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in plans.QUERIES["dedup_ngram_jaccard"](spark, SF).collect()
        }
        assert fast == brute
        assert fast  # non-vacuous at sf0.001 (8 pairs)

    def test_intersection_counts_exact(self, spark):
        """n_inter/n_union match a Python set recompute per pair."""
        docs = {
            r.doc_id: r.text
            for r in table(spark, SF, "documents").collect()
        }

        def shingles(t: str) -> set[str]:
            return {t[i : i + 5] for i in range(max(len(t) - 4, 0))}

        for r in plans.QUERIES["dedup_jaccard_prefix_join"](spark, SF).collect():
            a, b = shingles(docs[r.doc_a]), shingles(docs[r.doc_b])
            assert r.n_inter == len(a & b)
            assert r.n_union == len(a | b)

    def test_array_fallback_branch_matches(self, spark, monkeypatch):
        _assert_fallback_matches(spark, monkeypatch, "dedup_jaccard_prefix_join")


    def test_candidate_join_partitioning_pinned(self, spark):
        """The candidate self-join must consume the explicit 8x-
        parallelism repartitions directly: exactly two vid/lang
        exchanges at n_join partitions feed it, and no planner-added
        (ENSURE_REQUIREMENTS) vid/lang exchange exists — the 40x OOM
        fix relies on this plan shape."""
        import re

        df = plans.QUERIES["dedup_jaccard_prefix_join"](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_join = spark.sparkContext.defaultParallelism * 8
        vid_exchanges = re.findall(
            r"Exchange hashpartitioning\(vid[^)]*?(\d+)\),\s*(\w+)", plan
        )
        assert len(vid_exchanges) == 2
        for nparts, origin in vid_exchanges:
            assert int(nparts) == n_join
            assert origin == "REPARTITION_BY_NUM"


class TestTriangleCount:
    def test_matches_python_enumeration(self, spark):
        rows = table(spark, SF, "lineitem").select(
            "l_orderkey", "l_partkey"
        ).collect()
        baskets: dict[int, set[int]] = {}
        for r in rows:
            baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
        from collections import Counter

        sup: Counter = Counter()
        for parts in baskets.values():
            for a, b in combinations(sorted(parts), 2):
                sup[(a, b)] += 1
        edges = {e for e, c in sup.items() if c >= 2}
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        tri: Counter = Counter()
        for a, b in edges:
            for c in adj[a] & adj[b]:
                if c > b:  # a < b < c by id enumerates each once
                    if (a, c) in edges or (c, a) in edges:
                        tri[a] += 1
                        tri[b] += 1
                        tri[c] += 1
        got = {
            r.part_id: r.n_triangles
            for r in plans.QUERIES["graph_triangle_count"](spark, SF).collect()
        }
        assert got == {k: v for k, v in tri.items() if v}
        assert got  # non-vacuous

    def test_no_duplicate_nodes(self, spark):
        df = plans.QUERIES["graph_triangle_count"](spark, SF)
        rows = df.collect()
        assert len({r.part_id for r in rows}) == len(rows)
        assert all(r.n_triangles >= 1 for r in rows)


class TestSkyline:
    def test_dominance_semantics(self, spark):
        parts = [
            (r.p_partkey, r.p_retailprice, r.p_size)
            for r in table(spark, SF, "part")
            .select("p_partkey", "p_retailprice", "p_size")
            .collect()
        ]

        def dominated(p):
            return any(
                q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
                for q in parts
            )

        want = {p for p in parts if not dominated(p)}
        got = {
            (r.p_partkey, r.p_retailprice, r.p_size)
            for r in plans.QUERIES["part_price_skyline"](spark, SF).collect()
        }
        assert got == want
        assert got

    def test_frontier_is_monotone(self, spark):
        rows = sorted(
            plans.QUERIES["part_price_skyline"](spark, SF).collect(),
            key=lambda r: r.p_retailprice,
        )
        # strictly increasing size as price increases (Pareto shape),
        # except exact coordinate ties which are mutually undominated
        for a, b in zip(rows, rows[1:]):
            if a.p_retailprice == b.p_retailprice:
                assert a.p_size == b.p_size
            else:
                assert b.p_size > a.p_size


class TestTopPhrase:
    def test_matches_python_recompute(self, spark):
        from collections import Counter

        docs = {
            r.doc_id: r.text.strip().split()
            for r in table(spark, SF, "documents").collect()
        }
        counts: Counter = Counter()
        per_doc: dict[tuple[int, str], int] = {}
        for doc_id, toks in docs.items():
            for i in range(len(toks) - 2):
                g = " ".join(toks[i : i + 3])
                counts[g] += 1
        top = min(
            (g for g, c in counts.items() if c == max(counts.values())),
        )
        for doc_id, toks in docs.items():
            n = sum(
                1
                for i in range(len(toks) - 2)
                if " ".join(toks[i : i + 3]) == top
            )
            if n:
                per_doc[(doc_id, top)] = n
        got = {
            (r.doc_id, r.phrase): r.n_occurrences
            for r in plans.QUERIES["documents_top_phrase"](spark, SF).collect()
        }
        assert got == per_doc
        assert got


class TestZorderBuckets:
    def test_locality_bound(self, spark):
        """Each top-8-bit z-bucket fixes 4 high bits of BOTH scaled
        dimensions, so per-bucket key ranges are <= 1/16 of the
        domain — the file-skipping property z-ordering exists for."""
        rows = plans.QUERIES["lineitem_zorder_buckets"](spark, SF).collect()
        li = table(spark, SF, "lineitem")
        from pyspark.sql import functions as F

        mp, ms = li.agg(F.max("l_partkey"), F.max("l_suppkey")).head()
        assert rows
        for r in rows:
            assert r.part_max - r.part_min <= (mp + 1) // 16 + 1
            assert r.supp_max - r.supp_min <= (ms + 1) // 16 + 1

    def test_partitions_all_rows(self, spark):
        rows = plans.QUERIES["lineitem_zorder_buckets"](spark, SF).collect()
        n = table(spark, SF, "lineitem").count()
        assert sum(r.n_rows for r in rows) == n
        assert len({r.bucket for r in rows}) == len(rows)


class TestBfsLevels:
    def test_matches_python_bfs(self, spark):
        from collections import deque

        from hive_hdfs_practise_spark.plans.mining import (
            BFS_ROUNDS,
            BFS_SOURCE_CUSTKEY,
        )

        l = table(spark, SF, "lineitem").select("l_orderkey", "l_suppkey")
        o = table(spark, SF, "orders").select("o_orderkey", "o_custkey")
        edges = set()
        omap = {r.o_orderkey: r.o_custkey for r in o.collect()}
        adj: dict = {}
        for r in l.collect():
            c = omap[r.l_orderkey] * 2
            s = r.l_suppkey * 2 + 1
            adj.setdefault(c, set()).add(s)
            adj.setdefault(s, set()).add(c)
        src = BFS_SOURCE_CUSTKEY * 2
        level = {src: 0}
        q = deque([src])
        while q:
            v = q.popleft()
            if level[v] >= BFS_ROUNDS:
                continue
            for w in adj.get(v, ()):
                if w not in level:
                    level[w] = level[v] + 1
                    q.append(w)
        want = {
            (("c" if n % 2 == 0 else "s") + str(n // 2)): lv
            for n, lv in level.items()
        }
        got = {
            r.node: r.level
            for r in plans.QUERIES["graph_bfs_levels"](spark, SF).collect()
        }
        assert got == want
        assert got and max(got.values()) <= BFS_ROUNDS


def _assert_fallback_matches(spark, monkeypatch, name):
    """Force the >128-word verify fallback (array intersect) of a
    prefix-filter join and pin output equality with the bitmap branch
    on the same corpus."""
    import hive_hdfs_practise_spark.plans.mining as mining

    bitmap = {tuple(r) for r in plans.QUERIES[name](spark, SF).collect()}
    # shrink the slot budget so any real vocab exceeds it
    monkeypatch.setattr(mining, "_BITMAP_MAX_WORDS", 0)
    fallback = {tuple(r) for r in plans.QUERIES[name](spark, SF).collect()}
    assert fallback == bitmap
    assert bitmap  # non-vacuous


class TestContainmentJoin:
    def test_array_fallback_branch_matches(self, spark, monkeypatch):
        _assert_fallback_matches(spark, monkeypatch, "documents_containment_join")

    @pytest.fixture(scope="class")
    def result(self, spark):
        return plans.QUERIES["documents_containment_join"](
            spark, SF
        ).collect()

    @pytest.fixture(scope="class")
    def shingle_sets(self, spark):
        rows = table(spark, SF, "documents").select(
            "doc_id", "lang", "text"
        ).collect()
        return {
            r.doc_id: (
                r.lang,
                {r.text[i : i + 5] for i in range(max(len(r.text) - 4, 0))},
            )
            for r in rows
        }

    def test_matches_quadratic_recompute(self, result, shingle_sets):
        """Prefix+length filtering is lossless for containment: the
        banded plan's output equals the naive quadratic recompute."""
        brute = set()
        for da, (la, sa) in shingle_sets.items():
            if not sa:
                continue
            for db, (lb, sb) in shingle_sets.items():
                if da == db or la != lb:
                    continue
                inter = len(sa & sb)
                if 10 * inter >= 9 * len(sa):
                    brute.add((da, db, inter, len(sa), len(sb)))
        got = {
            (r.doc_a, r.doc_b, r.n_inter, r.sz_a, r.sz_b) for r in result
        }
        assert got == brute
        assert got  # non-vacuous

    def test_asymmetry_on_planted_superset(self, spark, tmp_path):
        """Containment is directional — the case Jaccard structurally
        cannot express. Planted corpus: doc 2 embeds doc 1's full
        text inside much more material, so 1 is contained in 2
        (C=1.0) while 2 is nowhere near contained in 1 (their Jaccard
        is far below 0.9 too)."""
        quote = "the quick brown fox jumps over the lazy dog again"
        container = (
            "unrelated preamble material here. "
            + quote
            + " and then a very long tail of completely different text "
            + " ".join(f"filler{i}" for i in range(60))
        )
        df = spark.createDataFrame(
            [
                (1, quote, "en", "s"),
                (2, container, "en", "s"),
                (3, "entirely disjoint content", "en", "s"),
            ],
            "doc_id long, text string, lang string, source string",
        )
        path = str(tmp_path / "contain")
        df.write.mode("overwrite").parquet(f"{path}/documents.parquet")
        got = {
            (r.doc_a, r.doc_b): r.containment
            for r in plans.QUERIES["documents_containment_join"](
                spark, path
            ).collect()
        }
        assert (1, 2) in got and got[(1, 2)] == 1.0
        assert (2, 1) not in got


class TestContainmentKmv:
    def test_recall_vs_exact_twin(self, spark):
        """Every exact-containment pair at sf0.001 is recovered by
        the KMV sketch (md5 family => deterministic, so this is a
        pin, not a flaky bound)."""
        exact = {
            (r.doc_a, r.doc_b)
            for r in plans.QUERIES["documents_containment_join"](
                spark, SF
            ).collect()
        }
        sk = {
            (r.doc_a, r.doc_b)
            for r in plans.QUERIES["dedup_containment_kmv"](
                spark, SF
            ).collect()
        }
        assert exact and exact <= sk

    def test_planted_superset(self, spark, tmp_path):
        quote = "the quick brown fox jumps over the lazy dog again"
        container = (
            "unrelated preamble material here. "
            + quote
            + " and then a tail of different text "
            + " ".join(f"filler{i}" for i in range(40))
        )
        df = spark.createDataFrame(
            [
                (1, quote, "en", "s"),
                (2, container, "en", "s"),
                (3, "entirely disjoint content", "en", "s"),
            ],
            "doc_id long, text string, lang string, source string",
        )
        path = str(tmp_path / "kmv")
        df.write.mode("overwrite").parquet(f"{path}/documents.parquet")
        got = {
            (r.doc_a, r.doc_b): r.containment_est
            for r in plans.QUERIES["dedup_containment_kmv"](
                spark, path
            ).collect()
        }
        assert (1, 2) in got and got[(1, 2)] >= 0.9
        assert (3, 1) not in got and (3, 2) not in got


class TestLinkPrediction:
    """r6: graph_link_prediction — predicted links must be NON-edges
    with exactly the common-neighbor counts a from-scratch recompute
    gives, ranked by the exact Jaccard quotient."""

    def test_candidates_are_nonedges_with_exact_counts(self, spark):
        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.operators.graph import (
            copurchase_edges,
        )
        from hive_hdfs_practise_spark.plans.mining import TRI_MIN_SUP

        sf = "/root/testdata/sf0.001"
        got = plans.QUERIES["graph_link_prediction"](spark, sf).collect()
        assert got
        edges = {
            (r.pa, r.pb)
            for r in copurchase_edges(spark, sf, TRI_MIN_SUP).collect()
        }
        adj: dict = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        for r in got:
            assert (r.part_a, r.part_b) not in edges
            common = adj.get(r.part_a, set()) & adj.get(r.part_b, set())
            assert len(common) == r.common_neighbors > 0
            un = (
                len(adj[r.part_a]) + len(adj[r.part_b]) - r.common_neighbors
            )
            assert abs(r.jaccard - round(r.common_neighbors / un, 6)) < 1e-9


class TestLinkPredictionMinhash:
    """r7: bounded-recall twin — at the test corpora the r=1, b=64
    banding recalls every positive-Jaccard pair with probability
    1-(1-J)^64 (>= 1-6e-7 at the observed top-25 J floor 0.20) and
    verification is exact, so the top-25 must EQUAL the exact twin's
    (md5 family => fully deterministic: a pin, not a flaky bound)."""

    def test_top25_equals_exact_twin(self, spark):
        for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
            exact = sorted(
                map(tuple, plans.QUERIES["graph_link_prediction"](spark, sf).collect())
            )
            sketch = sorted(
                map(
                    tuple,
                    plans.QUERIES["graph_link_prediction_minhash"](spark, sf).collect(),
                )
            )
            assert exact and sketch == exact


class TestContainmentMinhash:
    def test_recall_and_estimator_identity(self, spark):
        """Every exact-containment DIRECTION at sf0.001 is recovered,
        and each reported estimate satisfies the integer identity
        est = m*(sa+sb)/((128+m)*sa) with m in [0, 128]."""
        exact = {
            (r.doc_a, r.doc_b)
            for r in plans.QUERIES["documents_containment_join"](spark, SF).collect()
        }
        got = plans.QUERIES["documents_containment_minhash"](spark, SF).collect()
        sk = {(r.doc_a, r.doc_b) for r in got}
        assert exact and exact <= sk
        from decimal import ROUND_HALF_UP, Decimal

        for r in got:
            assert 0 <= r.n_matches <= 128
            # HALF_UP like Spark/DuckDB round(), not Python banker's
            expect = float(
                Decimal(
                    r.n_matches
                    * (r.sz_a + r.sz_b)
                    / ((128 + r.n_matches) * r.sz_a)
                ).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
            )
            assert abs(r.containment_est - expect) < 1e-9
            assert r.containment_est >= 0.9 - 1e-9


class TestKcorePeel:
    """r9: graph_kcore_peel — full python peel recompute at sf0.01
    (the smallest sf with a non-trivial onion) plus the convergence
    property that makes layer 0 the true k-core."""

    def test_matches_python_peel(self, spark):
        from collections import Counter

        from hive_hdfs_practise_spark.plans.mining import (
            KCORE_K,
            KCORE_ROUNDS,
            TRI_MIN_SUP,
        )

        sf = "/root/testdata/sf0.01"
        li = (
            table(spark, sf, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
            .collect()
        )
        baskets: dict[int, set[int]] = {}
        for r in li:
            baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
        sup: Counter = Counter()
        for parts in baskets.values():
            ps = sorted(parts)
            for i, a in enumerate(ps):
                for b in ps[i + 1 :]:
                    sup[(a, b)] += 1
        adj: dict[int, set[int]] = {}
        for (a, b), c in sup.items():
            if c >= TRI_MIN_SUP:
                adj.setdefault(a, set()).add(b)
                adj.setdefault(b, set()).add(a)
        alive = set(adj)
        want: dict[int, tuple[int, int]] = {}
        for rnd in range(1, KCORE_ROUNDS + 1):
            deg = {v: sum(1 for w in adj[v] if w in alive) for v in alive}
            dropped = {v for v in alive if deg[v] < KCORE_K}
            for v in dropped:
                want[v] = (rnd, deg[v])
            alive -= dropped
        deg_f = {v: sum(1 for w in adj[v] if w in alive) for v in alive}
        for v in alive:
            want[v] = (0, deg_f[v])
        got = {
            r.part_id: (r.peel_round, r.deg)
            for r in plans.QUERIES["graph_kcore_peel"](spark, sf).collect()
        }
        assert got == want
        # converged: the last peel round removed nothing, so the
        # 0-layer is the exact k-core, not an artifact of the cap
        assert not any(pr == KCORE_ROUNDS for pr, _ in got.values())
        assert any(pr == 0 for pr, _ in got.values())
        assert any(pr >= 1 for pr, _ in got.values())
