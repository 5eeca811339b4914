"""Physical-plan regression tests: the scale properties that make
these queries viable at 100 TB, asserted on the executed plan so a
future refactor can't silently lose them."""

from __future__ import annotations

import pytest

from hive_hdfs_practise_spark import plans

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = plans.QUERIES[name](spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


class TestPushdown:
    def test_q6_filters_reach_parquet(self, spark):
        p = _plan(spark, "q6_forecast_revenue")
        assert "PushedFilters" in p
        pushed = p.split("PushedFilters", 1)[1][:400]
        assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed

    def test_q6_reads_only_needed_columns(self, spark):
        p = _plan(spark, "q6_forecast_revenue")
        schema = p.split("ReadSchema", 1)[1][:300]
        assert "l_extendedprice" in schema
        for unused in ["l_orderkey", "l_returnflag", "l_tax", "l_partkey"]:
            assert unused not in schema

    def test_customer_projection_prunes_scan(self, spark):
        p = _plan(spark, "customer_projection")
        schema = p.split("ReadSchema", 1)[1][:300]
        assert "c_nationkey" not in schema  # unselected → pruned


class TestJoinStrategy:
    def test_q5_star_join_is_broadcast(self, spark):
        p = _plan(spark, "q5_local_supplier_volume")
        assert p.count("BroadcastHashJoin") >= 4
        assert "SortMergeJoin" not in p

    def test_knn_query_vector_broadcast(self, spark):
        p = _plan(spark, "knn_brute_cosine")
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


class TestTopKAndAgg:
    def test_recommend_uses_take_ordered(self, spark):
        p = _plan(spark, "recommend_top15")
        assert "TakeOrderedAndProject" in p

    def test_q1_partial_then_final_aggregate(self, spark):
        p = _plan(spark, "q1_pricing_summary")
        assert p.count("HashAggregate") >= 2
        assert "partial_" in p  # map-side combine present

    def test_sessionize_single_shuffle_for_windows_and_agg(self, spark):
        # one hashpartitioning exchange on user_id serves both window
        # functions AND the final per-session aggregate
        p = _plan(spark, "events_sessionize")
        assert p.count("Exchange hashpartitioning") == 1

    def test_asof_join_single_shuffle(self, spark):
        p = _plan(spark, "events_asof_join")
        assert p.count("Exchange hashpartitioning") == 1
        assert "Join" not in p.replace("Exchange", "")  # no join operator at all


class TestNewQueryPlans:
    def test_shingle_intersect_not_in_join_condition(self, spark):
        """The Jaccard threshold filter must not be pushed into the
        lang-blocked self-join with array_intersect inlined per
        reference: the counts are materialized first (the pair stage
        pipeline_training_data shares)."""
        p = _plan(spark, "dedup_ngram_jaccard")
        joins = [ln for ln in p.splitlines() if "Join" in ln]
        assert joins
        assert sum(ln.count("array_intersect") for ln in joins) == 0

    def test_q17_part_filter_pushed_and_broadcast(self, spark):
        p = _plan(spark, "q17_small_quantity_revenue")
        pushed = p.split("PushedFilters", 1)[1][:500]
        assert "p_brand" in pushed or "p_brand" in p
        assert "BroadcastHashJoin" in p

    def test_q13_reads_only_keys(self, spark):
        p = _plan(spark, "q13_customer_distribution")
        # customer scan prunes to the key column only
        assert "struct<c_custkey:bigint>" in p

    def test_enrichment_joins_are_broadcast(self, spark):
        p = _plan(spark, "events_enriched_nation")
        assert p.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in p

    def test_ohlc_single_shuffle_for_two_windows_and_agg(self, spark):
        import re

        p = _plan(spark, "events_ohlc_hourly")
        assert len(re.findall(r"Exchange (hash|range)", p)) == 1


def test_no_unintended_cartesian_products(spark):
    """Sweep every headline query's executed plan: a CartesianProduct
    (non-broadcast cross join) is always a bug in this engine —
    scalar cross joins must come through BroadcastNestedLoopJoin.
    Checkpoint-eager builders are skipped (covered by their own
    tests; building them here would execute real jobs)."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    from bench import BENCH_QUERIES
    from test_schemas import BUILD_EXECUTES

    # bench must only reference registered queries — but compare
    # against the registry loaded in THIS process: bench.py is read
    # from disk at runtime, so a concurrently-edited checkout (a new
    # query registered mid-run) must not fail the sweep spuriously.
    known = [n for n in BENCH_QUERIES if n in plans.QUERIES]
    assert len(known) >= 60  # bench stays substantial
    offenders = []
    for name in known:
        if name in BUILD_EXECUTES:
            continue
        if "CartesianProduct" in _plan(spark, name):
            offenders.append(name)
    assert not offenders, f"cartesian products in: {offenders}"


class TestMovingMedianSharding:
    """r4: events_moving_median runs its percentile window per
    (event_type, time shard) with a carried 99-row tail, so window
    parallelism grows with the data's time span instead of being
    capped at |event_type| (~5)."""

    def test_window_partitioned_by_shard(self, spark):
        p = _plan(spark, "events_moving_median")
        # the percentile window spec must key on the shard, not just
        # the event type
        seg = p.split("percentile", 1)[1][:300]
        assert "shard" in seg
        # partitioning is pinned (REPARTITION_BY_NUM) so AQE's
        # byte-targeted coalescing can't re-serialize the CPU-dense
        # percentile stage on small inputs
        assert "REPARTITION_BY_NUM" in p

    def test_sharded_output_matches_unsharded_window(self, spark):
        """Parity vs the naive single-partition-per-type window at
        sf0.001, where day shards hold ~7 rows each — every trailing
        99-row tail spans many predecessor shards, exercising the
        multi-source tail_map path."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from hive_hdfs_practise_spark.sources.catalog import table

        got = {
            r["event_id"]: r["moving_median"]
            for r in plans.QUERIES["events_moving_median"](spark, SF).collect()
        }
        e = table(spark, SF, "events")
        w = (
            Window.partitionBy("event_type")
            .orderBy("ts", "event_id")
            .rowsBetween(-99, Window.currentRow)
        )
        want = {
            r["event_id"]: r["m"]
            for r in e.select(
                "event_id",
                F.round(F.percentile("value", F.lit(0.5)).over(w), 4).alias("m"),
            ).collect()
        }
        assert got == want


class TestFunnelPlan:
    """r4: events_funnel_conversion — per-step slices scan-filtered
    and cohort joins broadcast (no sort-merge at test scale)."""

    def test_step_filters_pushed_and_cohorts_broadcast(self, spark):
        p = _plan(spark, "events_funnel_conversion")
        assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p

    def test_counts_match_python_recompute(self, spark):
        from hive_hdfs_practise_spark.plans.events import FUNNEL_DAYS
        from hive_hdfs_practise_spark.sources.catalog import table

        rows = {
            r.step: r.n_users
            for r in plans.QUERIES["events_funnel_conversion"](spark, SF).collect()
        }
        ev = [
            (r.user_id, r.event_type, r.ts)
            for r in table(spark, SF, "events").collect()
        ]
        import datetime

        win = datetime.timedelta(days=FUNNEL_DAYS)
        by_user = {}
        for u, t, ts in ev:
            by_user.setdefault(u, []).append((t, ts))
        n1 = n2 = n3 = 0
        for u, evs in by_user.items():
            sign = [ts for t, ts in evs if t == "signup"]
            if not sign:
                continue
            n1 += 1
            t1 = min(sign)
            clicks = [ts for t, ts in evs if t == "click" and t1 < ts <= t1 + win]
            if not clicks:
                continue
            n2 += 1
            t2 = min(clicks)
            purch = [ts for t, ts in evs if t == "purchase" and t2 < ts <= t1 + win]
            if purch:
                n3 += 1
        assert rows == {1: n1, 2: n2, 3: n3}


def test_anomaly_mad_matches_unsharded_window(spark):
    """Pin _sharded_trailing_frame's second consumer: the MAD flags
    from the sharded frame must equal a naive single-partition-per-
    type recompute at sf0.001 (tiny day shards → multi-predecessor
    carried tails)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from hive_hdfs_practise_spark.plans.events import MAD_K
    from hive_hdfs_practise_spark.sources.catalog import table

    got = {
        (r.event_id, r.value, r.med, r.mad)
        for r in plans.QUERIES["events_anomaly_mad"](spark, SF).collect()
    }
    e = table(spark, SF, "events")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-99, Window.currentRow)
    )
    rows = e.select(
        "event_id",
        "value",
        F.percentile("value", F.lit(0.5)).over(w).alias("med"),
        F.array_sort(F.collect_list("value").over(w)).alias("arr"),
    ).collect()
    want = set()
    for r in rows:
        dev = sorted(abs(x - r.med) for x in r.arr)
        n = len(dev)
        h = (n - 1) / 2.0
        import math

        lo, hi = dev[math.floor(h)], dev[math.ceil(h)]
        mad = lo + (h - math.floor(h)) * (hi - lo)
        if round(abs(r.value - r.med), 9) > round(MAD_K * mad, 9):
            want.add((r.event_id, round(r.value, 4), round(r.med, 4), round(mad, 4)))
    assert got == want


class TestMadExactPlan:
    """r5: events_anomaly_mad's deviation median is EXPLODE + a
    percentile hash aggregate whose grouping keys are a superset of
    the frame window's (event_type, shard) partitioning — so the
    aggregate must consume the exploded rows IN PLACE (no exchange
    between Generate and the aggregate) and no interpreted array
    lambda may reappear in the hot path."""

    def test_no_interpreted_lambdas(self, spark):
        # every higher-order function (transform/aggregate/filter/
        # array_sort-with-comparator) renders a lambdafunction(...)
        # in the plan; sort_array is the lambda-free sort expression
        p = _plan(spark, "events_anomaly_mad").lower()
        assert "lambdafunction" not in p
        assert "sort_array" not in p and "array_sort" not in p

    def test_deviation_aggregate_is_exchange_free(self, spark):
        p = _plan(spark, "events_anomaly_mad")
        gen = p.find("Generate explode")
        assert gen != -1
        # everything ABOVE the explode (the aggregate + filter) must
        # contain no Exchange: the plan string lists operators
        # top-down, so the segment before the Generate line is the
        # aggregate side. BroadcastExchange of the scaffolding's tail
        # map sits BELOW the window, never between agg and explode.
        above = p[:gen]
        assert "ObjectHashAggregate" in above or "HashAggregate" in above
        assert "Exchange hashpartitioning" not in above


class TestMadHistPlan:
    """r4: events_anomaly_mad_hist — the mergeable histogram-sketch
    scale path must stay sketch-shaped (hash aggregates over bucket
    counts, no per-row rank window) and its estimates must track the
    exact per-window median/MAD within one bucket width."""

    def test_no_per_row_rank_machinery(self, spark):
        p = _plan(spark, "events_anomaly_mad_hist")
        assert "HashAggregate" in p
        # the exact form's per-row frame machinery must not leak in
        assert "percentile" not in p and "collect_list" not in p

    def test_estimates_within_bucket_width(self, spark):
        """The crossing bucket provably contains the ⌈n/2⌉-th order
        statistic, so each estimate is within one bucket width of it.
        (NOT the interpolated even-n median: with sparse windows its
        two middle values can sit buckets apart, and the sketch has
        no information inside a bucket.)"""
        import math

        from hive_hdfs_practise_spark.plans.events import _MAD_HIST_W
        from hive_hdfs_practise_spark.sources.catalog import table

        got = plans.QUERIES["events_anomaly_mad_hist"](spark, SF).collect()
        assert got  # non-vacuous at sf0.001
        ev = table(spark, SF, "events").collect()
        by_win = {}
        for r in ev:
            k = (r.event_type, r.ts.date())
            by_win.setdefault(k, []).append(r.value)

        def lower_median(xs):
            s = sorted(xs)
            return s[math.ceil(len(s) / 2) - 1]

        for r in got:
            # window_start is a TIMESTAMP since r11 (the dtype-grain
            # fix) — key at date grain
            vals = by_win[(r.event_type, r.window_start.date())]
            assert abs(r.med_est - lower_median(vals)) <= _MAD_HIST_W
            # deviations are measured from the ESTIMATED median (the
            # sketch never sees the exact one), then bucketed — so the
            # reference MAD uses med_est too
            devs = [abs(v - r.med_est) for v in vals]
            assert abs(r.mad_est - lower_median(devs)) <= _MAD_HIST_W


class TestPagerank:
    """r4: graph_pagerank — fixed-point integer power iteration."""

    def test_matches_python_recompute(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark.plans.advanced import (
            PR_JUMP,
            PR_ROUNDS,
            PR_SCALE,
        )
        from hive_hdfs_practise_spark.sources.catalog import table

        got = {
            r.node: (r.pr, r.degree)
            for r in plans.QUERIES["graph_pagerank"](spark, SF).collect()
        }
        l = table(spark, SF, "lineitem").select("l_orderkey", "l_suppkey")
        o = table(spark, SF, "orders").select("o_orderkey", "o_custkey")
        pairs = {
            (f"c{r.o_custkey}", f"s{r.l_suppkey}")
            for r in l.join(o, l.l_orderkey == o.o_orderkey).collect()
        }
        edges = list(pairs) + [(b, a) for a, b in pairs]
        deg = defaultdict(int)
        for s, _ in edges:
            deg[s] += 1
        pr = {n: PR_SCALE for n in deg}
        for _ in range(PR_ROUNDS):
            acc = defaultdict(int)
            for s, d in edges:
                acc[d] += pr[s] // deg[s]
            pr = {n: PR_JUMP + (17 * v) // 20 for n, v in acc.items()}
        assert got == {n: (pr[n], deg[n]) for n in pr}

    def test_rank_state_never_collected(self, spark):
        """The iteration must stay DataFrame-side: hash joins + hash
        aggregates, no cartesian product, and the plan's only
        materialization is the checkpointed edge table."""
        p = _plan(spark, "graph_pagerank")
        assert "CartesianProduct" not in p and "HashAggregate" in p


class TestFuzzyNameMatch:
    """r4: part_fuzzy_name_match — blocked dictionary fuzzy join."""

    def test_matches_python_recompute(self, spark):
        from collections import Counter

        from hive_hdfs_practise_spark.plans.advanced import FUZZY_MAX_LEV
        from hive_hdfs_practise_spark.sources.catalog import table

        def lev(s, t):
            prev = list(range(len(t) + 1))
            for i, cs in enumerate(s, 1):
                cur = [i]
                for j, ct in enumerate(t, 1):
                    cur.append(
                        min(
                            prev[j] + 1,
                            cur[-1] + 1,
                            prev[j - 1] + (cs != ct),
                        )
                    )
                prev = cur
            return prev[-1]

        got = {
            (r.name_a, r.name_b): (
                r.block,
                r.lev_dist,
                r.n_parts_a,
                r.n_parts_b,
            )
            for r in plans.QUERIES["part_fuzzy_name_match"](
                spark, SF
            ).collect()
        }
        counts = Counter(
            r.p_name for r in table(spark, SF, "part").select("p_name").collect()
        )
        names = sorted(counts)
        want = {}
        for i, na in enumerate(names):
            for nb in names[i + 1 :]:
                if na.split()[-1] != nb.split()[-1]:
                    continue
                d = lev(na, nb)
                if d <= FUZZY_MAX_LEV:
                    want[(na, nb)] = (
                        na.split()[-1],
                        d,
                        counts[na],
                        counts[nb],
                    )
        assert got == want and got  # non-vacuous


class TestTransitionMatrix:
    """r4: events_transition_matrix — Markov pair counts."""

    def test_matches_python_recompute(self, spark):
        from collections import Counter, defaultdict

        from hive_hdfs_practise_spark.sources.catalog import table

        got = {
            (r.from_type, r.to_type): (r.n, r.p)
            for r in plans.QUERIES["events_transition_matrix"](
                spark, SF
            ).collect()
        }
        by_user = defaultdict(list)
        for r in table(spark, SF, "events").collect():
            by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
        pairs = Counter()
        for evs in by_user.values():
            evs.sort()
            for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
                pairs[(a, b)] += 1
        totals = defaultdict(int)
        for (a, _), n in pairs.items():
            totals[a] += n
        want = {
            (a, b): (n, round(n / totals[a], 6)) for (a, b), n in pairs.items()
        }
        assert got == want


class TestGapFill:
    """r4: events_gap_fill — densified grid + zero/forward fill."""

    def test_grid_complete_and_fills_correct(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark.sources.catalog import table

        rows = plans.QUERIES["events_gap_fill"](spark, SF).collect()
        ev = table(spark, SF, "events").collect()
        types = {r.event_type for r in ev}
        hours = sorted({r.hour for r in rows})
        # complete cartesian grid, hourly-contiguous
        assert len(rows) == len(types) * len(hours)
        for a, b in zip(hours, hours[1:]):
            assert (b - a).total_seconds() == 3600
        # recompute totals
        agg = defaultdict(lambda: [0, 0.0])
        for r in ev:
            k = (r.event_type, r.ts.replace(minute=0, second=0, microsecond=0))
            agg[k][0] += 1
            agg[k][1] += r.value
        by_type = defaultdict(list)
        for r in rows:
            by_type[r.event_type].append(r)
        for t, rs in by_type.items():
            rs.sort(key=lambda r: r.hour)
            carried = None
            for r in rs:
                n, tv = agg.get((t, r.hour), (0, None))
                assert r.n_events == n
                if n:
                    assert r.total_value == round(agg[(t, r.hour)][1], 2)
                    carried = r.total_value
                else:
                    assert r.total_value is None
                assert r.total_value_ffill == carried


class TestProfileAndPivot:
    def test_profile_matches_python(self, spark):
        from hive_hdfs_practise_spark.plans.stats import PROFILE_COLS
        from hive_hdfs_practise_spark.sources.catalog import table

        got = {
            r.column_name: (r.n_rows, r.n_nulls, r.n_distinct, r.min_value, r.max_value)
            for r in plans.QUERIES["lineitem_profile"](spark, SF).collect()
        }
        data = table(spark, SF, "lineitem").select(*PROFILE_COLS).collect()
        for c in PROFILE_COLS:
            vals = [getattr(r, c) for r in data]
            nn = [v for v in vals if v is not None]
            assert got[c] == (
                len(vals),
                len(vals) - len(nn),
                len(set(nn)),
                round(min(nn), 4),
                round(max(nn), 4),
            )

    def test_pivot_matches_python(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark.sources.catalog import table

        got = {
            r.month: (r.status_o, r.status_f, r.status_p, r.n_orders)
            for r in plans.QUERIES["sales_pivot_by_status"](spark, SF).collect()
        }
        acc = defaultdict(lambda: {"O": None, "F": None, "P": None, "n": 0})
        for r in table(spark, SF, "orders").collect():
            m = r.o_orderdate.strftime("%Y-%m")
            a = acc[m]
            a[r.o_orderstatus] = (a[r.o_orderstatus] or 0.0) + r.o_totalprice
            a["n"] += 1
        want = {
            m: (
                None if a["O"] is None else round(a["O"], 2),
                None if a["F"] is None else round(a["F"], 2),
                None if a["P"] is None else round(a["P"], 2),
                a["n"],
            )
            for m, a in acc.items()
        }
        assert got == want


class TestWeightedSample:
    """r4: dataset_weighted_sample — exact-integer PPS membership."""

    def test_matches_python_recompute(self, spark):
        import hashlib

        from hive_hdfs_practise_spark.plans.sampling_plans import WSAMPLE_K
        from hive_hdfs_practise_spark.sources.catalog import table

        got = {
            r.doc_id: (r.n_chars, r.p_include)
            for r in plans.QUERIES["dataset_weighted_sample"](
                spark, SF
            ).collect()
        }
        docs = [
            (r.doc_id, r.n_chars)
            for r in table(spark, SF, "documents")
            .select("doc_id", "n_chars")
            .collect()
        ]
        w_total = sum(w for _, w in docs)
        want = {}
        for d, w in docs:
            u = int(hashlib.md5(str(d).encode()).hexdigest()[:8], 16)
            if u * w_total < WSAMPLE_K * w * (1 << 32):
                want[d] = (w, round(min(1.0, WSAMPLE_K * w / w_total), 6))
        assert got == want
        # sanity: sample size near K (Poisson-ish; generous bound)
        assert 0.4 * WSAMPLE_K <= len(got) <= 2 * WSAMPLE_K


class TestTfidfSimilarity:
    """r4: documents_tfidf_similarity — integer-scaled sparse cosine."""

    def test_matches_python_recompute(self, spark):
        import math
        from collections import Counter

        from hive_hdfs_practise_spark.plans.advanced import (
            TFIDF_SIM_QUERY_DOC,
            TFIDF_SIM_TOP_K,
        )
        from hive_hdfs_practise_spark.sources.catalog import table

        got = [
            (r.doc_id, r.dot, r.cosine)
            for r in plans.QUERIES["documents_tfidf_similarity"](
                spark, SF
            ).collect()
        ]
        docs = {
            r.doc_id: Counter(r.text.split())
            for r in table(spark, SF, "documents")
            .select("doc_id", "text")
            .collect()
        }
        n = len(docs)
        df = Counter()
        for c in docs.values():
            df.update(c.keys())
        w = {
            d: {t: tf * ((n * 1000) // df[t]) for t, tf in c.items()}
            for d, c in docs.items()
        }
        nrm = {d: math.sqrt(sum(x * x for x in ws.values())) for d, ws in w.items()}
        q = w[TFIDF_SIM_QUERY_DOC]
        scored = []
        for d, ws in w.items():
            if d == TFIDF_SIM_QUERY_DOC:
                continue
            dot = sum(x * q[t] for t, x in ws.items() if t in q)
            if dot:
                scored.append(
                    (d, dot, round(dot / (nrm[d] * nrm[TFIDF_SIM_QUERY_DOC]), 6))
                )
        scored.sort(key=lambda r: (-r[2], r[0]))
        assert got == scored[:TFIDF_SIM_TOP_K]


class TestScd2AndRfm:
    def test_scd2_intervals_match_python(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark.sources.catalog import table

        got = {
            (r.user_id, r.run_id): (
                r.event_type,
                r.valid_from,
                r.valid_to,
                r.n_events,
            )
            for r in plans.QUERIES["events_scd2_intervals"](spark, SF).collect()
        }
        by_user = defaultdict(list)
        for r in table(spark, SF, "events").collect():
            by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
        want = {}
        for u, evs in by_user.items():
            evs.sort()
            runs = []
            for ts, _, t in evs:
                if runs and runs[-1][0] == t:
                    runs[-1][2] += 1
                else:
                    runs.append([t, ts, 1])
            # run_id is 1-based: the first row's lag() is NULL, which
            # IS DISTINCT FROM any type, so the change flag fires
            for i, (t, ts, n) in enumerate(runs, start=1):
                vt = runs[i][1] if i < len(runs) else None
                want[(u, i)] = (t, ts, vt, n)
        assert got == want

    def test_rfm_scores_are_quintiles(self, spark):
        rows = plans.QUERIES["customer_rfm_segments"](spark, SF).collect()
        n = len(rows)
        assert n > 0
        for dim in ("r_score", "f_score", "m_score"):
            from collections import Counter

            c = Counter(getattr(r, dim) for r in rows)
            assert sorted(c) == [1, 2, 3, 4, 5]
            assert max(c.values()) - min(c.values()) <= 1  # ntile balance
        # monotonicity: higher m_score ⇒ not-lower monetary ranks
        by_m = sorted(rows, key=lambda r: (r.monetary, r.c_custkey))
        scores = [r.m_score for r in by_m]
        assert scores == sorted(scores)


class TestFrequentPairs:
    """r4: orders_frequent_part_pairs — basket-keyed co-occurrence."""

    def test_matches_python_recompute(self, spark):
        from collections import Counter, defaultdict

        from hive_hdfs_practise_spark.plans.analytics import FIS_MIN_SUP
        from hive_hdfs_practise_spark.sources.catalog import table

        got = {
            (r.part_a, r.part_b): (r.support, r.lift)
            for r in plans.QUERIES["orders_frequent_part_pairs"](
                spark, SF
            ).collect()
        }
        baskets = defaultdict(set)
        for r in table(spark, SF, "lineitem").select(
            "l_orderkey", "l_partkey"
        ).collect():
            baskets[r.l_orderkey].add(r.l_partkey)
        sup = Counter()
        cnt = Counter()
        for parts in baskets.values():
            ps = sorted(parts)
            cnt.update(ps)
            for i, x in enumerate(ps):
                for y in ps[i + 1 :]:
                    sup[(x, y)] += 1
        n = len(baskets)
        want = {
            p: (s, round(s * n / (cnt[p[0]] * cnt[p[1]]), 6))
            for p, s in sup.items()
            if s >= FIS_MIN_SUP
        }
        assert got == want

    def test_pair_join_is_basket_keyed(self, spark):
        """The candidate join must key on the order (basket), never a
        cartesian across the catalog."""
        p = _plan(spark, "orders_frequent_part_pairs")
        assert "CartesianProduct" not in p


class TestCusum:
    """r4: events_rate_cusum — closed form equals the textbook
    recursion s_h = max(0, s_{h-1} + c_h − K)."""

    def test_matches_recursive_recompute(self, spark):
        import datetime
        from collections import Counter

        from hive_hdfs_practise_spark.plans.events import CUSUM_H, CUSUM_K
        from hive_hdfs_practise_spark.sources.catalog import table

        # sf0.01, not the usual sf0.001: at the smaller SF the hourly
        # rate never crosses the drift and the parity holds vacuously
        sf = "/root/testdata/sf0.01"
        got = {
            (r.event_type, r.hour): (r.n_events, r.cusum)
            for r in plans.QUERIES["events_rate_cusum"](spark, sf).collect()
        }
        ev = table(spark, sf, "events").select("event_type", "ts").collect()
        counts = Counter(
            (r.event_type, r.ts.replace(minute=0, second=0, microsecond=0))
            for r in ev
        )
        types = {r.event_type for r in ev}
        h0 = min(r.ts for r in ev).replace(minute=0, second=0, microsecond=0)
        h1 = max(r.ts for r in ev).replace(minute=0, second=0, microsecond=0)
        want = {}
        for t in types:
            s, h = 0, h0
            while h <= h1:
                n = counts.get((t, h), 0)
                s = max(0, s + n - CUSUM_K)
                if s > CUSUM_H:
                    want[(t, h)] = (n, s)
                h += datetime.timedelta(hours=1)
        assert got == want and got


class TestGrowthAndCurriculum:
    def test_mom_growth_matches_python(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark.sources.catalog import table

        got = {
            r.month: (r.revenue, r.n_orders, r.revenue_delta, r.growth_pct)
            for r in plans.QUERIES["sales_mom_growth"](spark, SF).collect()
        }
        acc = defaultdict(lambda: [0.0, 0])
        for r in table(spark, SF, "orders").collect():
            m = r.o_orderdate.strftime("%Y-%m")
            acc[m][0] += r.o_totalprice
            acc[m][1] += 1
        months = sorted(acc)
        want = {}
        prev = None
        for m in months:
            rev = round(acc[m][0], 2)
            want[m] = (
                rev,
                acc[m][1],
                None if prev is None else round(rev - prev, 2),
                None if prev is None else round((rev / prev - 1.0) * 100, 4),
            )
            prev = rev
        assert got == want

    def test_curriculum_buckets_partition_corpus(self, spark):
        rows = plans.QUERIES["documents_curriculum_deciles"](
            spark, SF
        ).collect()
        assert sorted(r.bucket for r in rows) == list(range(1, 11))
        from hive_hdfs_practise_spark.sources.catalog import table

        n = table(spark, SF, "documents").count()
        assert sum(r.n_docs for r in rows) == n
        assert max(r.n_docs for r in rows) - min(r.n_docs for r in rows) <= 1
        # easy→hard ordering: bucket quality ranges are non-decreasing
        by_b = sorted(rows, key=lambda r: r.bucket)
        for a, b in zip(by_b, by_b[1:]):
            assert a.max_quality <= b.min_quality + 1e-9
            assert a.min_quality <= a.max_quality


class TestTimeWeightedAvg:
    def test_recompute(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark.sources.catalog import table

        per_user = defaultdict(list)
        for r in table(spark, SF, "events").select(
            "user_id", "ts", "event_id", "value"
        ).collect():
            per_user[r.user_id].append((r.ts, r.event_id, r.value))
        want = {}
        for uid, evs in per_user.items():
            evs.sort(key=lambda t: (t[0], t[1]))
            num = den = 0.0
            n = 0
            for (t0, _, v), (t1, _, _) in zip(evs, evs[1:]):
                dt = (t1 - t0).total_seconds() * 1e6
                if dt > 0:
                    num += v * dt
                    den += dt
                    n += 1
            if n:
                want[uid] = (n, int(round(den)), num / den)
        got = {
            r.user_id: (r.n_intervals, r.span_us, r.twa_value)
            for r in plans.QUERIES["events_time_weighted_avg"](spark, SF).collect()
        }
        assert set(got) == set(want)
        for uid, (n, span, twa) in want.items():
            gn, gspan, gtwa = got[uid]
            assert gn == n and gspan == span
            assert abs(gtwa - twa) < 1e-4


class TestSeasonalDecomposition:
    def test_identity_and_zero_mean(self, spark):
        rows = plans.QUERIES["sales_seasonal_decomposition"](spark, SF).collect()
        assert rows
        # revenue == trend + seasonal + residual (within output rounding)
        for r in rows:
            assert abs(r.revenue - (r.trend + r.seasonal + r.residual)) < 2e-6
        # seasonal indices sum to ~zero over the distinct month-of-years
        by_moy = {r.month.month: r.seasonal for r in rows}
        assert abs(sum(by_moy.values())) < 1e-4
        # trend is the CMA-12: recompute from the monthly grid
        from collections import defaultdict

        from hive_hdfs_practise_spark.sources.catalog import table

        cents = defaultdict(int)
        for o in table(spark, SF, "orders").collect():
            key = (o.o_orderdate.year, o.o_orderdate.month)
            cents[key] += round(o.o_totalprice * 100)
        months = sorted(cents)
        got = {(r.month.year, r.month.month): r.trend for r in rows}
        for i, mth in enumerate(months):
            if i < 6 or i + 6 >= len(months):
                assert mth not in got
                continue
            num = 2 * sum(cents[months[j]] for j in range(i - 5, i + 6))
            num += cents[months[i - 6]] + cents[months[i + 6]]
            assert abs(got[mth] - num / 2400.0) < 2e-6


class TestPseudonymizationAndDiff:
    def test_anonymize_preserves_joins(self, spark):
        r = plans.QUERIES["anonymize_join_preservation"](spark, SF).collect()[0]
        from hive_hdfs_practise_spark.sources.catalog import table

        ev = table(spark, SF, "events")
        assert r.n_events == ev.count()
        assert r.n_joined_raw == r.n_joined_pseudo
        assert r.n_distinct_users == r.n_distinct_pseudonyms
        assert r.n_joined_raw > 0

    def test_snapshot_diff_counts(self, spark):
        from hive_hdfs_practise_spark.sources.catalog import table

        rows = {r.kind: r for r in plans.QUERIES["orders_snapshot_diff"](spark, SF).collect()}
        keys = [
            r.o_orderkey
            for r in table(spark, SF, "orders").select("o_orderkey").collect()
        ]
        n_added = sum(1 for k in keys if k % 101 == 0 and k % 103 != 0)
        n_removed = sum(1 for k in keys if k % 103 == 0 and k % 101 != 0)
        assert rows["added"].n_rows == n_added
        assert rows["removed"].n_rows == n_removed
        both = [k for k in keys if k % 101 != 0 and k % 103 != 0]
        assert (
            rows["changed"].n_rows + rows["unchanged"].n_rows == len(both)
        )
        # every changed row changed status or price
        assert (
            rows["changed"].n_status_changed + rows["changed"].n_price_changed
            >= rows["changed"].n_rows
        )
        assert rows["unchanged"].n_status_changed == 0
        assert rows["unchanged"].n_price_changed == 0


class TestRunAlertsAndJackknife:
    def test_error_runs_recompute(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark.sources.catalog import table

        per_user = defaultdict(list)
        for r in table(spark, SF, "events").select(
            "user_id", "event_id", "ts", "event_type"
        ).collect():
            per_user[r.user_id].append((r.ts, r.event_id, r.event_type))
        want = set()
        for uid, evs in per_user.items():
            evs.sort(key=lambda t: (t[0], t[1]))
            run = []
            for ts, _, et in evs + [(None, None, "_end")]:
                if et == "error":
                    run.append(ts)
                else:
                    if len(run) >= 3:
                        want.add((uid, run[0], run[-1], len(run)))
                    run = []
        got = {
            (r.user_id, r.run_start_ts, r.run_end_ts, r.run_len)
            for r in plans.QUERIES["events_error_run_alerts"](spark, SF).collect()
        }
        assert got == want

    def test_jackknife_recompute(self, spark):
        import math
        from collections import defaultdict

        from hive_hdfs_practise_spark.sources.catalog import table

        groups = defaultdict(lambda: [0, 0])
        for r in table(spark, SF, "lineitem").select(
            "l_shipdate", "l_extendedprice"
        ).collect():
            k = (r.l_shipdate.year, r.l_shipdate.month)
            groups[k][0] += round(r.l_extendedprice * 100)
            groups[k][1] += 1
        S = sum(s for s, _ in groups.values())
        N = sum(n for _, n in groups.values())
        G = len(groups)
        thetas = [(S - s) / (100.0 * (N - n)) for s, n in groups.values()]
        tbar = sum(thetas) / G
        se = math.sqrt((G - 1) / G * sum((t - tbar) ** 2 for t in thetas))
        r = plans.QUERIES["lineitem_jackknife_mean_se"](spark, SF).collect()[0]
        assert r.n_groups == G and r.n_rows == N
        assert abs(r.mean_price - S / (100.0 * N)) < 1e-5
        assert abs(r.jackknife_se - se) < 1e-5
        assert r.jackknife_se > 0


class TestLatenessAudit:
    def test_matches_python_replay(self, spark):
        import hashlib

        from hive_hdfs_practise_spark.plans.events import (
            WM_BUCKET_US,
            WM_DELAY_US,
        )
        from hive_hdfs_practise_spark.sources.catalog import table

        rows = [
            (hashlib.md5(str(r.event_id).encode()).hexdigest(), r.event_id, r.ts)
            for r in table(spark, SF, "events").select("event_id", "ts").collect()
        ]
        rows.sort()
        from collections import defaultdict

        want = defaultdict(lambda: [0, None])
        hw = None
        for _, _, ts in rows:
            us = int(ts.timestamp() * 1e6)
            if hw is not None and us < hw - WM_DELAY_US:
                late = hw - WM_DELAY_US - us
                b = late // WM_BUCKET_US
                want[b][0] += 1
                want[b][1] = max(want[b][1] or 0, late)
            hw = us if hw is None else max(hw, us)
        got = {
            r.lateness_bucket: (r.n_dropped, r.max_late_us)
            for r in plans.QUERIES["events_lateness_audit"](spark, SF).collect()
        }
        assert got == {b: (n, m) for b, (n, m) in want.items()}
        assert got  # scrambled replay must produce late events


class TestShuffleAudit:
    def test_matches_python_runs(self, spark):
        import hashlib
        from collections import defaultdict

        from hive_hdfs_practise_spark.sources.catalog import table

        docs = [
            (hashlib.md5(str(r.doc_id).encode()).hexdigest() + "-" + str(r.doc_id), r.source)
            for r in table(spark, SF, "documents").select("doc_id", "source").collect()
        ]
        docs.sort()
        want = defaultdict(lambda: [0, 0, 0])  # n_runs, max_len, n_docs
        prev = None
        run_len = 0
        def close(src, ln):
            want[src][0] += 1
            want[src][1] = max(want[src][1], ln)
        for _, src in docs:
            want[src][2] += 1
            if src == prev:
                run_len += 1
            else:
                if prev is not None:
                    close(prev, run_len)
                prev, run_len = src, 1
        close(prev, run_len)
        got = {
            r.source: (r.n_runs, r.max_run_len, r.n_docs)
            for r in plans.QUERIES["dataset_shuffle_audit"](spark, SF).collect()
        }
        assert got == {s: tuple(v) for s, v in want.items()}
        # shuffle sanity: total docs conserved
        assert sum(v[2] for v in want.values()) == len(docs)


class TestIncrementalAndAbc:
    def test_incremental_equals_full_recompute(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark.sources.catalog import table

        acc = defaultdict(lambda: [0.0, 0])
        for r in table(spark, SF, "orders").collect():
            k = (r.o_orderdate.year, r.o_orderstatus)
            acc[k][0] += r.o_totalprice
            acc[k][1] += 1
        got = {
            (r.o_year, r.o_orderstatus): (r.total_sales, r.n_orders)
            for r in plans.QUERIES["sales_incremental_refresh"](spark, SF).collect()
        }
        assert got == {k: (round(s, 2), n) for k, (s, n) in acc.items()}

    def test_abc_recompute(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark.sources.catalog import table

        cents = defaultdict(int)
        for r in table(spark, SF, "lineitem").select(
            "l_suppkey", "l_extendedprice"
        ).collect():
            cents[r.l_suppkey] += round(r.l_extendedprice * 100)
        order = sorted(cents.items(), key=lambda kv: (-kv[1], kv[0]))
        tot = sum(cents.values())
        want = defaultdict(lambda: [0, 0])
        cum = 0
        for _, c in order:
            cum += c
            cls = "A" if 100 * cum <= 80 * tot else ("B" if 100 * cum <= 95 * tot else "C")
            want[cls][0] += 1
            want[cls][1] += c
        got = {
            r.abc_class: (r.n_suppliers, r.revenue_share)
            for r in plans.QUERIES["supplier_abc_classification"](spark, SF).collect()
        }
        assert set(got) == set(want)
        for cls, (n, c) in want.items():
            gn, gs = got[cls]
            assert gn == n
            assert abs(gs - c / tot) < 1e-6
        # class shares partition the revenue
        assert abs(sum(s for _, s in got.values()) - 1.0) < 1e-5


class TestBrowseBuyPattern:
    """r5: events_pattern_browse_buy must equal a literal
    MATCH_RECOGNIZE automaton (greedy B*, AFTER MATCH SKIP PAST LAST
    ROW) run over the same sequences — including the abandoned-prefix
    case (A B A B C restarts at the second A) and partition edges."""

    @staticmethod
    def _automaton(rows):
        """Reference: scan click (view)* purchase per user."""
        out = []
        i = 0
        while i < len(rows):
            t0, _, _ = rows[i]
            if t0 != "click":
                i += 1
                continue
            j = i + 1
            views = []
            while j < len(rows) and rows[j][0] == "view":
                views.append(rows[j])
                j += 1
            if j < len(rows) and rows[j][0] == "purchase":
                out.append((i, j, len(views), sum(v for _, _, v in views)))
                i = j + 1  # skip past last row
            else:
                i += 1  # abandon, resume after the A
        return out

    def test_matches_automaton_on_crafted_sequences(self, spark):
        import datetime

        from pyspark.sql import functions as F

        base = datetime.datetime(2024, 1, 1)
        cases = {
            1: ["click", "view", "view", "purchase"],          # A B B C
            2: ["click", "purchase"],                          # A C (B*=0)
            3: ["click", "view", "click", "view", "purchase"], # abandoned prefix
            4: ["view", "view", "purchase"],                   # no A -> no match
            5: ["click", "view", "error", "purchase"],         # broken by error
            6: ["purchase", "click", "view", "purchase", "purchase"],
            7: ["click"],                                      # dangling A
            8: ["signup", "click", "view", "view", "view", "purchase", "click", "purchase"],
        }
        data = []
        eid = 0
        for u, seq in cases.items():
            for k, t in enumerate(seq):
                data.append(
                    (eid, u, t, base + datetime.timedelta(minutes=k), 1.5 + k)
                )
                eid += 1
        df = spark.createDataFrame(
            data, "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP, value DOUBLE"
        )
        import hive_hdfs_practise_spark.plans.events as EV
        from hive_hdfs_practise_spark.sources import catalog

        orig = catalog.table
        try:
            catalog_table = lambda spark_, sf, name: df  # noqa: E731
            EV.table = catalog_table
            got = {
                (r.user_id, r.n_views, round(r.views_value, 6), r.duration_us)
                for r in EV.events_pattern_browse_buy(spark, "unused").collect()
            }
        finally:
            EV.table = orig
        want = set()
        for u, seq in cases.items():
            rows = [
                (t, base + datetime.timedelta(minutes=k), 1.5 + k)
                for k, t in enumerate(seq)
            ]
            for i, j, nv, vsum in self._automaton(rows):
                want.add((u, nv, round(vsum, 6), (j - i) * 60_000_000))
        assert got == want
        assert any(u == 3 for u, *_ in got)  # abandoned-prefix case matched


def test_interleave_audit_devs_telescope_to_zero(spark):
    """Per source, the window deviations must telescope to zero
    (sum_w n_docs*W = W*n_source) — the audit's internal consistency
    invariant — and every source must appear in all windows' grid."""
    from collections import defaultdict

    from hive_hdfs_practise_spark.plans.sampling_plans import (
        INTERLEAVE_WINDOWS,
    )

    rows = plans.QUERIES["documents_interleave_audit"](spark, SF).collect()
    per_src = defaultdict(int)
    cells = defaultdict(int)
    for r in rows:
        per_src[r.source] += r.dev_scaled
        cells[r.source] += 1
    assert all(v == 0 for v in per_src.values())
    assert all(v == INTERLEAVE_WINDOWS for v in cells.values())


class TestR5Plans:
    """Physical-plan pins for the round-5 operators: the properties
    that make them viable at scale, asserted so refactors can't
    silently lose them."""

    def test_phash_verify_precedes_distinct(self, spark):
        """Hamming verify must run map-side BEFORE the pair distinct
        (never distinct a candidate stream the verify can shrink):
        in the executed plan the aggregate (distinct) sits ABOVE the
        banded join, with the hamming filter BETWEEN them."""
        p = _plan(spark, "multimodal_phash_neardup")
        agg = p.find("HashAggregate")
        filt = p.find("bit_count")
        join = max(p.find("SortMergeJoin"), p.find("ShuffledHashJoin"), p.find("BroadcastHashJoin"))
        assert agg != -1 and filt != -1 and join != -1
        assert agg < filt or agg < join  # distinct above the verify/join

    def test_classifier_grid_broadcast(self, spark):
        """The (source × vocab) score grid must broadcast into the
        token-scoring join — the corpus-sized token stream is never
        the build side."""
        p = _plan(spark, "documents_source_classifier")
        assert "BroadcastHashJoin" in p

    def test_ann_self_join_vector_tables_broadcast(self, spark):
        """Both vector tables broadcast: the candidate stream (which
        explodes on near-dup-heavy corpora) must never be
        sort-merge-joined carrying 512-byte vectors — the r5 40× OOM."""
        p = _plan(spark, "embeddings_ann_self_join")
        assert p.count("BroadcastHashJoin") >= 2
        assert "SortMergeJoin" not in p

    def test_range_join_is_equi_join(self, spark):
        """The banded rewrite must plan as an equi-join — a theta
        join would nested-loop."""
        p = _plan(spark, "events_range_join_clicks")
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p

    def test_correlation_matrix_single_pass(self, spark):
        """All 15 co-moments in ONE scan: exactly one parquet scan of
        lineitem in the plan."""
        p = _plan(spark, "lineitem_correlation_matrix")
        assert p.count("Scan parquet") == 1

    def test_top_paths_no_interpreted_lambdas(self, spark):
        p = _plan(spark, "events_top_paths").lower()
        assert "lambdafunction" not in p


def test_supplier_top_parts_window_group_limit(spark):
    """The rank<=k filter must push down as WindowGroupLimit so map
    tasks forward at most k rows per supplier before the exchange."""
    p = _plan(spark, "supplier_top_parts")
    assert "WindowGroupLimit" in p


class TestDsirWeights:
    """r6: documents_dsir_weights — hashed-unigram importance scores.
    The per-token score must separate the target slice from the pool
    (the operator's entire point), and every score must equal a
    from-scratch recomputation of the bucket log-ratios."""

    def test_target_enrichment(self, spark):
        from hive_hdfs_practise_spark.plans.sampling_plans import DSIR_TARGET

        rows = plans.QUERIES["documents_dsir_weights"](spark, SF).collect()
        assert len(rows) > 0
        tgt = [r.score_per_token_fp for r in rows if r.source == DSIR_TARGET]
        pool = [r.score_per_token_fp for r in rows if r.source != DSIR_TARGET]
        assert tgt and pool
        # target docs score strictly higher per token on average —
        # their features ARE the target distribution
        assert sum(tgt) / len(tgt) > sum(pool) / len(pool)

    def test_scores_match_python_recompute(self, spark):
        import math
        import re

        from hive_hdfs_practise_spark.dedup.minhash import P32
        from hive_hdfs_practise_spark.plans.sampling_plans import (
            DSIR_B,
            DSIR_SCALE,
            DSIR_TARGET,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet").collect()

        def bucket(word: str) -> int:
            import hashlib

            h = int(hashlib.md5(word.encode()).hexdigest()[:8], 16)
            return (h % P32) % DSIR_B

        tgt_c: dict = {}
        raw_c: dict = {}
        tt = rr = 0
        feats = {}
        for d in docs:
            ws = re.findall(r"\S+", (d.text or "").strip().lower())
            bs = [bucket(w) for w in ws]
            feats[d.doc_id] = bs
            for b in bs:
                raw_c[b] = raw_c.get(b, 0) + 1
                rr += 1
                if d.source == DSIR_TARGET:
                    tgt_c[b] = tgt_c.get(b, 0) + 1
                    tt += 1
        lam = {
            b: int(
                __import__("decimal").Decimal(
                    (
                        math.log((tgt_c.get(b, 0) + 1) / (tt + DSIR_B))
                        - math.log((r + 1) / (rr + DSIR_B))
                    )
                    * DSIR_SCALE
                ).quantize(0, rounding=__import__("decimal").ROUND_HALF_UP)
            )
            for b, r in raw_c.items()
        }
        got = {
            r.doc_id: r.dsir_score_fp
            for r in plans.QUERIES["documents_dsir_weights"](spark, SF).collect()
        }
        for doc_id, bs in feats.items():
            assert got[doc_id] == sum(lam[b] for b in bs)


class TestAssociationRules:
    """r6: orders_association_rules — direction symmetry with the
    pair view and a from-scratch confidence recompute."""

    def test_rules_consistent_with_pairs(self, spark):
        from hive_hdfs_practise_spark.sources.catalog import table as T

        rules = plans.QUERIES["orders_association_rules"](spark, SF).collect()
        assert rules
        items = (
            T(spark, SF, "lineitem")
            .select("l_orderkey", "l_partkey")
            .distinct()
            .collect()
        )
        cnt: dict = {}
        baskets: dict = {}
        for r in items:
            cnt[r.l_partkey] = cnt.get(r.l_partkey, 0) + 1
            baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
        sup: dict = {}
        for parts in baskets.values():
            ps = sorted(parts)
            for i, a in enumerate(ps):
                for b in ps[i + 1 :]:
                    sup[(a, b)] = sup.get((a, b), 0) + 1
        for r in rules:
            key = tuple(sorted((r.antecedent, r.consequent)))
            assert sup[key] == r.support >= 3
            assert 10 * r.support >= cnt[r.antecedent]
            assert abs(r.confidence - round(r.support / cnt[r.antecedent], 6)) < 1e-9


class TestBloomDecontamination:
    """r7: split_decontamination_bloom — recall 1 vs the exact twin
    (every truly-contaminated train doc is flagged with at least its
    true distinct-shared-gram count; extras are bounded-FP noise),
    plus a planted-leak corpus where the flag count is exact."""

    def test_recall_vs_exact_twin(self, spark):
        from hive_hdfs_practise_spark import plans as P

        sf = "/root/testdata/sf0.01"
        exact = P.QUERIES["split_decontamination"](spark, sf).collect()
        true_grams: dict = {}
        # n_shared counts shared grams per (train,test) pair; a train
        # doc's flagged count must be >= its distinct shared grams
        # with ANY test doc (>= the max over pairs, not the sum —
        # the same gram can hit several test docs)
        for r in exact:
            true_grams[r.train_doc] = max(
                true_grams.get(r.train_doc, 0), r.n_shared
            )
        got = {
            r.train_doc: r.n_flagged_grams
            for r in P.QUERIES["split_decontamination_bloom"](spark, sf).collect()
        }
        assert true_grams, "exact twin found no leakage at sf0.01?"
        for doc, n in true_grams.items():
            assert doc in got and got[doc] >= n

    def test_planted_leak_exact_count(self, spark, tmp_path):
        import os

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.operators.sampling import md5_bucket
        from pyspark.sql import functions as F

        # find ids landing in train (<205) and test (>=231) buckets
        probe = spark.range(0, 2000).select(
            F.col("id").alias("doc_id"), md5_bucket(F.col("id")).alias("b")
        ).collect()
        train_id = next(r.doc_id for r in probe if r.b < 205)
        test_id = next(r.doc_id for r in probe if r.b >= 231)
        other_id = next(
            r.doc_id for r in probe if r.b < 205 and r.doc_id != train_id
        )
        leak = " ".join(f"tok{i}" for i in range(12))  # 12 tokens → 5 8-grams
        rows = [
            (train_id, "prefix words here " + leak, "en", "s", 1),
            (test_id, leak + " suffix words trail off", "en", "s", 1),
            (
                other_id,
                "completely unrelated clean text with many different "
                "words spread across plenty of whitespace tokens here",
                "en",
                "s",
                1,
            ),
        ]
        df = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )
        df.write.parquet(os.path.join(tmp_path, "documents.parquet"))
        got = {
            r.train_doc: r.n_flagged_grams
            for r in P.QUERIES["split_decontamination_bloom"](
                spark, str(tmp_path)
            ).collect()
        }
        # the 5 shared 8-grams of the planted leak must all flag; the
        # clean doc has ~40 grams — with FP ~0.5% it may rarely pick
        # up a stray flag, so assert only on the planted doc
        assert got.get(train_id, 0) >= 5


class TestTemperatureMix:
    """r8: documents_temperature_mix — python recompute of the
    order-pinned normalizer (sum sqrt(n) in source order — the same
    IEEE sequence both engines run) and the Σ weights ≈ 1 pin."""

    def test_matches_python_recompute(self, spark):
        import math
        from decimal import ROUND_HALF_UP, Decimal

        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        counts: dict = {}
        for r in (
            wide_table(spark, sf, "documents").select("source").collect()
        ):
            counts[r.source] = counts.get(r.source, 0) + 1
        total = 0.0
        for s in sorted(counts):  # the pinned order
            total += math.sqrt(float(counts[s]))
        got = {
            r.source: (r.n_docs, r.weight, r.per_million)
            for r in P.QUERIES["documents_temperature_mix"](
                spark, sf
            ).collect()
        }
        assert set(got) == set(counts)
        for s, n in counts.items():
            w = math.sqrt(float(n)) / total
            want_w = float(
                Decimal(repr(w)).quantize(
                    Decimal("0.000000001"), rounding=ROUND_HALF_UP
                )
            )
            want_pm = int(
                Decimal(repr(w * 1_000_000)).quantize(
                    Decimal("1"), rounding=ROUND_HALF_UP
                )
            )
            gn, gw, gpm = got[s]
            assert gn == n
            assert abs(gw - want_w) < 1e-12
            assert gpm == want_pm
        assert abs(sum(w for _, w, _ in got.values()) - 1.0) < 1e-6


class TestNgramNovelty:
    """r9: documents_ngram_novelty — from-scratch python recompute of
    the arrival-order first-claimer semantics, plus the fraction<=1
    pin every whole-relative metric must carry (r7 lesson)."""

    def test_matches_python_recompute(self, spark):
        from hive_hdfs_practise_spark import plans as P
        from hive_hdfs_practise_spark.sources.catalog import wide_table

        sf = "/root/testdata/sf0.001"
        docs = {
            r.doc_id: r.text
            for r in wide_table(spark, sf, "documents")
            .select("doc_id", "text")
            .collect()
        }
        first = {}
        per_doc = {}
        for did in sorted(docs):
            toks = docs[did].split()
            grams = {
                " ".join(toks[i : i + 8]) for i in range(len(toks) - 7)
            }
            per_doc[did] = grams
            for g in grams:
                first.setdefault(g, did)
        got = {
            r.doc_id: (r.n_grams, r.n_new, r.novelty_micro, r.novelty)
            for r in P.QUERIES["documents_ngram_novelty"](spark, sf).collect()
        }
        assert set(got) == set(docs)
        for did, grams in per_doc.items():
            n_grams = len(grams)
            n_new = sum(1 for g in grams if first[g] == did)
            gn, gnew, gmicro, gnov = got[did]
            assert gn == n_grams and gnew == n_new
            if n_grams:
                assert gmicro == (n_new * 1_000_000) // n_grams
            else:
                assert gmicro == 0 and gnov == 0.0
            assert 0.0 <= gnov <= 1.0
            assert gmicro <= 1_000_000
        # the earliest doc with any grams is 100% novel
        with_grams = [d for d in sorted(per_doc) if per_doc[d]]
        if with_grams:
            assert got[with_grams[0]][3] == 1.0
