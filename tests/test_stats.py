"""Approx-sketch aggregates asserted against their exact twins
(the cross-engine oracle covers the exact forms)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_hdfs_practise_spark.sources.catalog import table

SF = "/root/testdata/sf0.001"


class TestApproxSketches:
    def test_approx_percentile_within_bounds(self, spark):
        o = table(spark, SF, "orders")
        row = o.agg(
            F.percentile("o_totalprice", F.lit(0.5)).alias("exact"),
            F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(1000)).alias("approx"),
        ).collect()[0]
        assert abs(row.approx - row.exact) / row.exact < 0.05

    def test_approx_count_distinct_within_rsd(self, spark):
        o = table(spark, SF, "orders")
        row = o.agg(
            F.countDistinct("o_custkey").alias("exact"),
            F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx"),
        ).collect()[0]
        assert abs(row.approx - row.exact) / row.exact < 0.08


class TestApproxPercentilesQuery:
    def test_within_one_percent_of_exact(self, spark):
        from hive_hdfs_practise_spark import plans as P

        exact = {
            r.o_orderstatus: (r.p50, r.p90, r.p99)
            for r in P.QUERIES["order_value_percentiles"](spark, SF).collect()
        }
        approx = {
            r.o_orderstatus: (r.p50, r.p90, r.p99)
            for r in P.QUERIES["order_value_percentiles_approx"](spark, SF).collect()
        }
        assert exact.keys() == approx.keys()
        for status, vals in exact.items():
            for e, a in zip(vals, approx[status]):
                assert abs(a - e) / e < 0.01


class TestKmvSketch:
    def test_estimate_accuracy_and_small_group_fallback(self, spark):
        from hive_hdfs_practise_spark import plans as P

        rows = P.QUERIES["events_kmv_distinct_users"](spark, "/root/testdata/sf0.01").collect()
        assert rows
        for r in rows:
            if r.n_exact < 32:
                assert r.n_kmv == float(r.n_exact)  # exact below k
            else:
                # k=32 → relative std ≈ 1/sqrt(k-1) ≈ 18%; allow 4σ
                assert abs(r.n_kmv - r.n_exact) / r.n_exact < 0.75


class TestChecksum:
    """r4: lineitem_checksum — order-independent membership+content
    digest."""

    def test_matches_python_and_detects_mutation(self, spark):
        import hashlib

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.sources.catalog import table

        sf = "/root/testdata/sf0.001"
        got = plans.QUERIES["lineitem_checksum"](spark, sf).collect()[0]
        rows = table(spark, sf, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_extendedprice"
        ).collect()

        def u32(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

        def canon(o, ln, p):
            return f"{o}:{ln}:{int(round(p * 100))}"

        want = sum(u32(canon(r.l_orderkey, r.l_linenumber, r.l_extendedprice)) for r in rows)
        assert (got.n_rows, got.checksum) == (len(rows), want)
        # a single-cent mutation or a dropped row changes the digest
        r0 = rows[0]
        mutated = want - u32(canon(r0.l_orderkey, r0.l_linenumber, r0.l_extendedprice)) \
            + u32(canon(r0.l_orderkey, r0.l_linenumber, r0.l_extendedprice + 0.01))
        assert mutated != want


class TestOls:
    """r4: lineitem_ols — closed-form fit equals numpy lstsq."""

    def test_matches_numpy(self, spark):
        import numpy as np

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.sources.catalog import table

        sf = "/root/testdata/sf0.001"
        got = {
            r.l_returnflag: (r.n_rows, r.slope_cents, r.intercept_cents, r.r2)
            for r in plans.QUERIES["lineitem_ols"](spark, sf).collect()
        }
        rows = table(spark, sf, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        ).collect()
        by_flag = {}
        for r in rows:
            by_flag.setdefault(r.l_returnflag, []).append(
                (int(r.l_quantity), int(round(r.l_extendedprice * 100)))
            )
        for flag, pts in by_flag.items():
            x = np.array([p[0] for p in pts], dtype=float)
            y = np.array([p[1] for p in pts], dtype=float)
            slope, intercept = np.polyfit(x, y, 1)
            r = np.corrcoef(x, y)[0, 1]
            n, g_slope, g_int, g_r2 = got[flag]
            assert n == len(pts)
            assert abs(g_slope - slope) < 1e-4
            assert abs(g_int - intercept) < 1e-2
            assert abs(g_r2 - r * r) < 1e-6


class TestWeightedMedianAndEntropy:
    def test_weighted_median_recompute(self, spark):
        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.sources.catalog import table

        rows = table(spark, SF, "lineitem").select(
            "l_returnflag", "l_extendedprice", "l_quantity"
        ).collect()
        from collections import defaultdict

        groups: dict[str, list] = defaultdict(list)
        for r in rows:
            groups[r.l_returnflag].append((r.l_extendedprice, int(r.l_quantity)))
        want = {}
        for flag, pairs in groups.items():
            pairs.sort()
            tot = sum(w for _, w in pairs)
            cum = 0
            for p, w in pairs:
                cum += w
                if 2 * cum >= tot:
                    want[flag] = (p, tot)
                    break
        got = {
            r.l_returnflag: (r.w_median_price, r.total_qty)
            for r in plans.QUERIES["lineitem_weighted_median"](spark, SF).collect()
        }
        assert got == want

    def test_entropy_recompute(self, spark):
        import math
        from collections import Counter, defaultdict

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.sources.catalog import table

        per_source: dict[str, Counter] = defaultdict(Counter)
        for r in table(spark, SF, "documents").collect():
            per_source[r.source].update(r.text.strip().split())
        got = {
            r.source: r
            for r in plans.QUERIES["documents_source_entropy"](spark, SF).collect()
        }
        assert set(got) == set(per_source)
        for src, wc in per_source.items():
            n = sum(wc.values())
            ent = math.log(n) - sum(c * math.log(c) for c in wc.values()) / n
            r = got[src]
            assert r.n_tokens == n
            assert r.vocab_size == len(wc)
            assert abs(r.entropy - ent) < 1e-5
            assert abs(r.type_token_ratio - len(wc) / n) < 1e-5
            # entropy bounded by ln(vocab)
            assert 0 <= r.entropy <= math.log(len(wc)) + 1e-9


class TestWinsorizedStats:
    def test_recompute(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.sources.catalog import table

        vals = defaultdict(list)
        for r in table(spark, SF, "lineitem").select(
            "l_returnflag", "l_extendedprice"
        ).collect():
            vals[r.l_returnflag].append(r.l_extendedprice)

        def qcont(xs, q):
            xs = sorted(xs)
            h = (len(xs) - 1) * q
            lo = int(h)
            return xs[lo] + (h - lo) * (xs[min(lo + 1, len(xs) - 1)] - xs[lo])

        got = {
            r.l_returnflag: r
            for r in plans.QUERIES["lineitem_winsorized_stats"](spark, SF).collect()
        }
        assert set(got) == set(vals)
        for flag, xs in vals.items():
            lo, hi = qcont(xs, 0.01), qcont(xs, 0.99)
            r = got[flag]
            assert r.n_rows == len(xs)
            assert r.n_clipped_low == sum(1 for x in xs if x < lo)
            assert r.n_clipped_high == sum(1 for x in xs if x > hi)
            wmean = sum(min(max(x, lo), hi) for x in xs) / len(xs)
            assert abs(r.mean_winsorized - wmean) < 0.02
            assert r.mean_winsorized <= r.mean_raw + 0.02 or r.n_clipped_low > 0


class TestDriftAndInequality:
    def test_chi2_recompute(self, spark):
        from collections import Counter

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.sources.catalog import table

        ct = Counter()
        for r in table(spark, SF, "lineitem").select(
            "l_returnflag", "l_linestatus"
        ).collect():
            ct[(r.l_returnflag, r.l_linestatus)] += 1
        flags = {f for f, _ in ct}
        stats = {s for _, s in ct}
        n = sum(ct.values())
        rs = {f: sum(c for (ff, _), c in ct.items() if ff == f) for f in flags}
        cs = {s: sum(c for (_, ss), c in ct.items() if ss == s) for s in stats}
        chi2 = 0.0
        for f in flags:
            for s in stats:
                e = rs[f] * cs[s] / n
                o = ct.get((f, s), 0)
                chi2 += (o - e) ** 2 / e
        r = plans.QUERIES["lineitem_chi2_flag_status"](spark, SF).collect()[0]
        assert r.n_rows == n
        assert r.dof == (len(flags) - 1) * (len(stats) - 1)
        assert abs(r.chi2 - chi2) < 1e-4

    def test_chi2_plans_without_expand(self, spark):
        """dof comes from one-row margin counts, not two count_distincts
        in one aggregate, whose Expand orders its projections
        differently from one session to the next."""
        from hive_hdfs_practise_spark import plans

        df = plans.QUERIES["lineitem_chi2_flag_status"](spark, SF)
        assert "Expand" not in df._jdf.queryExecution().optimizedPlan().toString()

    def test_ks_recompute(self, spark):
        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.sources.catalog import table

        f_vals, o_vals = [], []
        for r in table(spark, SF, "orders").select(
            "o_orderstatus", "o_totalprice"
        ).collect():
            if r.o_orderstatus == "F":
                f_vals.append(r.o_totalprice)
            elif r.o_orderstatus == "O":
                o_vals.append(r.o_totalprice)
        grid = sorted(set(f_vals) | set(o_vals))
        n1, n2 = len(f_vals), len(o_vals)
        f_sorted, o_sorted = sorted(f_vals), sorted(o_vals)
        import bisect

        best = (0, None)
        for x in grid:
            k1 = bisect.bisect_right(f_sorted, x)
            k2 = bisect.bisect_right(o_sorted, x)
            dnum = abs(k1 * n2 - k2 * n1)
            if dnum > best[0]:
                best = (dnum, x)
        r = plans.QUERIES["orders_ks_statistic"](spark, SF).collect()[0]
        assert (r.n1, r.n2) == (n1, n2)
        assert abs(r.ks_stat - best[0] / (n1 * n2)) < 1e-9
        assert r.at_value == best[1]

    def test_gini_recompute(self, spark):
        from collections import defaultdict

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.sources.catalog import table

        cents = defaultdict(int)
        for r in table(spark, SF, "orders").select(
            "o_custkey", "o_totalprice"
        ).collect():
            cents[r.o_custkey] += round(r.o_totalprice * 100)
        xs = sorted(cents.values())
        n, s = len(xs), sum(xs)
        gini = 2 * sum((i + 1) * x for i, x in enumerate(xs)) / (n * s) - (
            n + 1
        ) / n
        r = plans.QUERIES["customer_spend_gini"](spark, SF).collect()[0]
        assert r.n_customers == n and r.total_cents == s
        assert abs(r.gini - gini) < 1e-9
        assert 0 <= r.gini <= 1


class TestPsi:
    def test_psi_recompute(self, spark):
        import math
        from collections import Counter

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.sources.catalog import table

        c1, c2 = Counter(), Counter()
        for r in table(spark, SF, "orders").collect():
            b = math.floor(r.o_totalprice / 25000.0)
            if r.o_orderstatus == "F":
                c1[b] += 1
            elif r.o_orderstatus == "O":
                c2[b] += 1
        buckets = set(c1) | set(c2)
        n1, n2 = sum(c1.values()), sum(c2.values())
        psi = sum(
            (c2[b] / n2 - c1[b] / n1)
            * math.log((c2[b] / n2 + 1e-9) / (c1[b] / n1 + 1e-9))
            for b in buckets
        )
        r = plans.QUERIES["orders_psi_value_drift"](spark, SF).collect()[0]
        assert r.n_buckets == len(buckets)
        assert (r.n_ref, r.n_cur) == (n1, n2)
        assert abs(r.psi - psi) < 1e-8
        assert r.psi >= 0 or abs(r.psi) < 1e-6


class TestCorrelationMatrix:
    """r5: the exact integer-co-moment Pearson matrix must agree with
    Spark's built-in corr() (double Welford path) to float tolerance,
    and the diagonal must be 1."""

    def test_matches_builtin_corr_and_diag(self, spark):
        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.plans.drift import _CORR_MEASURES

        got = {
            (r.col_x, r.col_y): r.pearson_r
            for r in plans.QUERIES["lineitem_correlation_matrix"](
                spark, SF
            ).collect()
        }
        assert len(got) == 10
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        for i, (nx, cx) in enumerate(_CORR_MEASURES):
            assert abs(got[(nx, nx)] - 1.0) < 1e-9
            for ny, cy in _CORR_MEASURES[i + 1 :]:
                want = li.agg(F.corr(cx, cy)).collect()[0][0]
                assert abs(got[(nx, ny)] - want) < 1e-6, (nx, ny)


class TestSlidingKmv:
    """r5: events_sliding_distinct_kmv — the merge property itself:
    the min-K of the union of per-day min-K sketches must equal the
    min-K of the full window's distinct hash set (so the windowed
    estimate is identical to a from-scratch sketch of the window),
    and estimates must track exact counts within KMV error bounds."""

    def test_merged_sketch_equals_full_window_sketch_and_bounds(self, spark):
        import math
        from collections import defaultdict

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.plans.distinct import (
            KMV_K,
            SLIDING_DAYS,
            _kmv_hash_sql,
        )

        got = {
            r.window_end: r.n_users_kmv
            for r in plans.QUERIES["events_sliding_distinct_kmv"](
                spark, SF
            ).collect()
        }
        rows = (
            table(spark, SF, "events")
            .select(
                F.col("ts").cast("date").alias("day"),
                F.expr(
                    _kmv_hash_sql("user_id").replace("VARCHAR", "STRING")
                ).alias("hv"),
            )
            .distinct()
            .collect()
        )
        by_day = defaultdict(set)
        for r in rows:
            by_day[r.day].add(r.hv)
        for end, est in got.items():
            full = set()
            for d, hs in by_day.items():
                # window_end is a TIMESTAMP since r11 (the dtype-grain
                # fix) — compare at date grain
                if 0 <= (end.date() - d).days < SLIDING_DAYS:
                    full |= hs
            # reference estimate from the FULL window set
            hs_sorted = sorted(full)
            if len(hs_sorted) >= KMV_K:
                want = round((KMV_K - 1) / hs_sorted[KMV_K - 1], 4)
            else:
                want = float(len(hs_sorted))
            assert est == want, end  # merge == from-scratch sketch
            # and the estimate tracks the exact distinct within 5 rse
            exact = len(full)
            if exact >= KMV_K:
                rse = 1 / math.sqrt(KMV_K - 2)
                assert abs(est - exact) <= 5 * rse * exact, (end, est, exact)


class TestChangePoints:
    """r11: events_change_points — binary segmentation must FIND a
    planted level shift, and the fixed-point scores must match a
    Python-int recompute (exactness pin)."""

    def test_planted_shift_found_and_exact(self, spark, tmp_path):
        import datetime as dt

        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.plans.events import BINSEG_SCALE

        # 60 days: 5 events/day, then 50/day from day 30 (the shift),
        # with a smaller bump (15/day) for rounds 2-3 to find
        rows = []
        base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
        epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
        eid = 0
        for day in range(60):
            n = 5 if day < 30 else (50 if day < 45 else 15)
            for k in range(n):
                t = base + dt.timedelta(days=day, seconds=k)
                # the catalog reads events.ts as raw INT64 nanos (the
                # driver corpus layout) — write it that way
                rows.append(
                    (
                        eid,
                        1,
                        "click",
                        float(k),
                        int((t - epoch).total_seconds()) * 1_000_000_000,
                    )
                )
                eid += 1
        d = tmp_path / "corpus"
        spark.createDataFrame(
            rows,
            "event_id long, user_id long, event_type string,"
            " value double, ts long",
        ).coalesce(1).write.parquet(str(d / "events.parquet"))
        got = {
            r.cp_round: (r.change_day.date(), r.sse_drop_fp)
            for r in plans.QUERIES["events_change_points"](
                spark, str(d)
            ).collect()
        }
        assert len(got) == 3
        # round 1 must split at the big shift boundary (last low day)
        assert got[1][0] == (base + dt.timedelta(days=29)).date()
        # exactness: recompute round 1's score with Python ints
        xs = [5] * 30 + [50] * 15 + [15] * 15

        def ssefp(seg):
            s, q, n = sum(seg), sum(v * v for v in seg), len(seg)
            return q * BINSEG_SCALE - (s * s * BINSEG_SCALE) // n

        best = max(
            (
                ssefp(xs) - ssefp(xs[: i + 1]) - ssefp(xs[i + 1:]),
                -(i + 1),
            )
            for i in range(len(xs) - 1)
        )
        assert got[1][1] == best[0]
        # later rounds find the secondary structure, strictly smaller
        assert got[2][1] <= got[1][1] and got[3][1] <= got[2][1]


class TestHoltForecast:
    """r11: events_holt_forecast — the Spark struct fold must equal a
    Python-int reference recursion (snapshot semantics; the DuckDB
    list_reduce field-mutation trap is why the oracle is a recursive
    CTE instead)."""

    def test_matches_python_reference(self, spark):
        from pyspark.sql import functions as F

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.plans.events import HOLT_FP, HOLT_H
        from hive_hdfs_practise_spark.sources.catalog import table

        sf = "/root/testdata/sf0.001"
        got = plans.QUERIES["events_holt_forecast"](spark, sf).collect()[0]
        xs = [
            r.x * HOLT_FP
            for r in table(spark, sf, "events")
            .groupBy(F.to_date("ts").alias("d"))
            .agg(F.count(F.lit(1)).alias("x"))
            .orderBy("d")
            .collect()
        ]

        def tdiv(a, d):
            q = abs(a) // d
            return q if a >= 0 else -q

        l, b, sse = xs[0], 0, 0
        for x in xs[1:]:
            err = x - (l + b)
            nl = tdiv(x + 3 * (l + b), 4)
            b = tdiv(nl - l + 3 * b, 4)
            sse += err * err
            l = nl
        assert (got.n_days, got.level_fp, got.trend_fp, got.sse_fp) == (
            len(xs),
            l,
            b,
            sse,
        )
        for h in range(1, HOLT_H + 1):
            assert got[f"f{h}_fp"] == l + h * b

    def test_single_day_corpus_cross_engine(self, spark, tmp_path):
        """r11 review: a one-day corpus must yield level = x1 on BOTH
        engines (the Spark fold's seed element, never the lazy-init
        CASE; the oracle's recursion anchor)."""
        import duckdb

        from hive_hdfs_practise_spark import plans
        from hive_hdfs_practise_spark.plans.events import HOLT_FP

        ns = 1_000_000_000
        rows = [(i, 1, "click", 0.0, 1_700_000_000 * ns + i * ns)
                for i in range(7)]
        d = tmp_path / "corpus"
        spark.createDataFrame(
            rows,
            "event_id long, user_id long, event_type string,"
            " value double, ts long",
        ).coalesce(1).write.parquet(str(d / "events.parquet"))
        got = plans.QUERIES["events_holt_forecast"](spark, str(d)).collect()
        assert len(got) == 1
        r = got[0]
        assert (r.n_days, r.level_fp, r.trend_fp, r.sse_fp) == (
            1, 7 * HOLT_FP, 0, 0,
        )
        assert r.f7_fp == 7 * HOLT_FP
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * EXCLUDE (ts),"
            " make_timestamp(ts // 1000) AS ts FROM read_parquet('"
            + str(d / "events.parquet") + "/*.parquet')"
        )
        want = con.execute(plans.ORACLES["events_holt_forecast"]).fetchall()
        assert [tuple(int(v) for v in w) for w in want] == [tuple(r)]
