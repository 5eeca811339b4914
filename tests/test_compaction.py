"""Small-file compaction: plan shape (FFD bins, large files
untouched) and crash safety of the index rewrite-and-publish path.
Row preservation under compaction is pinned by the
``compact_bucketed_table`` tests in test_dedup and test_similarity."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from hive_hdfs_practise_spark.operators.compaction import plan_compaction_files

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def fragmented(spark, tmp_path_factory):
    """A deliberately fragmented table: 40 tiny files + 2 big ones."""
    base = str(tmp_path_factory.mktemp("frag") / "t")
    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    # deterministic disjoint split (subtract is a SET op and would
    # silently drop duplicate rows); repartition (not coalesce) keeps
    # the two big files evenly sized
    small = li.filter(F.col("l_orderkey") % 15 == 0)
    big = li.filter(F.col("l_orderkey") % 15 != 0)
    small.repartition(40).write.mode("overwrite").parquet(base)
    big.repartition(2).write.mode("append").parquet(base)
    return base, li.count()


class TestPlan:
    def test_ffd_plan_shape(self, fragmented):
        base, _ = fragmented
        sizes = {
            f: os.path.getsize(f) for f in glob.glob(f"{base}/*.parquet")
        }
        big_two = sorted(sizes, key=sizes.get)[-2:]
        target = int(max(sizes.values()) * 1.5)
        plan = plan_compaction_files(sorted(sizes), target_bytes=target)
        assert sorted(plan.untouched) == sorted(big_two)
        packed = [f for g in plan.bins for f in g]
        assert sorted(packed + plan.untouched) == sorted(sizes)
        # FFD: every bin fits the target, and no two bins could merge
        for g in plan.bins:
            assert sum(sizes[f] for f in g) <= target
        if len(plan.bins) >= 2:
            loads = sorted(sum(sizes[f] for f in g) for g in plan.bins)
            assert loads[-1] + loads[-2] > target

    def test_rewrite_cost_is_small_files_only(self, fragmented):
        base, _ = fragmented
        sizes = {
            f: os.path.getsize(f) for f in glob.glob(f"{base}/*.parquet")
        }
        target = int(max(sizes.values()) * 1.5)
        plan = plan_compaction_files(sorted(sizes), target_bytes=target)
        assert plan.small_bytes < plan.total_bytes / 2


class TestInprogressRecovery:
    """r12 (r11 advice): an interrupted publish must be mechanically
    recovered at the next maintenance entry — every crash window of
    publish_replacing either rolls back or finalizes exactly."""

    def _dir_with(self, tmp_path, names):
        d = tmp_path / "t"
        d.mkdir()
        for n, content in names.items():
            (d / n).write_bytes(content)
        return str(d)

    def test_finalize_deletes_survivors_no_duplication(self, tmp_path):
        import json

        from hive_hdfs_practise_spark.operators.compaction import (
            recover_inprogress,
        )

        # crash mid-step-3: one original already deleted, one survives
        d = self._dir_with(
            tmp_path,
            {
                "a.parquet": b"old-a",
                ".merged.parquet.inprogress": b"merged-union",
                ".merged.parquet.inprogress.manifest": json.dumps(
                    {
                        "dest": "merged.parquet",
                        "originals": ["a.parquet", "b.parquet"],
                    }
                ).encode(),
            },
        )
        assert recover_inprogress(d) == 1
        assert sorted(os.listdir(d)) == ["merged.parquet"]
        with open(os.path.join(d, "merged.parquet"), "rb") as f:
            assert f.read() == b"merged-union"

    def test_rollback_when_pending_never_placed(self, tmp_path):
        import json

        from hive_hdfs_practise_spark.operators.compaction import (
            recover_inprogress,
        )

        d = self._dir_with(
            tmp_path,
            {
                "a.parquet": b"old-a",
                "b.parquet": b"old-b",
                ".merged.parquet.inprogress.manifest": json.dumps(
                    {
                        "dest": "merged.parquet",
                        "originals": ["a.parquet", "b.parquet"],
                    }
                ).encode(),
            },
        )
        assert recover_inprogress(d) == 1
        assert sorted(os.listdir(d)) == ["a.parquet", "b.parquet"]

    def test_orphan_inprogress_raises(self, tmp_path):
        from hive_hdfs_practise_spark.operators.compaction import (
            recover_inprogress,
        )

        d = self._dir_with(
            tmp_path, {".x.parquet.inprogress": b"?", "a.parquet": b"a"}
        )
        with pytest.raises(RuntimeError, match="unattributable"):
            recover_inprogress(d)

    def test_roundtrip_publish_then_recover_noop(self, tmp_path):
        from hive_hdfs_practise_spark.operators.compaction import (
            publish_replacing,
            recover_inprogress,
        )

        d = self._dir_with(
            tmp_path, {"a.parquet": b"old-a", "b.parquet": b"old-b"}
        )
        src = tmp_path / "src.parquet"
        src.write_bytes(b"merged")
        publish_replacing(
            d,
            str(src),
            [os.path.join(d, "a.parquet"), os.path.join(d, "b.parquet")],
            "m.parquet",
        )
        assert sorted(os.listdir(d)) == ["m.parquet"]
        assert recover_inprogress(d) == 0

    def test_pre_publish_garbage_swept_and_unreadable_manifest(
        self, tmp_path
    ):
        from hive_hdfs_practise_spark.operators.compaction import (
            recover_inprogress,
        )

        # staged copies and interrupted manifest writes are garbage
        d = self._dir_with(
            tmp_path,
            {
                "a.parquet": b"a",
                ".m.parquet.inprogress.copying": b"partial",
                ".m.parquet.inprogress.manifest.tmp": b'{"trunc',
            },
        )
        assert recover_inprogress(d) == 0
        assert sorted(os.listdir(d)) == ["a.parquet"]
        # unreadable manifest with NO pending file ⇒ rollback
        p = tmp_path / "t2"
        p.mkdir()
        (p / "a.parquet").write_bytes(b"a")
        (p / ".x.parquet.inprogress.manifest").write_bytes(b'{"bad')
        assert recover_inprogress(str(p)) == 1
        assert sorted(os.listdir(str(p))) == ["a.parquet"]
        # unreadable manifest WITH a pending file ⇒ raise
        q = tmp_path / "t3"
        q.mkdir()
        (q / ".y.parquet.inprogress").write_bytes(b"pending")
        (q / ".y.parquet.inprogress.manifest").write_bytes(b'{"bad')
        with pytest.raises(RuntimeError, match="unreadable manifest"):
            recover_inprogress(str(q))


class _Crash(Exception):
    pass


def _vectors(spark, n=56):
    """Four well-separated clusters in 4-d; ids 0-3 (the k-means
    seeds) sit one per cluster."""
    return spark.createDataFrame(
        [
            (i, [10.0 * (i % 4) + (i * 7 % 5) / 10, (i * 3 % 5) / 10, 0.0, 1.0])
            for i in range(n)
        ],
        "vec_id long, embedding array<double>",
    )


def _ivf_index(spark, prefix):
    """nlist=4 IVF index over 40 vectors plus one 16-vector append."""
    from hive_hdfs_practise_spark.similarity.knn import (
        append_ivf_index,
        write_ivf_index,
    )

    v = _vectors(spark)
    write_ivf_index(spark, v.filter("vec_id < 40"), prefix, nlist=4, iters=2)
    append_ivf_index(spark, v.filter("vec_id >= 40"), prefix)


class TestCrashPointWalk:
    """Crash the rewrite-and-publish path at each of its filesystem
    calls in turn (``os.rename``, ``os.remove``, ``shutil.copy2`` and
    the manifest's ``json.dump``). After ``recover_inprogress`` and a
    rerun of the op, every table must hold exactly the rows of an
    uncrashed run: nothing lost, nothing duplicated. The tables are
    restored from a snapshot before each crash point."""

    @staticmethod
    def _rows(spark, tables):
        return {
            t: sorted(
                tuple(tuple(v) if isinstance(v, list) else v for v in r)
                for r in spark.table(t).collect()
            )
            for t in tables
        }

    def _walk(self, spark, monkeypatch, snap_dir, tables, retombstone, op):
        import json
        import shutil

        from hive_hdfs_practise_spark.operators.compaction import (
            recover_inprogress,
            table_location,
        )

        locs = {t: table_location(spark, t) for t in tables}
        for t, loc in locs.items():
            shutil.copytree(loc, snap_dir / t)

        def restore():
            for t, loc in locs.items():
                shutil.rmtree(loc)
                shutil.copytree(snap_dir / t, loc)
                spark.sql(f"REFRESH TABLE {t}")
            retombstone()

        state = {"armed": False, "n": 0, "crash_at": None}

        def counted(fn):
            def call(*a, **kw):
                if state["armed"]:
                    state["n"] += 1
                    if state["n"] == state["crash_at"]:
                        raise _Crash(state["n"])
                return fn(*a, **kw)

            return call

        for mod, name in (
            (os, "rename"), (os, "remove"), (shutil, "copy2"), (json, "dump"),
        ):
            monkeypatch.setattr(mod, name, counted(getattr(mod, name)))

        def run(crash_at=None):
            state.update(armed=True, n=0, crash_at=crash_at)
            try:
                op()
            finally:
                state["armed"] = False
            return state["n"]

        restore()
        n_calls = run()
        want = self._rows(spark, tables)
        assert n_calls > 0
        for k in range(1, n_calls + 1):
            restore()
            with pytest.raises(_Crash):
                run(k)
            for loc in locs.values():
                recover_inprogress(loc)
            run()
            assert self._rows(spark, tables) == want, k
            for loc in locs.values():
                assert not [f for f in os.listdir(loc) if "inprogress" in f], k
        return want

    def test_minhash_vacuum(self, spark, monkeypatch, tmp_path):
        import random

        from hive_hdfs_practise_spark.dedup import minhash as mh
        from hive_hdfs_practise_spark.operators.compaction import table_location

        rng = random.Random(5)
        words = ["alpha", "beta", "gamma", "delta", "omega", "kappa"]
        docs = spark.createDataFrame(
            [(i, " ".join(rng.choice(words) for _ in range(12))) for i in range(60)],
            "doc_id long, text string",
        )
        prefix = "crash_walk_mh_idx"
        kw = dict(family="md5")
        mh.write_minhash_index(
            spark, docs.filter("doc_id < 40"), prefix, n_buckets=2, **kw
        )
        mh.append_minhash_index(spark, docs.filter("doc_id >= 40"), prefix, **kw)
        # every appended doc plus two corpus docs: the append's _sigs
        # file is a group whose rows are all tombstoned
        gone = docs.filter("doc_id >= 40 OR doc_id IN (3, 7)").select("doc_id")

        def retombstone():
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_dels")
            mh.delete_from_minhash_index(spark, gone, prefix)

        sigs = table_location(spark, f"{prefix}_sigs")
        n_sigs = len([f for f in os.listdir(sigs) if f.endswith(".parquet")])
        want = self._walk(
            spark, monkeypatch, tmp_path, (f"{prefix}_bands", f"{prefix}_sigs"),
            retombstone, lambda: mh.vacuum_minhash_index(spark, prefix),
        )
        ids = {r[0] for r in want[f"{prefix}_sigs"]}
        assert ids == set(range(40)) - {3, 7}
        assert len([f for f in os.listdir(sigs) if f.endswith(".parquet")]) < n_sigs

    def test_ivf_vacuum(self, spark, monkeypatch, tmp_path):
        from hive_hdfs_practise_spark.similarity.knn import (
            delete_from_ivf_index,
            vacuum_ivf_index,
        )

        prefix = "crash_walk_ivf_idx"
        _ivf_index(spark, prefix)
        table = f"{prefix}_assign"
        by_bucket: dict = {}
        for r in spark.table(table).select(
            "vec_id", F.pmod(F.hash("cluster_id"), F.lit(4)).alias("b")
        ).collect():
            by_bucket.setdefault(r.b, []).append(r.vec_id)
        first, second = sorted(by_bucket)[:2]
        # all of one bucket (a group with no row left) + two of another
        gone_ids = by_bucket[first] + sorted(by_bucket[second])[:2]
        gone = _vectors(spark).filter(F.col("vec_id").isin(gone_ids))

        def retombstone():
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_dels")
            delete_from_ivf_index(spark, gone, prefix)

        want = self._walk(
            spark, monkeypatch, tmp_path, (table,), retombstone,
            lambda: vacuum_ivf_index(spark, prefix),
        )
        assert {r[0] for r in want[table]} == set(range(56)) - set(gone_ids)

    def test_compaction(self, spark, monkeypatch, tmp_path):
        from hive_hdfs_practise_spark.operators.compaction import (
            compact_bucketed_table,
        )

        prefix = "crash_walk_cpt_idx"
        _ivf_index(spark, prefix)
        table = f"{prefix}_assign"
        want = self._walk(
            spark, monkeypatch, tmp_path, (table,), lambda: None,
            lambda: compact_bucketed_table(spark, table),
        )
        assert {r[0] for r in want[table]} == set(range(56))
