"""The benchmark workloads. Each one generates its inputs (untimed,
cached per seed), sets up the engine state (timed as set-up), yields
unit ops for the closed loop, and checks every op's output afterwards
against an answer computed outside the engine.

The engine is driven only through public functions of the package;
the trace targets name the same functions at the place their callers
look them up.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time

from hive_hdfs_practise_spark import api as api_mod
from hive_hdfs_practise_spark.dedup import minhash as mh
from hive_hdfs_practise_spark.operators import compaction, relational, write
from hive_hdfs_practise_spark.plans import dedup as plans_dedup
from hive_hdfs_practise_spark.plans.constants import JACCARD_THRESHOLD
from hive_hdfs_practise_spark.similarity import knn
from hive_hdfs_practise_spark.sources import tsv
from hive_hdfs_practise_spark.streaming import minhash_stream

from . import gen, oracle

IVF_NLIST = 8
IVF_ITERS = 1  # Lloyd rounds of the serve index; each round is a few Spark jobs of set-up


def _dir_stats(path: str) -> tuple[int, int, dict[int, int]]:
    """(parquet files, bytes, files per bucket id) of a table dir."""
    files = [f for f in os.listdir(path) if f.endswith(".parquet")] if os.path.isdir(path) else []
    per_bucket: dict[int, int] = {}
    for f in files:
        b = compaction.bucket_id_of(f)
        if b is not None:
            per_bucket[b] = per_bucket.get(b, 0) + 1
    return len(files), sum(os.path.getsize(os.path.join(path, f)) for f in files), per_bucket


COMPLETE = "complete"  # written last into a finished input cache
RAISED = object()  # the output of an op that raised; None is a valid answer


def _mark_complete(cache: str) -> None:
    open(os.path.join(cache, COMPLETE), "w").close()


def _p50(xs):
    return statistics.median(xs) if xs else 0.0


def log_mismatch(workload: str, what: str, args) -> None:
    """Name a wrong output on stderr; the verdict itself goes into
    ``failed``."""
    print(f"perfbench: {workload}: wrong output for {what} {args!r}", file=sys.stderr)


class Workload:
    name = ""
    ops_per_unit = 1  # window ops that make one unit op
    docs_per_unit = 0
    block = 1  # the window closes only before op i with i % block == 0
    min_blocks = 1  # ... and only after this many blocks
    cal_per_op = 1  # host-speed samples before each window op

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None  # set by the runner once the session is up
        self.scale = ctx.scale
        self.seed = ctx.seed
        self.cache = ctx.cache

    def warm(self) -> None:
        """One-off calls after the set-up, so the window starts warm."""

    def targets(self) -> list[tuple]:
        return []

    def trace_ops(self):
        return iter(())

    def extra(self, ops: list[dict]) -> dict:
        return {}

    def layers(self, view) -> dict:
        return {}

    def close(self) -> None:
        pass


# --------------------------------------------------------------- serve


class Serve(Workload):
    """Interactive API traffic: the reference's five endpoints, the two
    dashboard aggregations, ~10% inserts against the managed
    ``order_info`` table, and IVF index probes."""

    name = "serve"
    block = len(gen.SERVE_KINDS)  # whole blocks, so every run has the same mix
    # no warm-up calls: the first call of a kind is the slowest, and with
    # three or more per kind the median never takes it
    min_blocks = 3

    def is_unit(self, kind: str) -> bool:
        return kind != "setup"

    def generate(self) -> None:
        sc = self.scale
        self.tables = gen.serve_tables(self.seed, sc)
        self.vec_ids, self.vecs = gen.embeddings(self.seed, sc.vectors, sc.dim)
        os.makedirs(self.cache, exist_ok=True)
        self.paths = {t: os.path.join(self.cache, f"{t}.tsv") for t in self.tables}
        self.emb_path = os.path.join(self.cache, "embeddings.parquet")
        if not os.path.exists(os.path.join(self.cache, COMPLETE)):
            for t, rows in self.tables.items():
                gen.write_tsv(self.paths[t], rows)
            gen.write_embeddings(self.emb_path, self.vec_ids, self.vecs)
            _mark_complete(self.cache)
        movies = self.tables["movie"]
        self.op_list = gen.serve_ops(self.seed, [m[0] for m in movies], [m[1] for m in movies], sc.vectors, 20000)

    def setup(self, phase) -> None:
        spark = self.spark
        with phase("sources.tsv_load"):
            for t, p in self.paths.items():
                tsv.load_table(spark, p, t)
        with phase("similarity.ivf_write"):
            knn.write_ivf_index(spark, spark.read.parquet(self.emb_path), "serve_ivf", nlist=IVF_NLIST, iters=IVF_ITERS)
        self.api = api_mod.MovieShopAPI(
            spark, spark.table("movie_shop.movie"), spark.table("movie_shop.review"),
            spark.table("movie_shop.order_info"), order_table="movie_shop.order_info",
        )
        self.run_start = time.strftime("%Y-%m-%d %H:%M:%S")

    def _call(self, kind: str, args: dict, api):
        if kind == "movie_list":
            return api.query_movie_list(**args)
        if kind == "movie":
            return api.query_movie(**args)
        if kind == "order_list":
            return api.query_order_list(**args)
        if kind == "recommend":
            return api.recommend_movie_list(**args)
        if kind == "monthly_sales":
            return api.monthly_sales()
        if kind == "yearly_sales":
            return api.yearly_sales()
        if kind == "insert_order":
            return api.insert_order(dict(args))
        if kind == "knn_probe":
            df = knn.knn_ivf_indexed(self.spark, "serve_ivf", args["query_vec_id"], top_k=10, nprobe=2)
            return [r.asDict() for r in df.collect()]
        raise ValueError(kind)

    def ops(self):
        for kind, args in self.op_list:
            yield kind, (lambda k=kind, a=args: self._call(k, a, self.api)), args

    def check(self, outputs) -> list[bool]:
        orc = oracle.ServeOracle(self.tables, self.vec_ids, self.vecs, IVF_NLIST, IVF_ITERS)
        verdicts = []
        for kind, args, got in outputs:
            exp = orc.expect(kind, args)
            ok = got is not RAISED and orc.check(kind, args, got, exp, self.run_start)
            if not ok:
                log_mismatch("serve", kind, args)
            verdicts.append(ok)
        return verdicts

    def targets(self):
        A = api_mod.MovieShopAPI
        return [
            (A, "query_movie_list", "api.movie_list"),
            (A, "query_movie", "api.movie"),
            (A, "query_order_list", "api.order_list"),
            (A, "recommend_movie_list", "api.recommend"),
            (A, "monthly_sales", "api.monthly_sales"),
            (A, "yearly_sales", "api.yearly_sales"),
            (A, "insert_order", "api.insert_order"),
            (relational, "parse_information", "functions.parse_information"),
            (write, "next_order_id", "operators.next_order_id"),
            (api_mod.w, "insert_order", "operators.insert_order"),
            (knn, "knn_ivf_indexed", "similarity.knn_probe"),
        ]

    def extra(self, ops):
        ins = [o["ms"] for o in ops if o["kind"] == "insert_order"]
        return {"write_p50_ms": (_p50(ins), "ms")}

    def layers(self, view) -> dict:
        out = {}
        for e in ("movie_list", "movie", "order_list", "recommend", "monthly_sales", "yearly_sales", "insert_order"):
            ops = view.ops_of(e)
            out[f"api.{e}.p50_ms"] = _p50([o["ms"] for o in ops])
            out[f"api.{e}.jobs"] = view.per_op(ops, "jobs")
            out[f"api.{e}.exec_cpu_ms"] = view.per_op(ops, "cpu_ms")
            out[f"api.{e}.driver_ms"] = view.per_op(ops, "driver_ms")
        probes = view.ops_of("knn_probe")
        out["similarity.knn_probe.p50_ms"] = _p50([o["ms"] for o in probes])
        out["similarity.knn_probe.driver_ms"] = view.per_op(probes, "driver_ms")
        out["similarity.knn_probe.input_kb"] = view.per_op(probes, "input") / 1024
        out["sources.tsv_load_s"] = view.phase("sources.tsv_load")
        out["similarity.ivf_write_s"] = view.phase("similarity.ivf_write")
        path = compaction.table_location(self.spark, "movie_shop.order_info")
        out["sources.order_info_files"] = _dir_stats(path)[0]
        return out


# -------------------------------------------------------------- ingest


class Ingest(Workload):
    """Near-dup ingest service: the MinHash band index and, in traced
    runs, the streaming near-dup screen. Set-up writes the index over
    the corpus. Each batch is a block of window ops: ``probe`` probes
    the index with it and ``append`` adds it to the index.

    Traced runs also start the streaming MinHash query on an empty
    source directory, feed it the first batch as warm-up (the window
    then leaves that batch out), and put a ``screen`` op first in each
    batch: it lands the batch as one file in that directory and waits
    for the query to process it (one trigger, ``processAllAvailable``).
    After the window they run one maintenance cycle: compact the band
    table (after the appends, while it holds their small files), then
    delete and vacuum.

    The screen stays out of untraced runs for run time: with it a batch
    takes about 1.6x as long, and its cold first trigger adds 5 s of
    warm-up."""

    name = "ingest"
    # no warm-up probe: the first probe is the slowest, and with three
    # or more per kind the median never takes it
    min_blocks = 3
    cal_per_op = 5  # ops take seconds; the host's speed moves meanwhile

    def __init__(self, ctx):
        super().__init__(ctx)
        self.streams = bool(ctx.trace)
        self.kinds = ("screen", "probe", "append") if self.streams else ("probe", "append")
        self.block = self.ops_per_unit = len(self.kinds)  # one batch

    def is_unit(self, kind: str) -> bool:
        return kind in self.kinds

    def generate(self) -> None:
        sc = self.scale
        self.plan = gen.ingest_plan(self.seed, sc)
        self.docs = gen.documents(self.seed, self.plan["n_docs"])
        self.docs_per_unit = sc.batch_docs
        os.makedirs(self.cache, exist_ok=True)
        self.docs_path = os.path.join(self.cache, "documents.parquet")
        by_id = {d["doc_id"]: d for d in self.docs}
        self.files = [os.path.join(self.cache, f"batch-{b:05d}.parquet") for b in range(sc.n_batches)]
        if not os.path.exists(os.path.join(self.cache, COMPLETE)):
            gen.write_docs(self.docs_path, self.docs)
            for f, ids in zip(self.files, self.plan["batches"]):
                gen.write_docs(f, [by_id[i] for i in ids])
            _mark_complete(self.cache)

    def setup(self, phase) -> None:
        spark = self.spark
        self.all_docs = spark.read.parquet(self.docs_path).select("doc_id", "text")
        with phase("dedup.index_write"):
            mh.write_minhash_index(
                spark, self.all_docs.filter(f"doc_id < {self.scale.corpus_docs}"), "ing_mh", downsample=4, family="md5")

    def warm(self) -> None:
        spark = self.spark
        self.live = set(range(self.scale.corpus_docs))
        self.health: dict = {}
        self.probe_log: list[tuple] = []  # (batch ids, live ids before the batch), one per probe
        self.query = None
        if self.streams:
            self.src = os.path.join(self.ctx.work, "stream_in")
            os.makedirs(self.src)
            stream = spark.readStream.schema("doc_id long, text string").option("maxFilesPerTrigger", 1).parquet(self.src)
            self.query = (
                minhash_stream.minhash_candidates(stream)
                .writeStream.format("memory")
                .queryName("perfbench_candidates")
                .outputMode("append")
                .option("checkpointLocation", os.path.join(self.ctx.work, "checkpoint"))
                .start()
            )
            self._screen(0)

    def _delta(self, b: int):
        ids = self.plan["batches"][b]
        return self.all_docs.filter(f"doc_id BETWEEN {ids[0]} AND {ids[-1]}")

    def _screen(self, b: int) -> None:
        staging = os.path.join(self.ctx.work, "staging.parquet")
        shutil.copyfile(self.files[b], staging)
        os.replace(staging, os.path.join(self.src, os.path.basename(self.files[b])))
        self.query.processAllAvailable()

    def _probe(self, b: int):
        self.probe_log.append((self.plan["batches"][b], sorted(self.live)))
        pairs = plans_dedup.probe_minhash_index(self.spark, self._delta(b), "ing_mh", self.all_docs, "md5").collect()
        return {(int(r.doc_new), int(r.doc_corpus), float(r.jaccard)) for r in pairs}

    def _append(self, b: int) -> None:
        mh.append_minhash_index(self.spark, self._delta(b), "ing_mh", downsample=4, family="md5")
        self.live.update(self.plan["batches"][b])
        self.fed = b + 1

    def _maint(self):
        spark = self.spark
        ids = self.plan["deletes"]
        _, _, per_bucket = _dir_stats(compaction.table_location(spark, "ing_mh_bands"))
        stats = compaction.compact_bucketed_table(spark, "ing_mh_bands")
        gone = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        mh.delete_from_minhash_index(spark, gone, "ing_mh")
        n_mh = mh.vacuum_minhash_index(spark, "ing_mh")
        self.live.difference_update(ids)
        self.health = {
            "operators.compaction.files_before": stats.n_files_before,
            "operators.compaction.files_after": stats.n_files_after,
            "index.files_per_bucket_max": max(per_bucket.values(), default=0),
            "index.tombstone_ratio": len(ids) / max(len(self.live) + len(ids), 1),
        }
        return n_mh == len(ids)

    def index_bytes(self) -> int:
        return sum(
            _dir_stats(compaction.table_location(self.spark, t))[1]
            for t in ("ing_mh_bands", "ing_mh_sigs")
        )

    def ops(self):
        for b in range(1 if self.streams else 0, len(self.plan["batches"])):
            if self.streams:
                yield "screen", (lambda b=b: self._screen(b)), b
            yield "probe", (lambda b=b: self._probe(b)), b
            yield "append", (lambda b=b: self._append(b)), b

    def trace_ops(self):
        yield "maintenance", self._maint, None

    def progress(self) -> list[dict]:
        if self.query is None:
            return []
        return [p for p in self.query.recentProgress if p["numInputRows"] > 0]

    def check(self, outputs) -> list[bool]:
        sc = self.scale
        orc = oracle.ProbeOracle(self.docs[: sc.corpus_docs + self.fed * sc.batch_docs])
        got_probes = [g for k, _, g in outputs if k == "probe"]
        probe_ok = []
        for (ids, live), got in zip(self.probe_log, got_probes, strict=True):
            want = {(a, b): j for a, b, j in orc.expect(ids, live)}
            ok = (
                got is not RAISED
                and {(a, b) for a, b, _ in got} == want.keys()
                and all(abs(j - want[(a, b)]) <= 1e-6 for a, b, j in got)
            )
            if not ok:
                log_mismatch("ingest", "index probe of batch", (ids[0], ids[-1]))
            probe_ok.append(ok)
        # The screen's exact-verified candidates over everything fed
        # must equal the batch twin; the final pair set certifies every
        # trigger that built it.
        screen_ok = True
        self.n_candidates = self.n_docs_seen = 0
        if self.query is not None:
            cand = {
                (int(r.doc_a), int(r.doc_b))
                for r in self.spark.table("perfbench_candidates").select("doc_a", "doc_b").distinct().collect()
            }
            screened = 1 + sum(1 for k, _, g in outputs if k == "screen")
            fed = self.docs[sc.corpus_docs : sc.corpus_docs + screened * sc.batch_docs]
            text = {d["doc_id"]: d["text"] for d in fed}
            verified = {(a, b) for a, b in cand if oracle.jaccard(text[a], text[b]) >= JACCARD_THRESHOLD}
            if verified != oracle.minhash_lsh_pairs(fed):
                log_mismatch("ingest", "streaming screen pairs", len(verified))
                screen_ok = False
            self.n_candidates, self.n_docs_seen = len(cand), len(fed)
        later = iter(probe_ok)
        verdicts = []
        for kind, _, got in outputs:
            if kind == "probe":
                verdicts.append(next(later) and screen_ok)
            elif kind == "maintenance":
                verdicts.append(got is True)
            else:
                verdicts.append(got is not RAISED and screen_ok)
        return verdicts

    def close(self) -> None:
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop()

    def targets(self):
        return [
            (plans_dedup, "probe_minhash_index", "dedup.index_probe"),
            (mh, "minhash_signature_from_text", "dedup.signature"),
            (plans_dedup, "exact_jaccard_pairs", "plans.exact_jaccard_pairs"),
            (mh, "append_minhash_index", "dedup.index_append"),
            (mh, "delete_from_minhash_index", "dedup.index_delete"),
            (mh, "vacuum_minhash_index", "dedup.index_vacuum"),
            (compaction, "compact_bucketed_table", "operators.compaction"),
            (Ingest, "_screen", "streaming.trigger"),
            (minhash_stream, "signature_bands", "streaming.signature_bands"),
        ]

    def extra(self, ops):
        maint = [o["ms"] / 1000 for o in ops if o["kind"] == "maintenance"]
        prog = self.progress()
        state = prog[-1]["stateOperators"][0] if prog else {"memoryUsedBytes": 0}
        return {
            "maint_s": (_p50(maint), "s"),
            "bytes_per_doc": (self.index_bytes() / max(len(self.live), 1), "B"),
            "state_bytes_per_doc": (state["memoryUsedBytes"] / max(self.n_docs_seen, 1), "B"),
        }

    def layers(self, view) -> dict:
        out = {
            "dedup.index_write_s": view.phase("dedup.index_write"),
            "dedup.index_probe.p50_ms": view.span_p50("dedup.index_probe"),
            "dedup.index_append.p50_ms": view.span_p50("dedup.index_append"),
            "dedup.index_delete_s": view.span_p50("dedup.index_delete") / 1000,
            "dedup.index_vacuum_s": view.span_p50("dedup.index_vacuum") / 1000,
            "operators.compaction.compact_s": view.span_p50("operators.compaction") / 1000,
        }
        out.update(self.health)
        written = view.bytes_written(("dedup.index_append", "operators.compaction", "dedup.index_vacuum"))
        out["index.write_amp"] = written / max(self.index_bytes(), 1)
        prog = self.progress()
        dur = lambda k: _p50([p["durationMs"].get(k, 0) for p in prog])  # noqa: E731
        st = [p["stateOperators"][0] for p in prog if p["stateOperators"]]
        out.update({
            "streaming.trigger.p50_ms": view.span_p50("streaming.trigger"),
            "streaming.trigger.add_batch_ms": dur("addBatch"),
            "streaming.trigger.query_planning_ms": dur("queryPlanning"),
            "streaming.trigger.wal_commit_ms": dur("walCommit"),
            "streaming.trigger.latest_offset_ms": dur("latestOffset"),
            "streaming.state.rows_total": st[-1]["numRowsTotal"] if st else 0,
            "streaming.state.memory_bytes": st[-1]["memoryUsedBytes"] if st else 0,
            "streaming.state.rows_updated": _p50([s["numRowsUpdated"] for s in st]),
            "streaming.state.commit_ms": _p50([s["commitTimeMs"] for s in st]),
            "streaming.state.all_updates_ms": _p50([s["allUpdatesTimeMs"] for s in st]),
            "streaming.candidates_per_doc": self.n_candidates / max(self.n_docs_seen, 1),
        })
        return out


WORKLOADS = {w.name: w for w in (Serve, Ingest)}
