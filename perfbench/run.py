"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 4 --trace 0

Runs one workload for ``--seconds`` seconds in a closed loop (one
client thread, next op only after the previous one completes) and
prints, as its LAST stdout line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end set, with ``--trace 1``
the per-layer set (see README.md). A JSON line before it records the
environment, the workload-specific metrics and the sample counts.

The package is imported from the checkout this file lives in, never
from anywhere else; the run happens in a fresh directory under
``.perfbench/`` that is removed afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "hive_hdfs_practise_spark"

# name -> unit. BENCHMARK.json lists exactly these (pinned by a test).
END_TO_END = {
    "setup_s": "s",
    "cpu_ms_per_op": "ms",
}
SETUP_REPS = 3  # workload set-ups per run; setup_s takes their median
API_ENDPOINTS = ("movie_list", "movie", "order_list", "recommend", "monthly_sales", "yearly_sales", "insert_order")
PER_LAYER = {
    "engine.jobs_per_op": "count",
    "engine.tasks_per_op": "count",
    "engine.exec_cpu_ms_per_op": "ms",
    "engine.driver_ms_per_op": "ms",
    "engine.gc_ms_per_op": "ms",
    "engine.shuffle_write_mb": "MB",
    "engine.spill_mb": "MB",
    "engine.peak_exec_mem_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.tsv_load_s": "s",
    "sources.input_kb_per_op": "KB",
    "sources.order_info_files": "count",
    **{f"api.{e}.{m}": u for e in API_ENDPOINTS
       for m, u in (("p50_ms", "ms"), ("jobs", "count"), ("exec_cpu_ms", "ms"), ("driver_ms", "ms"))},
    "similarity.knn_probe.p50_ms": "ms",
    "similarity.knn_probe.input_kb": "KB",
    "similarity.knn_probe.driver_ms": "ms",
    "similarity.ivf_write_s": "s",
    "dedup.index_write_s": "s",
    "dedup.index_probe.p50_ms": "ms",
    "dedup.index_append.p50_ms": "ms",
    "dedup.index_delete_s": "s",
    "dedup.index_vacuum_s": "s",
    "operators.compaction.compact_s": "s",
    "operators.compaction.files_before": "count",
    "operators.compaction.files_after": "count",
    "index.files_per_bucket_max": "count",
    "index.write_amp": "ratio",
    "index.tombstone_ratio": "ratio",
    "streaming.trigger.p50_ms": "ms",
    "streaming.trigger.add_batch_ms": "ms",
    "streaming.trigger.query_planning_ms": "ms",
    "streaming.trigger.wal_commit_ms": "ms",
    "streaming.trigger.latest_offset_ms": "ms",
    "streaming.state.rows_total": "count",
    "streaming.state.memory_bytes": "B",
    "streaming.state.rows_updated": "count",
    "streaming.state.commit_ms": "ms",
    "streaming.state.all_updates_ms": "ms",
    "streaming.candidates_per_doc": "ratio",
    "workload.op_p50_ms": "ms",
    "workload.op_tail_ms": "ms",
    "workload.ops_per_s": "1/s",
    "workload.write_p50_ms": "ms",
    "workload.maint_s": "s",
    "workload.bytes_per_doc": "B",
    "workload.state_bytes_per_doc": "B",
    "workload.docs_per_s": "1/s",
    "workload.cpu_s_per_kdoc": "s",
    "workload.rss_peak_mb": "MB",
    "trace.overhead_pct": "%",
    "trace.coverage_pct": "%",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("bench", "tiny"), default="bench",
                   help="input size; 'tiny' is the test-suite smoke size")
    return p.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Environment of the engine for this run: all cores, a driver heap
    that fits the host, temp and spill space inside the run directory,
    Python workers importing the package from this checkout, and no
    inherited engine knobs."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYTHONPATH": ROOT,
    }
    os.environ.update(pinned)
    return pinned


def git_rev() -> str:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def peak_rss_mb(jvm_pid: int) -> float:
    kb = 0
    try:
        with open(f"/proc/{jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb = int(line.split()[1])
    except OSError:
        pass
    return (kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


# JVM threads whose CPU is the runtime's own upkeep, not the program's
# work: JIT compilers and garbage collectors (thread names as Linux
# shows them, cut to 15 characters). Compile CPU falls off over a run
# at a pace set by the host's speed, so counting it would make the
# figure depend on how far a run gets.
JVM_UPKEEP = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread", "G1 ", "VM Thread", "VM Periodic", "Sweeper thread")
CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> list[str]:
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _cpu_ticks(fields: list[str], reaped: bool = True) -> int:
    """utime + stime, and with ``reaped`` the CPU of the process's
    children that have ended and been waited for."""
    return sum(int(x) for x in fields[11:15 if reaped else 13])


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids.setdefault(int(_stat_fields(f"/proc/{d}/stat")[1]), []).append(int(d))
            except OSError:  # the process ended
                pass
    out, todo = [], [root]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def work_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the driver JVM without
    its runtime upkeep threads, and every process below the JVM (the
    Python workers), ended ones included."""
    ticks = _cpu_ticks(_stat_fields(f"/proc/{jvm_pid}/stat"))
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                if f.read().startswith(JVM_UPKEEP):
                    ticks -= _cpu_ticks(_stat_fields(f"/proc/{jvm_pid}/task/{tid}/stat"), reaped=False)
        except OSError:  # the thread ended
            pass
    for pid in _descendants(jvm_pid):
        try:
            ticks += _cpu_ticks(_stat_fields(f"/proc/{pid}/stat"))
        except OSError:
            pass
    return ticks / CLK_TCK + time.process_time()


# Time of ``Calibration.sample`` on the reference host (4 cores) when
# nothing else runs on it. A timed end-to-end metric is scaled by
# REF_CAL_MS / (median calibration time in the part of the run it
# measures): it is reported at the reference host's speed.
REF_CAL_MS = 20.0


class Calibration:
    """How fast the host runs the driver JVM right now: the wall time
    of sorting a fixed array of random ints in the JVM (JDK code only,
    nothing of the package). Other tenants of a shared host slow the
    engine's CPU time and this sort alike, by 2 to 3.5 times on the
    4-core host the benchmark was built on; dividing by it takes most of
    their load out of the figures."""

    N = 300_000

    def __init__(self, jvm):
        self.jvm = jvm
        self.ints = jvm.java.util.Random(42).ints(self.N).toArray()
        self.samples: dict[str, list[float]] = {}
        self.sample("compile", 10)  # until the sort is compiled

    def sample(self, phase: str, n: int = 1) -> None:
        """``n`` sort times, charged to ``phase`` of the run."""
        for _ in range(n):
            a = self.jvm.java.util.Arrays.copyOf(self.ints, self.N)
            t = time.perf_counter()
            self.jvm.java.util.Arrays.sort(a)
            self.samples.setdefault(phase, []).append((time.perf_counter() - t) * 1000)

    def scale(self, phase: str) -> float:
        """Factor that takes a time measured in ``phase`` to the
        reference host's speed."""
        return REF_CAL_MS / statistics.median(self.samples[phase])


def per_unit(ops: list[dict], field: str, ops_per_unit: int) -> float:
    """Cost of one unit op from per-op samples: the median of ``field``
    for each op kind, averaged over the kinds (every run holds the kinds
    in equal shares) and scaled to a unit of ``ops_per_unit`` ops. The
    medians keep a stray slow op (a collection, a compile) out."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o[field])
    if not by_kind:
        return 0.0
    return statistics.fmean(statistics.median(xs) for xs in by_kind.values()) * ops_per_unit


def tail_percentile(xs: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least ten samples above it
    (the median when there are fewer than 20 samples)."""
    n = len(xs)
    if n < 20:
        return (statistics.median(xs) if xs else 0.0), 50
    pct = min(99, int(100 * (n - 10) / n))
    return sorted(xs)[max(0, int(n * pct / 100) - 1)], pct


class View:
    """Derived per-span costs of one run, for the layer metrics."""

    def __init__(self, tracer, ops, phases, jobs, stages):
        from perfbench.spans import attribute, job_cost, rollup, union_ms

        self.ops, self.phases = ops, phases
        spans = tracer.spans
        self.spans = {s["id"]: s for s in spans}
        rolled = rollup(spans, attribute(spans, jobs))
        self.cost: dict[str, dict] = {}
        for s in spans:
            js = rolled[s["id"]]
            c = {"jobs": len(js), "tasks": sum(j["tasks"] for j in js)}
            for j in js:
                for k, v in job_cost(j, stages).items():
                    c[k] = max(c.get(k, 0), v) if k == "peak_mem" else c.get(k, 0) + v
            for k in ("cpu_ms", "gc_ms", "shuffle_write", "spill", "peak_mem", "input", "output"):
                c.setdefault(k, 0)
            wall = (s["end"] - s["start"]) * 1000
            c["wall_ms"] = wall
            c["driver_ms"] = wall - union_ms([(j["start"], j["end"]) for j in js], s["start"], s["end"])
            kids = [(k["start"], k["end"]) for k in spans if k["parent"] == s["id"]]
            c["covered_ms"] = union_ms(kids, s["start"], s["end"])
            self.cost[s["id"]] = c

    def ops_of(self, kind: str, traced: bool = True) -> list[dict]:
        return [o for o in self.ops if o["kind"] == kind and (o["traced"] or not traced)]

    def per_op(self, ops: list[dict], field: str) -> float:
        return statistics.fmean(self.cost[o["span"]][field] for o in ops) if ops else 0.0

    def phase(self, name: str) -> float:
        """Median time of a set-up phase over the set-up repetitions."""
        xs = self.phases.get(name)
        return statistics.median(xs) if xs else 0.0

    def _named(self, name: str) -> list[dict]:
        return [self.cost[s["id"]] for s in self.spans.values() if s["name"] == name and s["traced"]]

    def span_p50(self, name: str) -> float:
        xs = [c["wall_ms"] for c in self._named(name)]
        return statistics.median(xs) if xs else 0.0

    def bytes_written(self, names) -> float:
        return sum(c["output"] for n in names for c in self._named(n))


def layer_metrics(view: View, w, unit_ops: list[dict], session: dict) -> dict:
    traced = [o for o in unit_ops if o["traced"]]
    untraced = [o for o in unit_ops if not o["traced"]]
    n = max(len(traced), 1) / w.ops_per_unit  # traced unit ops, in units
    tot = lambda f: sum(view.cost[o["span"]][f] for o in traced)  # noqa: E731
    out = {
        "engine.jobs_per_op": tot("jobs") / n,
        "engine.tasks_per_op": tot("tasks") / n,
        "engine.exec_cpu_ms_per_op": tot("cpu_ms") / n,
        "engine.driver_ms_per_op": tot("driver_ms") / n,
        "engine.gc_ms_per_op": tot("gc_ms") / n,
        "engine.shuffle_write_mb": tot("shuffle_write") / 2**20,
        "engine.spill_mb": tot("spill") / 2**20,
        "engine.peak_exec_mem_mb": max((view.cost[o["span"]]["peak_mem"] for o in traced), default=0) / 2**20,
        "session.start_s": session["start_s"],
        "session.warmup_s": session["warmup_s"],
        "sources.input_kb_per_op": tot("input") / n / 1024,
        "trace.coverage_pct": 100.0 * tot("covered_ms") / max(tot("wall_ms"), 1e-9),
    }
    ratios = []
    for kind in sorted({o["kind"] for o in unit_ops}):
        a = [o["ms"] for o in traced if o["kind"] == kind]
        b = [o["ms"] for o in untraced if o["kind"] == kind]
        if a and b:
            ratios.append(statistics.median(a) / statistics.median(b) - 1.0)
    out["trace.overhead_pct"] = 100.0 * statistics.median(ratios) if ratios else 0.0
    out.update(w.layers(view))
    return out


def run(args) -> tuple[dict, dict]:
    """Returns (result line, info line)."""
    work_root = os.path.join(ROOT, ".perfbench")
    os.makedirs(work_root, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=work_root)
    pinned = pin_environment(work)
    os.chdir(work)
    try:
        return _run_in(args, work, pinned)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run_in(args, work: str, pinned: dict) -> tuple[dict, dict]:
    import pyspark
    from pyspark import SparkContext

    from hive_hdfs_practise_spark.session import get_spark
    from perfbench import gen
    from perfbench.spans import EngineCounters, Tracer
    from perfbench.workloads import RAISED, WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")

    class Ctx:
        pass

    ctx = Ctx()
    ctx.seed, ctx.work, ctx.scale, ctx.trace = args.seed, work, gen.SCALES[args.scale], args.trace
    ctx.cache = gen.cache_dir(ROOT, args.workload, args.scale, args.seed)
    w = WORKLOADS[args.workload](ctx)
    clock = {"start": time.perf_counter()}  # where the run's wall time goes
    w.generate()  # untimed: inputs are cached per seed
    clock["generated"] = time.perf_counter()

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={pinned['TMPDIR']} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads -XX:-UseDynamicNumberOfGCThreads",
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    sc = spark.sparkContext
    t1 = time.perf_counter()
    spark.range(10000).selectExpr("sum(id)").collect()  # first job: JIT, codegen
    t2 = time.perf_counter()
    cal = Calibration(sc._jvm)
    tracer = Tracer(sc, enabled=bool(args.trace))
    try:
        ctx.spark = w.spark = spark
        tracer.install(w.targets())
        phases: dict[str, list[float]] = {}

        class _Phase:
            def __init__(self, name):
                self.name = name

            def __enter__(self):
                self.t = time.perf_counter()

            def __exit__(self, *exc):
                phases.setdefault(self.name, []).append(time.perf_counter() - self.t)

        reps = []
        with tracer.op("setup", traced=True):
            # the set-up is repeated (each one replaces the tables and
            # indexes of the one before) and its median counted; the
            # repetitions also warm the JVM for the window
            for _ in range(SETUP_REPS):
                cal.sample("setup", 3)
                t = time.perf_counter()
                w.setup(_Phase)
                reps.append(time.perf_counter() - t)
            with _Phase("warm_ops"):
                w.warm()
        session = {"start_s": t1 - t0, "warmup_s": t2 - t1}
        setup_s = t2 - t0 + statistics.median(reps)

        counters = EngineCounters(sc)
        counters.mark()
        ops: list[dict] = []
        outputs: list[tuple] = []
        jvm = sc._jvm
        jvm_pid = jvm.ProcessHandle.current().pid()

        def timed(kind, fn, op_args, traced):
            cal.sample("window", w.cal_per_op)
            cpu = work_cpu_s(jvm_pid)
            with tracer.op(kind, traced) as span:
                t = time.perf_counter()
                try:
                    got = fn()
                except Exception:  # a failed op is counted, the loop goes on
                    traceback.print_exc(file=sys.stderr)
                    got = RAISED
                ms = (time.perf_counter() - t) * 1000
            cpu_ms = (work_cpu_s(jvm_pid) - cpu) * 1000
            ops.append({"kind": kind, "ms": ms, "cpu_ms": cpu_ms, "span": span["id"], "traced": traced})
            outputs.append((kind, op_args, got))

        window_start = time.perf_counter()
        deadline = window_start + args.seconds
        for i, (kind, fn, op_args) in enumerate(w.ops()):
            if i % w.block == 0 and i >= w.min_blocks * w.block and time.perf_counter() >= deadline:
                break
            timed(kind, fn, op_args, bool(args.trace) and i % 2 == 0)
        window_s = time.perf_counter() - window_start
        if args.trace:
            for kind, fn, op_args in w.trace_ops():
                timed(kind, fn, op_args, True)

        jobs, stages = counters.read()
        clock["measured"] = time.perf_counter()
        verdicts = w.check(outputs)
        clock["checked"] = time.perf_counter()
        unit = [o for o in ops if w.is_unit(o["kind"])]
        view = View(tracer, ops, phases, jobs, stages)
        for o in ops:
            o["exec_ms"] = view.cost[o["span"]]["cpu_ms"]
        units = len(unit) / w.ops_per_unit
        tail, pct = tail_percentile([o["ms"] for o in unit])
        extra = {k: v for k, v in w.extra(ops).items()}
        if w.docs_per_unit:
            extra["docs_per_s"] = (units * w.docs_per_unit / window_s, "1/s")
            extra["cpu_s_per_kdoc"] = (
                sum(o["exec_ms"] for o in unit) / 1000 / max(units * w.docs_per_unit / 1000, 1e-9), "s")
        extra["op_p50_ms"] = (statistics.median([o["ms"] for o in unit]) if unit else 0.0, "ms")
        extra["op_tail_ms"] = (tail, "ms")
        extra["ops_per_s"] = (units / window_s, "1/s")
        extra["rss_peak_mb"] = (peak_rss_mb(jvm_pid), "MB")
        raw = {
            "setup_s": setup_s,
            "latency_ms": per_unit(unit, "ms", w.ops_per_unit),
            "cpu_ms_per_op": per_unit(unit, "cpu_ms", w.ops_per_unit),
        }
        e2e = {"setup_s": setup_s * cal.scale("setup"), "cpu_ms_per_op": raw["cpu_ms_per_op"] * cal.scale("window")}
        if args.trace:
            values = layer_metrics(view, w, unit, session)
            for k, (v, _) in extra.items():
                values[f"workload.{k}"] = v
            metrics = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
            tracer.dump(os.path.join(ROOT, ".perfbench", f"spans-{args.workload}-{args.seed}.jsonl"))
        else:
            metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    finally:
        # stop the query, the session and the JVM before any result is printed
        tracer.uninstall()
        w.close()
        spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)

    failed = min(len(outputs), sum(1 for v in verdicts if not v))
    result = {"correct": failed == 0 and bool(outputs), "attempted": len(outputs), "failed": failed, "metrics": metrics}
    info = {
        "perfbench": {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "scale": args.scale, "git_rev": git_rev(),
            "versions": {"python": platform.python_version(), "pyspark": pyspark.__version__},
            "env": pinned,
            "ops": len(outputs), "unit_ops": len(unit), "tail_percentile": pct,
            "failed_ratio": failed / max(len(outputs), 1),
            "end_to_end": {k: round(v, 6) for k, v in e2e.items()},
            "setup_reps_s": reps,
            "workload_metrics": {k: {"value": v, "unit": u} for k, (v, u) in extra.items()},
            "op_ms": {k: [round(o["ms"], 1) for o in ops if o["kind"] == k] for k in dict.fromkeys(o["kind"] for o in ops)},
            "op_cpu_ms": {k: [round(o["cpu_ms"], 1) for o in ops if o["kind"] == k] for k in dict.fromkeys(o["kind"] for o in ops)},
            "calibration_ms": {"ref": REF_CAL_MS, **{
                k: {"median": statistics.median(xs), "samples": [round(x, 1) for x in xs]}
                for k, xs in cal.samples.items()}},
            "raw": {k: round(v, 6) for k, v in raw.items()},
            "op_exec_ms": {k: [round(o["exec_ms"], 1) for o in ops if o["kind"] == k] for k in dict.fromkeys(o["kind"] for o in ops)},
            "window_s": window_s,
            "phases_s": phases,
            "session": session,
        }
    }
    clock["stopped"] = time.perf_counter()
    info["perfbench"]["clock_s"] = {k: round(v - clock["start"], 2) for k, v in clock.items()}
    return result, info


def main(argv=None) -> int:
    args = parse_args(argv)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import hive_hdfs_practise_spark as pkg
    except ImportError as e:
        print(f"perfbench: cannot import {PACKAGE} from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.abspath(pkg.__file__)) != os.path.join(ROOT, PACKAGE):
        print(f"perfbench: {PACKAGE} resolved outside this checkout: {pkg.__file__}", file=sys.stderr)
        return 2
    result, info = run(args)
    sys.stderr.flush()
    print(json.dumps(info), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
