"""Spans around the engine's public functions, and Spark counters.

Tracing is done from outside the package: ``Tracer.install`` replaces
a public function with a wrapper at the place its caller looks the
name up (a module attribute, or a class attribute for API methods).
Each wrapper opens a span (name, start, end, parent, op id) and sets
the Spark job group to the span id, so every job the call submits is
attributed to it through the status store — by group, not by job
name: ``localCheckpoint`` and adaptive-execution jobs carry
uninformative call sites but inherit the group.

Limitations, stated rather than hidden:

- A lazy function (one that returns a DataFrame or Column) runs its
  work later, when an action fires; that work is charged to the span
  of the caller that triggers it, not to the lazy function's span.
- Jobs submitted from threads that do not inherit the job group
  (the engine's maintenance thread pools, the streaming micro-batch
  thread) are charged by time: to the innermost span of the running
  op whose interval contains the job's submission.

Spans stay in memory and are written as JSONL when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager


def _opt(x):
    """Scala Option -> Python value or None."""
    return x.get() if x.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.length())]


class Tracer:
    """Records spans for the ops of one run. ``enabled`` False keeps
    only the op spans (the untraced run): no wrappers are installed
    and no job groups are set below the op."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.active = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    # -- spans ---------------------------------------------------------

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextmanager
    def span(self, name: str, kind: str = "call"):
        if kind == "call" and not (self.enabled and self.active and self._stack):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "kind": kind,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else None,
            "start": time.time(),
            "end": None,
            "traced": self.active,
        }
        if s["op"] is None:
            s["op"] = s["id"]
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def op(self, kind: str, traced: bool):
        """The root span of one unit op; ``traced`` turns the wrapped
        layer spans on for its duration."""
        self.active = traced and self.enabled
        return self.span(kind, kind="op")

    # -- wrapping ------------------------------------------------------

    def install(self, targets) -> None:
        """``targets``: (owner, attribute, span name) triples. The
        owner is the module or class the CALLER reads the name from."""
        if not self.enabled:
            return
        for owner, attr, name in targets:
            orig = owner.__dict__[attr]

            def make(fn, span_name):
                @functools.wraps(fn)
                def wrapper(*a, **kw):
                    with self.span(span_name):
                        return fn(*a, **kw)

                return wrapper

            setattr(owner, attr, make(orig, name))
            self._patched.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- Spark status store ----------------------------------------------


class EngineCounters:
    """Job and stage counters read from the status store (readable
    with the UI disabled). ``mark`` remembers the newest job id so a
    later ``read`` returns only jobs submitted after it."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self.after_job = -1

    def mark(self) -> None:
        jobs = self.store.jobsList(None)
        self.after_job = max([j.jobId() for j in _seq(jobs)], default=-1)

    def read(self) -> tuple[list[dict], dict[int, dict]]:
        jobs = []
        stage_ids: set[int] = set()
        for j in _seq(self.store.jobsList(None)):
            if j.jobId() <= self.after_job:
                continue
            sub = _opt(j.submissionTime())
            done = _opt(j.completionTime())
            sids = _seq(j.stageIds())
            stage_ids.update(sids)
            jobs.append(
                {
                    "id": j.jobId(),
                    "group": _opt(j.jobGroup()),
                    "start": sub.getTime() / 1000.0 if sub is not None else None,
                    "end": done.getTime() / 1000.0 if done is not None else None,
                    "stages": sids,
                    "tasks": j.numTasks() - j.numSkippedTasks(),
                }
            )
        gw = self.sc._gateway
        stages: dict[int, dict] = {}
        for s in _seq(self.store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)):
            sid = s.stageId()
            if sid not in stage_ids or s.status().toString() == "SKIPPED":
                continue
            st = stages.setdefault(
                sid,
                {"cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_write": 0, "spill": 0,
                 "peak_mem": 0, "input": 0, "output": 0},
            )
            st["cpu_ms"] += s.executorCpuTime() / 1e6
            st["gc_ms"] += s.jvmGcTime()
            st["shuffle_write"] += s.shuffleWriteBytes()
            st["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            st["peak_mem"] = max(st["peak_mem"], s.peakExecutionMemory())
            st["input"] += s.inputBytes()
            st["output"] += s.outputBytes()
        return jobs, stages


def job_cost(job: dict, stages: dict[int, dict]) -> dict:
    out = {"cpu_ms": 0.0, "gc_ms": 0.0, "shuffle_write": 0, "spill": 0,
           "peak_mem": 0, "input": 0, "output": 0}
    for sid in job["stages"]:
        st = stages.get(sid)
        if st is None:
            continue
        for k in out:
            out[k] = max(out[k], st[k]) if k == "peak_mem" else out[k] + st[k]
    return out


def union_ms(intervals, lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by the union of intervals."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if a is not None and b is not None)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total * 1000.0


def attribute(spans: list[dict], jobs: list[dict]) -> dict[str, list[dict]]:
    """Span id -> jobs charged to it: by job group when the group is a
    span id, else to the innermost span whose interval holds the job's
    submission time."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, list[dict]] = {s["id"]: [] for s in spans}
    ordered = sorted(spans, key=lambda s: s["start"])
    for j in jobs:
        target = by_id.get(j["group"]) if j["group"] else None
        if target is None and j["start"] is not None:
            best = None
            for s in ordered:
                if s["start"] > j["start"]:
                    break
                if s["end"] is not None and s["end"] >= j["start"]:
                    if best is None or s["start"] >= best["start"]:
                        best = s
            target = best
        if target is not None:
            out[target["id"]].append(j)
    return out


def rollup(spans: list[dict], jobs_by_span: dict[str, list[dict]]) -> dict[str, list[dict]]:
    """Span id -> jobs charged to it or to any descendant span."""
    children: dict[str, list[str]] = {}
    for s in spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s["id"])
    memo: dict[str, list[dict]] = {}

    def walk(sid: str) -> list[dict]:
        if sid not in memo:
            acc = list(jobs_by_span.get(sid, []))
            for c in children.get(sid, []):
                acc.extend(walk(c))
            memo[sid] = acc
        return memo[sid]

    return {s["id"]: walk(s["id"]) for s in spans}
