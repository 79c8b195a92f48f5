"""Spans around calls into the program's public layers, and Spark job,
stage and task metrics attributed to them.

Nothing here edits the program. ``instrument`` swaps a layer's public
function, in every ``traits_data_spark`` module that imported it, for a
wrapper that opens a span; each span sets its own Spark job group, so
the jobs a call launches can be found in Spark's status store
afterwards. Jobs launched on threads the job group does not reach (the
streaming query thread) are attributed to the innermost span open when
they were submitted. With tracing off, ``Tracer.span`` does nothing and
no function is wrapped.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import statistics
import sys
import time
import urllib.request
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Iterator

GROUP_PREFIX = "perfbench-"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    kind: str  # pass | build | exec | plan | call
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    consumes: str | None = None  # the layer whose frame an exec span runs

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory. Execution is single-client and
    sequential (a streaming callback runs while the main thread waits),
    so one stack serves every thread."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext if spark is not None else None
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.results: dict[str, object] = {}
        self._stack: list[Span] = []

    def group(self, span: Span) -> str:
        return f"{GROUP_PREFIX}{self.run_id}-{span.id}"

    @contextlib.contextmanager
    def span(self, name: str, layer: str, kind: str = "call",
             consumes: str | None = None) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, kind,
                  parent.id if parent else None, self.run_id, time.time(),
                  consumes=consumes)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        if sp is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(self.group(sp), f"{sp.layer}:{sp.name}")

    def force_plan(self, df) -> None:
        """Produce ``df``'s executed plan before its action runs, so the
        planning time is its own span (``spark.plan_s``)."""
        if self.enabled:
            with self.span("executedPlan", "spark", kind="plan"):
                df._jdf.queryExecution().executedPlan()

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, **extra,
                       "spans": [vars(s) for s in self.spans]}, f, indent=1)


def instrument(tracer: Tracer, targets: list[tuple[str, str, str]]) -> None:
    """Wrap ``module.attr`` (a layer's public function) in a span of
    ``layer``, in every loaded ``traits_data_spark`` module that holds a
    reference to it. The call's return value is kept in
    ``tracer.results`` under ``attr``."""
    for modname, attr, layer in targets:
        orig = getattr(importlib.import_module(modname), attr)

        def wrapper(*args, __orig=orig, __attr=attr, __layer=layer, **kwargs):
            with tracer.span(__attr, __layer, kind="build"):
                out = __orig(*args, **kwargs)
            tracer.results[__attr] = out
            return out

        functools.update_wrapper(wrapper, orig)
        for mod in list(sys.modules.values()):
            if getattr(mod, "__name__", "").startswith("traits_data_spark"):
                for k, v in list(vars(mod).items()):
                    if v is orig:
                        setattr(mod, k, wrapper)


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def fetch_jobs(sc, since: float, settle_s: float = 10.0) -> tuple[list[dict], dict]:
    """Jobs submitted at or after ``since`` and their stages, from the
    UI's REST view of the status store. Waits until the listener has
    caught up: no job running, every stage of those jobs settled, and
    the job count unchanged between two polls."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + settle_s
    prev = -1
    while True:
        jobs = [j for j in _get(f"{base}/jobs")
                if (_ts(j.get("submissionTime")) or 0) >= since - 0.001]
        stages = {}
        for s in _get(f"{base}/stages"):
            if s["stageId"] not in stages or s["attemptId"] > stages[s["stageId"]]["attemptId"]:
                stages[s["stageId"]] = s
        busy = any(j["status"] == "RUNNING" for j in jobs) or any(
            stages.get(sid, {}).get("status") in ("ACTIVE", "PENDING")
            for j in jobs for sid in j["stageIds"])
        if (not busy and len(jobs) == prev) or time.time() > deadline:
            return jobs, stages
        prev = len(jobs)
        time.sleep(0.2)


@dataclass
class JobCost:
    job_id: int
    span: int | None
    wall_s: float
    by_group: bool = True
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    gc_s: float = 0.0


def attribute_jobs(tracer: Tracer, jobs: list[dict], stages: dict) -> list[JobCost]:
    """One ``JobCost`` per job, charged to its span: by job group when
    the group is one of the tracer's, else the innermost span open at
    submission. A stage shared by several jobs is charged to the first
    (the later ones skip it)."""
    by_group = {tracer.group(s): s.id for s in tracer.spans}
    owner: dict[int, int] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in j["stageIds"]:
            owner.setdefault(sid, j["jobId"])
    out = []
    for j in jobs:
        sub = _ts(j.get("submissionTime"))
        done = _ts(j.get("completionTime")) or sub
        span = by_group.get(j.get("jobGroup") or "")
        grouped = span is not None
        if not grouped:
            span = innermost_at(tracer.spans, sub)
        c = JobCost(j["jobId"], span, (done or 0) - (sub or 0), grouped)
        for sid in j["stageIds"]:
            st = stages.get(sid)
            if owner[sid] != j["jobId"] or st is None or st["status"] == "SKIPPED":
                continue
            c.stages += 1
            c.tasks += st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
            c.task_s += st.get("executorRunTime", 0) / 1000
            c.shuffle_write_bytes += st.get("shuffleWriteBytes", 0)
            c.spill_bytes += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
            c.gc_s += st.get("jvmGcTime", 0) / 1000
        out.append(c)
    return out


def innermost_at(spans: list[Span], t: float | None) -> int | None:
    best = None
    for s in spans:
        if t is not None and s.start <= t <= s.end:
            if best is None or s.start >= best.start:
                best = s
    return best.id if best else None


# ---------------------------------------------------------------------------
# self time and per-layer rollups
# ---------------------------------------------------------------------------


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.dur - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


def subtree(spans: list[Span], root: int) -> list[Span]:
    ids, out = {root}, []
    for s in spans:  # spans are stored in open order: parents first
        if s.id in ids or s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out


def pass_report(tracer: Tracer, pass_id: int, costs: list[JobCost]) -> dict[str, float]:
    """Per-layer metrics for one pass span (see README for meanings)."""
    spans = subtree(tracer.spans, pass_id)
    by_id = {s.id: s for s in spans}
    mine = [c for c in costs if c.span in by_id]
    jobs_under: dict[int, list[JobCost]] = {}
    for c in mine:
        sid = c.span
        while sid is not None and sid in by_id:
            jobs_under.setdefault(sid, []).append(c)
            sid = by_id[sid].parent

    def top_spans(layer: str) -> list[Span]:
        out = []
        for s in spans:
            if s.layer != layer or s.kind != "build":
                continue
            p = by_id.get(s.parent)
            while p is not None and not (p.layer == layer and p.kind == "build"):
                p = by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    def jobs_of(group: list[Span]) -> list[JobCost]:
        seen: dict[int, JobCost] = {}
        for s in group:
            for c in jobs_under.get(s.id, []):
                seen[c.job_id] = c
        return list(seen.values())

    def sums(cs: list[JobCost]) -> dict[str, float]:
        return {
            "jobs": len(cs),
            "task_s": sum(c.task_s for c in cs),
            "shuffle_write_bytes": sum(c.shuffle_write_bytes for c in cs),
            "spill_bytes": sum(c.spill_bytes for c in cs),
        }

    out: dict[str, float] = {}
    layers = {s.layer for s in spans} | {s.consumes for s in spans if s.consumes}
    for layer in sorted(layers):
        build = top_spans(layer)
        execs = [s for s in spans if s.consumes == layer]
        out[f"{layer}.build_s"] = sum(s.dur for s in build)
        out[f"{layer}.jobs_in_build"] = len(jobs_of(build))
        out[f"{layer}.exec_s"] = sum(s.dur for s in execs)
        for k, v in sums(jobs_of(build + execs)).items():
            out[f"{layer}.{k}"] = v
    selfs = self_times(spans)
    for s in spans:
        key = "bench.unattributed_s" if s.kind == "pass" else f"{s.layer}.self_s"
        out[key] = out.get(key, 0.0) + selfs[s.id]
    root = by_id[pass_id]
    out["bench.pass_s"] = root.dur
    single = [c.wall_s for c in mine if c.tasks == 1]
    out.update({
        "spark.jobs": len(mine),
        "spark.stages": sum(c.stages for c in mine),
        "spark.tasks": sum(c.tasks for c in mine),
        "spark.plan_s": sum(s.dur for s in spans if s.kind == "plan"),
        "spark.job_fixed_s": statistics.median(single) if single else 0.0,
        "spark.task_s": sum(c.task_s for c in mine),
        "spark.shuffle_write_bytes": sum(c.shuffle_write_bytes for c in mine),
        "spark.spill_bytes": sum(c.spill_bytes for c in mine),
        "spark.gc_s": sum(c.gc_s for c in mine),
        "spark.jobs_by_time": sum(1 for c in mine if not c.by_group),
    })
    return out
