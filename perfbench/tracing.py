"""Spans for the traced run: request -> driver (plan, dict) -> Spark job ->
stage -> task, plus the per-layer rollup computed from them.

Driver-side spans come from wrappers that this module installs around the
engine's public layer functions for the length of the traced run (the engine
itself is not changed). Job, stage and task intervals are rebuilt from
Spark's own status store, read through py4j after each request's span has
closed, using one job group per request. Spans live in memory and are
written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


def now_ms() -> float:
    # epoch milliseconds: the clock Spark stamps job/stage/task times with
    return time.time() * 1000.0


@dataclass
class Span:
    id: int
    name: str
    request: str
    parent: int | None
    start: float  # epoch ms
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return self.end - self.start


def union_ms(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span: Span, children) -> float:
    """Self time as the benchmark guide defines it: the span's duration minus
    the part of its interval that its child spans cover."""
    return span.ms - union_ms(((c.start, c.end) for c in children), span.start, span.end)


class Tracer:
    """Span recorder. Wrapped layer functions record a span only while a
    request span is open, so work done outside requests (kernel profiling,
    oracle checks) never lands in a request's layers."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.last_built = None  # index returned by the last traced build_fused

    @contextmanager
    def span(self, name: str, request: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rid = request if request is not None else (parent.request if parent else "")
        sp = Span(len(self.spans), name, rid, parent.id if parent else None, now_ms(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = now_ms()
            self._stack.pop()

    def _wrap(self, name: str, fn, attrs_of=None, keep_result=False):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self._stack:
                return fn(*args, **kwargs)
            attrs = attrs_of(*args, **kwargs) if attrs_of else {}
            with self.span(name, **attrs):
                out = fn(*args, **kwargs)
            if keep_result:
                self.last_built = out
            return out

        return wrapper

    def _replace_everywhere(self, original, wrapped):
        # a function imported by name (``from planner import plan_query``)
        # is bound in every importing module: rebind each of them
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith("bitfunnel_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._patches.append((mod, attr, val))
                    setattr(mod, attr, wrapped)

    def install(self):
        """Wrap the engine's public layer entry points for the traced run."""
        from bitfunnel_spark import FullTextIndex
        # import every module that binds plan_query by name before rebinding
        from bitfunnel_spark.plans import batch, dsl, executor, kernel, planner, profile, serving  # noqa: F401

        def keys_of(_self, terms, *a, **k):
            return {"keys": len(set(terms))}

        for attr, name, attrs_of in (
            ("prepare_query", "plan", None),
            ("idf_for_keys", "dict", keys_of),
        ):
            orig = FullTextIndex.__dict__[attr]
            self._patches.append((FullTextIndex, attr, orig))
            setattr(FullTextIndex, attr, self._wrap(name, orig, attrs_of))
        orig_build = FullTextIndex.__dict__["build_fused"]
        self._patches.append((FullTextIndex, "build_fused", orig_build))
        FullTextIndex.build_fused = classmethod(
            self._wrap("build", orig_build.__func__, keep_result=True)
        )
        self._replace_everywhere(planner.plan_query, self._wrap("plan", planner.plan_query))
        self._replace_everywhere(batch.match_many, self._wrap("match", batch.match_many))

    def uninstall(self):
        for owner, attr, val in reversed(self._patches):
            setattr(owner, attr, val)
        self._patches.clear()

    def add(self, name: str, request: str, parent: int | None, start: float, end: float, **attrs) -> Span:
        sp = Span(len(self.spans), name, request, parent, start, end, attrs)
        self.spans.append(sp)
        return sp

    def dump(self, path):
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s):
    return [s.apply(i) for i in range(s.length())]


class SparkStore:
    """Job/stage/task records of one job group, from Spark's status store."""

    FINAL = ("SUCCEEDED", "FAILED")

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self._statuses = gw.jvm.java.util.ArrayList()
        self._quantiles = gw.new_array(gw.jvm.double, 0)

    def set_group(self, group: str | None):
        self.sc.setLocalProperty("spark.jobGroup.id", group)

    def _final_job(self, jid: int, timeout_s: float = 10.0):
        # the store is fed by an asynchronous listener: the action can return
        # before the job-end event has been applied
        deadline = time.monotonic() + timeout_s
        while True:
            jd = self.store.job(jid)
            if jd.status().toString() in self.FINAL and jd.completionTime().isDefined():
                return jd
            if time.monotonic() > deadline:
                raise TimeoutError(f"job {jid} not final in the status store")
            time.sleep(0.005)

    def record(self, tracer: Tracer, group: str, request_span: Span) -> None:
        """Append job -> stage -> task spans of ``group`` under the innermost
        driver-side span of ``request_span`` that contains each job's start."""
        holders = [s for s in tracer.spans if s.request == group and s.end > 0]
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self._final_job(jid)
            start = float(jd.submissionTime().get().getTime())
            end = float(jd.completionTime().get().getTime())
            inside = [s for s in holders if s.start <= start <= s.end]
            parent = max(inside, key=lambda s: s.start).id if inside else request_span.id
            job = tracer.add("job", group, parent, start, end, job_id=jid, status=jd.status().toString())
            for sid in _seq(jd.stageIds()):
                try:
                    sd = self.store.stageAttempt(sid, 0, False, self._statuses, False, self._quantiles)._1()
                except Py4JJavaError:  # a stage that never ran has no attempt record
                    continue
                sub, comp = _opt(sd.submissionTime()), _opt(sd.completionTime())
                if sd.status().toString() == "SKIPPED" or sub is None or comp is None:
                    continue
                stage = tracer.add(
                    "stage", group, job.id, float(sub.getTime()), float(comp.getTime()),
                    stage_id=sid,
                    tasks=sd.numCompleteTasks(),
                    run_ms=sd.executorRunTime(),
                    cpu_ms=sd.executorCpuTime() / 1e6,
                    deser_ms=sd.executorDeserializeTime(),
                    gc_ms=sd.jvmGcTime(),
                    shuffle_read_bytes=sd.shuffleReadBytes(),
                    result_bytes=sd.resultSize(),
                )
                for td in _seq(self.store.taskList(sid, 0, 1_000_000)):
                    launch = float(td.launchTime().getTime())
                    dur = _opt(td.duration()) or 0
                    tracer.add("task", group, stage.id, launch, launch + dur, task_id=td.taskId())


def request_layers(tracer: Tracer, rid: str, collect_rows: int) -> dict:
    """Per-layer numbers of one traced request (times in ms)."""
    spans = [s for s in tracer.spans if s.request == rid]
    by = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    kids = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    (request,) = by("request")
    (driver,) = by("driver")
    (collect,) = by("collect")
    jobs, stages = by("job"), by("stage")
    # the jobs the collect action runs: the request's execution proper, without
    # jobs the entry call blocks on (percolate's throwaway build and dictionary)
    collect_jobs = {j.id for j in jobs if j.parent == collect.id}
    # driver self: the entry call minus what the named layers below it cover
    # (plan, dictionary, and any Spark job the call blocks on)
    covered = [(s.start, s.end) for s in by("plan") + by("dict") + jobs]
    return {
        "request_ms": request.ms,
        "plan_ms": union_ms([(s.start, s.end) for s in by("plan")]),
        "dict_ms": union_ms([(s.start, s.end) for s in by("dict")]),
        "dict_keys": sum(s.attrs.get("keys", 0) for s in by("dict")),
        "driver_ms": driver.ms,
        "driver_self_ms": driver.ms - union_ms(covered, driver.start, driver.end),
        "build_ms": union_ms([(s.start, s.end) for s in by("build")]),
        "match_ms": union_ms([(s.start, s.end) for s in by("match")]),
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s.attrs["tasks"] for s in stages),
        "job_ms": union_ms([(s.start, s.end) for s in jobs]),
        "job_gap_ms": sum(self_ms(j, [c for c in kids.get(j.id, []) if c.name == "stage"]) for j in jobs),
        "stage_wait_ms": sum(self_ms(s, kids.get(s.id, [])) for s in stages),
        "task_run_ms": sum(s.attrs["run_ms"] for s in stages),
        "collect_run_ms": sum(s.attrs["run_ms"] for s in stages if s.parent in collect_jobs),
        "task_cpu_ms": sum(s.attrs["cpu_ms"] for s in stages),
        "task_deser_ms": sum(s.attrs["deser_ms"] for s in stages),
        "gc_ms": sum(s.attrs["gc_ms"] for s in stages),
        "shuffle_read_bytes": sum(s.attrs["shuffle_read_bytes"] for s in stages),
        "result_bytes": sum(s.attrs["result_bytes"] for s in stages),
        "collect_rows": collect_rows,
    }


def kernel_layers(index, queries, k) -> dict:
    """Kernel counters for ``queries`` on ``index``, from the engine's
    profiler (plans.profile.profile_many, one extra job), plus the number of
    segment rows the kernel's segment filter feeds it (one count job)."""
    from bitfunnel_spark.plans.kernel import _segment_filter
    from bitfunnel_spark.plans.planner import plan_query
    from bitfunnel_spark.plans.profile import profile_many

    metrics, _ = profile_many(index, list(queries), k=k)
    rows = metrics.collect()
    per_group: dict = {}
    for r in rows:
        g = (r["shard"], r["slice"])
        per_group[g] = per_group.get(g, 0.0) + r["kernel_ms"]
    terms = set()
    for q in queries:
        terms |= set(plan_query(index.prepare_query(q)).terms)
    rows_in = index.segments.filter(_segment_filter(index, terms)).count() if terms else 0
    return {
        "kernel_ms": sum(r["kernel_ms"] for r in rows),
        "kernel_ms_max": max(per_group.values(), default=0.0),
        "kernel_rows_in": rows_in,
        "blocks_total": sum(r["blocks_total"] for r in rows),
        "blocks_decoded": sum(r["blocks_decoded"] for r in rows),
    }


COUNTERS = ("dict_keys", "jobs", "stages", "tasks", "shuffle_read_bytes", "result_bytes",
            "collect_rows", "kernel_rows_in", "blocks_total", "blocks_decoded")


def rollup(layers: list[dict], kernels: list[dict]) -> dict:
    """Per-layer metrics of the traced pass: counters are totals, so they
    repeat exactly for a seed; times are means per request (kernel times:
    per profiled request)."""
    out = {}
    for rows in (layers, kernels):
        for name in rows[0] if rows else ():
            vals = [r[name] for r in rows]
            out[name] = sum(vals) if name in COUNTERS else sum(vals) / len(vals)
    out["skip_ratio"] = 1.0 - out.get("blocks_decoded", 0) / max(out.get("blocks_total", 0), 1)
    return out
