"""Spans around the benchmark's calls into each layer, and the per-layer
metrics derived from them.

A span records name, start, end, parent and op id. While a span is open
its Spark job group is ``lakebench-<span id>``; on exit the parent's
group is restored, so every Spark job belongs to exactly one span. Job,
stage and task counts come from ``sc.statusTracker()``; job intervals,
executor run/CPU time and shuffle bytes from the status store
(``sc._jsc.sc().statusStore()``, populated with the UI disabled). Spans
stay in memory and are harvested once, after the timed phase.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from lakebench.procstat import interval_minus, interval_total, median

MB = float(1 << 20)
FAMILIES = ("dedup", "sim", "text", "graph")
PIPELINE_FNS = ("stream2ods_batch", "dwd_increment", "dm_increment")
LAKE_READS = ("snapshot", "incremental", "read_optimized", "changes")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    extra: dict = field(default_factory=dict)
    # filled by harvest()
    jobs: list = field(default_factory=list)  # (start, end) per own job
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_b: int = 0

    @property
    def group(self) -> str:
        return f"lakebench-{self.sid}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled`` is flipped per op, so one run
    can interleave traced and untraced ops."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.enabled = False
        self.op: int | None = None

    @contextmanager
    def span(self, name: str, **extra):
        if not self.enabled:
            yield None
            return
        parent = self.stack[-1] if self.stack else None
        sp = Span(len(self.spans), name, parent, self.op, 0.0, extra=extra)
        self.spans.append(sp)
        self.stack.append(sp.sid)
        if self.sc is not None:
            self.sc.setJobGroup(sp.group, name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.stack.pop()
            if self.sc is not None:
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    p = self.spans[parent]
                    self.sc.setJobGroup(p.group, p.name)

    def inside(self, prefix: str) -> bool:
        return any(self.spans[s].name.startswith(prefix) for s in self.stack)

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    # ------------------------------------------------------------ wrapping

    def wrap_lake(self, cls, dir_bytes) -> None:
        """Wrap ``LakeTable``'s public write/read/compact calls on the
        class. Calls the lake makes into itself stay inside the outer
        span, so only calls entering the layer are counted."""
        tracer = self

        def wrapper(attr, layer):
            orig = getattr(cls, attr)

            def traced(table, *args, **kwargs):
                if not tracer.enabled or tracer.inside("lake."):
                    return orig(table, *args, **kwargs)
                before = dir_bytes(table.path) if layer != "lake.read" else 0
                with tracer.span(layer, method=attr) as sp:
                    out = orig(table, *args, **kwargs)
                if layer == "lake.read":
                    sp.extra.update(df=out, table=table)
                else:
                    sp.extra["added_b"] = dir_bytes(table.path) - before
                return out

            traced.__wrapped__ = orig
            setattr(cls, attr, traced)

        wrapper("write", "lake.write")
        wrapper("compact", "lake.compact")
        for attr in LAKE_READS:
            wrapper(attr, "lake.read")

    # ------------------------------------------------------------ harvest

    def harvest(self) -> None:
        """Attach each span's own jobs, stages and tasks. Each stage counts
        once, for the lowest job id that lists it (later jobs list it as
        skipped)."""
        sc = self.sc
        jsc = sc._jsc.sc()
        try:
            jsc.listenerBus().waitUntilEmpty()
        except Exception:  # private API: fall back to a grace period
            time.sleep(2.0)
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        seen: set[int] = set()
        by_job: list[tuple[int, Span]] = []
        for sp in self.spans:
            for j in tracker.getJobIdsForGroup(sp.group):
                by_job.append((j, sp))
        for j, sp in sorted(by_job, key=lambda t: t[0]):
            jd = store.job(j)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                sp.jobs.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = sids.apply(i)
                if sid in seen:
                    continue
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                seen.add(sid)
                sp.stages += 1
                sp.tasks += sd.numTasks()
                sp.run_s += sd.executorRunTime() / 1e3
                sp.cpu_s += sd.executorCpuTime() / 1e9
                sp.shuffle_b += sd.shuffleWriteBytes()

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(sp)
        return out

    def dump(self, path: str) -> None:
        rows = [
            {
                "id": s.sid, "name": s.name, "parent": s.parent, "op": s.op,
                "start": s.start, "end": s.end, "jobs": len(s.jobs),
                "tasks": s.tasks, "run_s": s.run_s,
                "extra": {k: v for k, v in s.extra.items()
                          if isinstance(v, (int, float, str))},
            }
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump(rows, fh)


def self_time(span: Span, kids: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    return span.dur - interval_total(
        [(max(k.start, span.start), min(k.end, span.end)) for k in kids]
    )


def driver_time(span: Span, kids: list[Span]) -> float:
    """Self time during which no Spark job of the span's own group ran."""
    own = interval_minus((span.start, span.end), [(k.start, k.end) for k in kids])
    return sum(
        interval_total(interval_minus(seg, span.jobs)) for seg in own
    )


def unit_of(metric: str) -> str:
    last = metric.rsplit(".", 1)[1]
    if last.endswith("_mb"):
        return "MB"
    if last == "s" or last.endswith("_s"):
        return "s"
    if last in ("prune_ratio", "task_growth", "driver_share"):
        return "ratio"
    return "count"


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(tr: Tracer, read_files) -> dict[str, float]:
    """Per-layer metrics over the traced ops. ``read_files(span)`` returns
    ``(files read, files of the unpredicated snapshot)`` for a lake.read
    span, or None when it cannot be computed."""
    kids = tr.children()
    by = lambda name: [s for s in tr.spans if s.name == name]  # noqa: E731
    m: dict[str, float] = {}

    w = by("lake.write")
    m["lake.write.calls"] = len(w)
    m["lake.write.p50_s"] = median([s.dur for s in w]) if w else 0.0
    m["lake.write.jobs_per_call"] = _mean(len(s.jobs) for s in w)
    m["lake.write.tasks_per_call"] = _mean(s.tasks for s in w)
    m["lake.write.driver_s"] = _mean(driver_time(s, kids.get(s.sid, [])) for s in w)
    m["lake.write.job_s"] = _mean(interval_total(s.jobs) for s in w)
    m["lake.write.shuffle_mb"] = _mean(s.shuffle_b / MB for s in w)
    m["lake.write.added_mb"] = _mean(s.extra.get("added_b", 0) / MB for s in w)
    q = max(len(w) // 4, 1)
    first = _mean(s.tasks for s in w[:q])
    m["lake.write.task_growth"] = (
        _mean(s.tasks for s in w[-q:]) / first if len(w) >= 2 and first else 0.0
    )

    r = by("lake.read")
    m["lake.read.calls"] = len(r)
    m["lake.read.plan_s"] = _mean(s.dur for s in r)
    m["lake.read.plan_jobs"] = _mean(len(s.jobs) for s in r)
    counted = [c for c in (read_files(s) for s in r) if c is not None]
    m["lake.read.files"] = _mean(c[0] for c in counted)
    total = sum(c[1] for c in counted)
    m["lake.read.prune_ratio"] = sum(c[0] for c in counted) / total if total else 0.0

    c = by("lake.compact")
    m["lake.compact.calls"] = len(c)
    m["lake.compact.s"] = _mean(s.dur for s in c)
    m["lake.compact.jobs"] = _mean(len(s.jobs) for s in c)
    m["lake.compact.rewritten_mb"] = _mean(s.extra.get("added_b", 0) / MB for s in c)

    for fn in PIPELINE_FNS:
        p = by(f"pipelines.{fn}")
        m[f"pipelines.{fn}.self_s"] = _mean(self_time(s, kids.get(s.sid, [])) for s in p)
        m[f"pipelines.{fn}.jobs"] = _mean(len(s.jobs) for s in p)

    for fam in FAMILIES:
        o = by(f"operators.{fam}")
        stages = sum(s.stages for s in o)
        m[f"operators.{fam}.s"] = _mean(s.dur for s in o)
        m[f"operators.{fam}.jobs"] = _mean(len(s.jobs) for s in o)
        m[f"operators.{fam}.tasks_per_stage"] = (
            sum(s.tasks for s in o) / stages if stages else 0.0
        )
        m[f"operators.{fam}.driver_s"] = _mean(
            driver_time(s, kids.get(s.sid, [])) for s in o
        )
        m[f"operators.{fam}.shuffle_mb"] = _mean(s.shuffle_b / MB for s in o)

    e = by("exec")
    m["exec.s"] = _mean(s.dur for s in e)
    m["exec.jobs"] = _mean(len(s.jobs) for s in e)
    m["exec.tasks"] = _mean(s.tasks for s in e)
    m["exec.executor_run_s"] = _mean(s.run_s for s in e)
    m["exec.executor_cpu_s"] = _mean(s.cpu_s for s in e)
    m["exec.shuffle_mb"] = _mean(s.shuffle_b / MB for s in e)

    ops = [s for s in tr.spans if s.parent is None]
    stages = sum(s.stages for s in tr.spans)
    wall = sum(s.dur for s in ops)
    busy = 0.0
    for op in ops:
        jobs = [j for s in tr.spans if s.op == op.op for j in s.jobs]
        busy += interval_total(
            [(max(a, op.start), min(b, op.end)) for a, b in jobs if b > op.start]
        )
    m["spark.jobs_per_op"] = _mean(
        sum(len(s.jobs) for s in tr.spans if s.op == op.op) for op in ops
    )
    m["spark.tasks_per_stage"] = (
        sum(s.tasks for s in tr.spans) / stages if stages else 0.0
    )
    m["spark.executor_run_s"] = sum(s.run_s for s in tr.spans) / len(ops) if ops else 0.0
    m["spark.driver_share"] = (wall - busy) / wall if wall else 0.0
    return m


def op_residuals(tr: Tracer) -> list[float]:
    """Per traced op: op wall minus (sum of span self times + untraced
    gaps). The root span's self time *is* the untraced gap, so this is
    zero up to clock rounding when spans nest properly."""
    kids = tr.children()
    out = []
    for op in (s for s in tr.spans if s.parent is None):
        total = sum(
            self_time(s, kids.get(s.sid, [])) for s in tr.spans if s.op == op.op
        )
        out.append(op.dur - total)
    return out
