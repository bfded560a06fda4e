"""Layer spans recorded from outside the program.

A span is a timed interval with a parent. Each span runs its Spark work
under its own job group, and when it closes the tracer reads the stages of
that group from the in-process status store (``sc.statusStore()``), before
the store's 1000-stage retention can evict them. Spans stay in memory
and are reduced (``spark_totals``, the workloads' ``layer_metrics``) at the
end of the run.

Layer boundaries inside the program are reached by replacing module
attributes with wrappers (``patched``): the program calls the wrapper by
name, so nothing inside the package changes.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Span:
    __slots__ = ("name", "layer", "parent", "t0", "t1", "jobs", "stages", "children_s")

    def __init__(self, name, layer, parent):
        self.name, self.layer, self.parent = name, layer, parent
        self.t0 = self.t1 = 0.0
        self.jobs = 0
        self.stages: list[dict] = []
        self.children_s = 0.0

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.wall - self.children_s


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only runs the body."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[tuple[Span, str]] = []
        self._seen_stages: set[int] = set()
        self._n = 0

    def open(self, name: str, layer: str) -> Span:
        """Start a span under the innermost open one; ``close`` ends it."""
        parent = self._stack[-1][0] if self._stack else None
        s = Span(name, layer, parent)
        self._n += 1
        group = f"perfbench-{self._n}"
        self.sc.setJobGroup(group, name)
        self._stack.append((s, group))
        s.t0 = time.time()
        return s

    def close(self, s: Span) -> None:
        s.t1 = time.time()
        top, group = self._stack.pop()
        if top is not s:
            raise RuntimeError(f"span {s.name} closed out of order")
        if self._stack:
            pspan, pgroup = self._stack[-1]
            self.sc.setJobGroup(pgroup, pspan.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        if s.parent is not None:
            s.parent.children_s += s.wall
        self._collect(s, group)
        self.spans.append(s)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        s = self.open(name, layer)
        try:
            yield s
        finally:
            self.close(s)

    def _collect(self, s: Span, group: str) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        ids = tracker.getJobIdsForGroup(group)
        s.jobs = len(ids)
        for jid in ids:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                if sid in self._seen_stages:
                    continue
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # the stage never ran (skipped)
                    continue
                status = st.status().toString()
                if status not in ("COMPLETE", "FAILED"):
                    continue
                self._seen_stages.add(sid)
                sub, done = st.submissionTime(), st.completionTime()
                s.stages.append(
                    {
                        "tasks": st.numCompleteTasks() + st.numFailedTasks(),
                        "failed_tasks": st.numFailedTasks(),
                        "run_s": st.executorRunTime() / 1e3,
                        "cpu_s": st.executorCpuTime() / 1e9,
                        "shuffle_write_mb": st.shuffleWriteBytes() / 1e6,
                        "shuffle_read_mb": st.shuffleReadBytes() / 1e6,
                        "spill_mb": st.diskBytesSpilled() / 1e6,
                        "t0": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                        "t1": done.get().getTime() / 1e3 if done.isDefined() else None,
                    }
                )

    def descendants(self, root: Span) -> list[Span]:
        """``root`` and every span under it."""
        out = []
        for s in self.spans:
            p = s
            while p is not None and p is not root:
                p = p.parent
            if p is root:
                out.append(s)
        return out


def spark_totals(spans: list[Span], t0: float, t1: float) -> dict:
    """Status-store counts over ``spans``, plus the driver-only time of the
    interval [t0, t1]: its wall time during which no stage was running."""
    stages = [st for s in spans for st in s.stages]
    out = {
        "jobs": sum(s.jobs for s in spans),
        "stages": len(stages),
        "tasks": sum(st["tasks"] for st in stages),
        "failed_tasks": sum(st["failed_tasks"] for st in stages),
        "exec_run_s": sum(st["run_s"] for st in stages),
        "exec_cpu_s": sum(st["cpu_s"] for st in stages),
        "shuffle_write_mb": sum(st["shuffle_write_mb"] for st in stages),
        "shuffle_read_mb": sum(st["shuffle_read_mb"] for st in stages),
        "spill_mb": sum(st["spill_mb"] for st in stages),
    }
    out["offcpu_s"] = out["exec_run_s"] - out["exec_cpu_s"]
    busy, end = 0.0, t0
    for a, b in sorted(
        (max(st["t0"], t0), min(st["t1"], t1))
        for st in stages
        if st["t0"] is not None and st["t1"] is not None
    ):
        if b <= end:
            continue
        busy += b - max(a, end)
        end = b
    out["driver_s"] = (t1 - t0) - busy
    return out


def _wrap(tracer: Tracer, fn, span_name: str, layer: str):
    def wrapped(*args, **kwargs):
        with tracer.span(span_name, layer):
            return fn(*args, **kwargs)

    return wrapped


@contextmanager
def patched(tracer: Tracer, targets):
    """Replace each ``module.attr`` with a wrapper that runs it inside a
    span, and restore it on exit. ``targets``: (module, attr, span_name,
    layer) tuples."""
    saved = [(m, a, getattr(m, a)) for m, a, _, _ in targets]
    try:
        for (m, a, name, layer), (_, _, fn) in zip(targets, saved):
            setattr(m, a, _wrap(tracer, fn, name, layer))
        yield
    finally:
        for m, a, fn in saved:
            setattr(m, a, fn)
