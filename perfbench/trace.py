"""Tracing from outside the program: spans, a counting lister and the
wrappers that put spans around the program's public functions.

A span records its name, phase, parent and wall interval. While a span
is open, Spark jobs run under the job group ``pb:<span id>``, so the
event log can attribute each job to the innermost span that was open
when it started. Spans stay in memory and are written out at the end of
the run.

Untraced runs use the same lister (with its per-page delay) and no
spans, no wrappers and no event log.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass

from pyspark import AccumulatorParam

# one object-store LIST round trip per page of up to 1000 entries
PAGE_ENTRIES = 1000
PAGE_DELAY_S = 0.005


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    phase: str
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder; ``enabled=False`` makes every span a no-op."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.phase = "setup"

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent.span_id if parent else None, name, self.phase, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"pb:{s.span_id}", name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"pb:{parent.span_id}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, str]], tracer: Tracer):
    """Replace ``owner.attr`` with a span-wrapped version for the block.

    Module globals are looked up at call time, so wrapping
    ``runner.upload_round`` also wraps the call ``run_once`` makes."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, name in targets:
            setattr(owner, attr, tracer.wrap(getattr(owner, attr), name))
        yield
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)


class _SetParam(AccumulatorParam):
    def zero(self, value):
        return set()

    def addInPlace(self, a, b):
        a |= b
        return a


class BenchLister:
    """``list_dir_local`` plus a fixed delay per page of entries.

    With ``counting=True`` (traced runs) it also counts calls, entries,
    busy seconds and distinct directories through accumulators; the
    instance is pickled into Spark tasks, where the listing runs."""

    def __init__(self, spark=None, counting: bool = False):
        self.accs = None
        if counting:
            sc = spark.sparkContext
            self.accs = (sc.accumulator(0), sc.accumulator(0), sc.accumulator(0.0),
                         sc.accumulator(set(), _SetParam()))

    def __call__(self, path: str):
        from lakeview_spark.sources.listing import list_dir_local

        t0 = time.perf_counter()
        entries = list_dir_local(path)
        time.sleep(PAGE_DELAY_S * max(1, -(-len(entries) // PAGE_ENTRIES)))
        if self.accs is not None:
            calls, n, busy, dirs = self.accs
            calls.add(1)
            n.add(len(entries))
            busy.add(time.perf_counter() - t0)
            dirs.add({path})
        return entries

    def take(self) -> dict:
        """Counts since the last call (driver side), then reset."""
        calls, n, busy, dirs = self.accs
        out = {"calls": calls.value, "entries": n.value, "busy_s": busy.value,
               "dirs": len(dirs.value)}
        calls.value, n.value, busy.value, dirs.value = 0, 0, 0.0, set()
        return out


def subtree(spans: list[Span], roots: list[Span]) -> set[int]:
    """Ids of the given spans and all their descendants."""
    children: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s.span_id)
    ids, todo = set(), [s.span_id for s in roots]
    while todo:
        sid = todo.pop()
        ids.add(sid)
        todo.extend(children.get(sid, []))
    return ids


def jobs_under(jobs, span_ids: set[int]) -> list:
    return [j for j in jobs if j.group and j.group.startswith("pb:") and int(j.group[3:]) in span_ids]


def spark_metrics(jobs, spans: list[Span], units: list[Span]) -> dict[str, float]:
    """Spark and Python-worker totals of the jobs run under ``units`` (and
    their child spans), and the part of the units' wall time that no
    Spark job covered."""
    from perfbench.eventlog import covered_ms

    sel = jobs_under(jobs, subtree(spans, units))
    intervals = [(j.submit_ms, j.end_ms) for j in sel]
    gap = sum(
        u.seconds - covered_ms(intervals, int(u.start * 1000), int(u.end * 1000)) / 1000.0
        for u in units
    )
    py = {k: sum(j.python.get(k, 0.0) for j in sel) for k in
          ("python_init_ms", "python_start_ms", "python_run_ms", "python_sent_b")}
    return {
        "spark.jobs": len(sel),
        "spark.tasks": sum(j.tasks for j in sel),
        "spark.executor_cpu_s": sum(j.cpu_ns for j in sel) / 1e9,
        "spark.shuffle_write_mb": sum(j.shuffle_write_b for j in sel) / 1e6,
        "spark.spill_mb": sum(j.spill_b for j in sel) / 1e6,
        "driver.gap_s": gap,
        "python.worker_init_s": (py["python_init_ms"] + py["python_start_ms"]) / 1000.0,
        "python.worker_run_s": py["python_run_ms"] / 1000.0,
        "python.mb_sent": py["python_sent_b"] / 1e6,
    }


def span_total(spans: list[Span], ids: set[int], name: str) -> tuple[int, float]:
    """(count, seconds) of the spans called ``name`` among ``ids``."""
    sel = [s for s in spans if s.span_id in ids and s.name == name]
    return len(sel), sum(s.seconds for s in sel)
