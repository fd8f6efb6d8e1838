"""In-memory spans for the traced run, and the wrappers that record them
around the package's superstep machinery.

A span is (id, name, parent, start, end, run id, attrs).  While a span is
open, every Spark job the driver thread submits carries the span's job
group (``pb<id>``), so the event log attributes stages and tasks to it.
"""

from __future__ import annotations

import functools
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    run_id: str
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"pb{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans; ``sc`` (a SparkContext) enables job-group tagging."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans),
            name=name,
            parent=parent.id if parent else None,
            start=time.time(),
            run_id=self.run_id,
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def subtree(self, root: Span) -> list[Span]:
        kids = self.children()
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, ()))
        return out


def union_length(intervals) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time = duration minus the part of it its child spans cover."""
    by_parent: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            by_parent.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in by_parent.get(s.id, ())
            if c.end > s.start and c.start < s.end
        )
        out[s.id] = s.duration - covered
    return out


def round_seconds(op: Span, boundaries: list[Span]) -> list[float]:
    """Round times of a superstep loop: the gaps between consecutive round
    boundaries (ends of ``iterate`` step calls, or of ``cut_lineage`` for
    hand-rolled loops), the first measured from the op's start."""
    ends = sorted(b.end for b in boundaries)
    prev, out = op.start, []
    for e in ends:
        out.append(e - prev)
        prev = e
    return out


def _dir_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total / 1e6


def install_wrappers(tracer: Tracer) -> None:
    """Wrap ``cut_lineage``, ``iterate`` (and each step it calls) and
    ``CheckpointManager.save`` in spans.  The operator modules bind these
    names at import, so this must run before any of them is imported."""
    bound = [m for m in sys.modules if m.startswith("dachshund_spark.operators")]
    if bound:
        raise RuntimeError(f"wrappers installed after import of {bound}")
    from dachshund_spark.plans import superstep

    cut_lineage = superstep.cut_lineage
    iterate = superstep.iterate
    save = superstep.CheckpointManager.save

    @functools.wraps(cut_lineage)
    def traced_cut(*args, **kwargs):
        with tracer.span("superstep.cut"):
            return cut_lineage(*args, **kwargs)

    @functools.wraps(iterate)
    def traced_iterate(state, step, *args, **kwargs):
        def traced_step(st, i):
            with tracer.span("superstep.round", i=i):
                return step(st, i)

        with tracer.span("superstep.iterate"):
            return iterate(state, traced_step, *args, **kwargs)

    @functools.wraps(save)
    def traced_save(self, df, metrics):
        with tracer.span("superstep.ckpt_write") as s:
            out = save(self, df, metrics)
        s.attrs["mb"] = _dir_mb(self._step_path(metrics.superstep))
        return out

    superstep.cut_lineage = traced_cut
    superstep.iterate = traced_iterate
    superstep.CheckpointManager.save = traced_save
