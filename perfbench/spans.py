"""Spans recorded around calls into the pipeline's layers.

A span records its name, start, end, parent and the run id; spans stay in
memory and are written out when the run ends.  The benchmark wraps the
layer functions from the outside (``Tracer.patch``), so no program file
knows it is being traced.  Each wrapped layer forces its output inside the
span (``localCheckpoint(eager=True)``) so the span holds the layer's work,
and tags the Spark jobs it starts with the span's id as job group, so the
driver UI's REST API can attribute shuffle bytes and task times to it.
"""

from __future__ import annotations

import functools
import itertools
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional

from pyspark.sql import DataFrame


@dataclass
class Span:
    id: str
    name: str
    parent: Optional[str]
    run_id: str
    start: float
    cpu_start: float
    end: float = 0.0
    cpu_end: float = 0.0
    rows_out: int = 0
    attrs: Dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def cpu_s(self) -> float:
        return self.cpu_end - self.cpu_start


def self_times(spans: List[Span]) -> Dict[str, tuple]:
    """span id -> (self wall s, self CPU s): a span's duration minus the
    part its direct children cover (children never overlap: one driver
    thread opens them in sequence)."""
    child_wall: Dict[str, float] = {}
    child_cpu: Dict[str, float] = {}
    for s in spans:
        if s.parent is not None:
            child_wall[s.parent] = child_wall.get(s.parent, 0.0) + s.wall_s
            child_cpu[s.parent] = child_cpu.get(s.parent, 0.0) + s.cpu_s
    return {s.id: (s.wall_s - child_wall.get(s.id, 0.0),
                   s.cpu_s - child_cpu.get(s.id, 0.0)) for s in spans}


class Tracer:
    """Opens nested spans; ``cpu`` returns the process tree's CPU seconds
    and ``spark`` (optional) receives each span's id as job group."""

    def __init__(self, run_id: str, cpu: Callable[[], float],
                 spark=None, clock: Callable[[], float] = time.perf_counter):
        self.run_id = run_id
        self.cpu = cpu
        self.spark = spark
        self.clock = clock
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self._ids = itertools.count()

    def _set_group(self, span: Optional[Span]):
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(span.id, span.name)

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(f"{self.run_id}.{next(self._ids)}", name, parent,
                    self.run_id, self.clock(), self.cpu())
        self._stack.append(span)
        self.spans.append(span)
        self._set_group(span)
        return span

    def close(self, span: Span) -> None:
        span.end, span.cpu_end = self.clock(), self.cpu()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        self._set_group(self._stack[-1] if self._stack else None)

    def wrap(self, name: str, fn: Callable, force: bool,
             after: Optional[Callable] = None) -> Callable:
        """``fn`` inside a span; with ``force`` a DataFrame result is
        materialized inside the span.  ``after(span, args, result)`` runs
        once the span has closed."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.open(name)
            try:
                out = fn(*args, **kwargs)
                if force and isinstance(out, DataFrame):
                    out = out.localCheckpoint(eager=True)
            finally:
                self.close(span)
            if after is not None:
                after(span, args, out)
            return out

        return traced

    def patch(self, targets) -> Callable[[], None]:
        """Replace ``(owner, attribute, span name, force, after)`` targets
        by traced wrappers; returns the function that restores them."""
        saved = []
        for owner, attr, name, force, after in targets:
            orig = getattr(owner, attr)
            saved.append((owner, attr, orig))
            setattr(owner, attr, self.wrap(name, orig, force, after))

        def restore():
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

        return restore
