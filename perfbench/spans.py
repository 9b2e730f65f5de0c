"""Span recorder for the traced run.

Spans are recorded from the benchmark's side of each call into the library:
``instrument`` swaps the public entry points of each layer for wrappers
that open a span, and puts them back on exit. Spans stay in memory; ``dump``
writes them out once the run is over.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time
from dataclasses import asdict, dataclass, field
from typing import Any, Callable


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: int | None
    start: float
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans. ``op`` tags every span opened while it is set,
    so spans of one operation share an identifier. ``describe`` is called
    with a label on every span boundary that can start Spark jobs (and with
    the enclosing label, or None, on exit), which is how the event log's
    jobs are tied back to spans."""

    def __init__(self, describe: Callable[[str | None], None] | None = None):
        self.spans: list[Span] = []
        self.enabled = True
        self.op: int | None = None
        self._stack: list[Span] = []
        self._describe = describe

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True, **attrs: Any):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(id=len(self.spans), parent=parent.id if parent else None,
                 name=name, op=self.op, start=time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        if jobs and self._describe:
            self._describe(label(s))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if jobs and self._describe:
                self._describe(self.current_label())

    def current_label(self) -> str | None:
        return label(self._stack[-1]) if self._stack else None

    def wrap(self, fn: Callable, name: str, jobs: bool = True,
             attrs: Callable[..., dict[str, Any]] | None = None) -> Callable:
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            extra = attrs(*args, **kwargs) if attrs else {}
            with self.span(name, jobs=jobs, **extra):
                return fn(*args, **kwargs)
        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def label(s: Span) -> str:
    return f"{s.name}#{s.id}"


def span_id_of(description: str | None) -> int | None:
    """Inverse of ``label``: the span id a job description names."""
    m = re.search(r"#(\d+)$", description or "")
    return int(m.group(1)) if m else None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


def ancestors(spans: list[Span], sid: int | None):
    while sid is not None:
        yield spans[sid]
        sid = spans[sid].parent


def stage_key(index: int, name: str) -> str:
    """Metric-safe name of the ``index``-th top-level stage of a chain."""
    return f"s{index:02d}_" + re.sub(r"[^A-Za-z0-9]+", "_", name).strip("_")


@contextlib.contextmanager
def instrument(tracer: Tracer):
    """Wrap each pipeline-side layer's entry points for the duration of the
    block. The ``ml`` ops are timed by the workload itself, with the
    ``noop`` write that executes them inside the span."""
    from beats_spark import pipeline
    from beats_spark.catalog import ParquetCatalog

    build_chain = pipeline.build_chain

    def traced_build_chain(cfg):
        stages = build_chain(cfg)
        for i, st in enumerate(stages):
            # an instance attribute shadows the class's apply for this stage
            st.apply = tracer.wrap(st.apply, f"processors.stage.{stage_key(i, st.name)}")
        return stages

    second = lambda self, _first, table, *a, **k: {"table": table}  # noqa: E731
    first = lambda self, table, *a, **k: {"table": table}  # noqa: E731
    patches = [
        (pipeline, "build_chain", tracer.wrap(traced_build_chain, "processors.build_chain")),
        (pipeline, "apply_chain", tracer.wrap(pipeline.apply_chain, "processors.apply_chain")),
        (pipeline, "compile_selector", tracer.wrap(pipeline.compile_selector, "selector.compile")),
        (pipeline.Pipeline, "transform", tracer.wrap(pipeline.Pipeline.transform, "pipeline.transform")),
        (pipeline.Pipeline, "run", tracer.wrap(pipeline.Pipeline.run, "pipeline.run")),
        (pipeline.Pipeline, "run_incremental",
         tracer.wrap(pipeline.Pipeline.run_incremental, "pipeline.run_incremental")),
        (ParquetCatalog, "append", tracer.wrap(ParquetCatalog.append, "catalog.append", attrs=second)),
        (ParquetCatalog, "adopt_directory",
         tracer.wrap(ParquetCatalog.adopt_directory, "catalog.adopt", attrs=second)),
        (ParquetCatalog, "read", tracer.wrap(ParquetCatalog.read, "catalog.read", attrs=first)),
        # no Spark job runs inside these three: skip the job-description calls
        (ParquetCatalog, "snapshots", tracer.wrap(ParquetCatalog.snapshots, "catalog.snapshots", jobs=False)),
        (ParquetCatalog, "incomplete_runs",
         tracer.wrap(ParquetCatalog.incomplete_runs, "catalog.incomplete_runs", jobs=False)),
        (ParquetCatalog, "rollback_run",
         tracer.wrap(ParquetCatalog.rollback_run, "catalog.rollback", jobs=False)),
    ]
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in patches]
    try:
        for obj, attr, new in patches:
            setattr(obj, attr, new)
        yield tracer
    finally:
        for obj, attr, old in saved:
            setattr(obj, attr, old)
