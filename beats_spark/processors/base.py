"""Processor framework: config list → composed DataFrame plan.

The reference runs processors serially per event; nil return = drop
(libbeat/processors/processor.go:189-202), with ``when`` guards
(conditionals.go:60-91) and ``if/then/else`` (conditionals.go:113-175).

Here a Stage declares itself in one of three shapes so conditions can be
fused into the SAME pass instead of branching per row:

- *project*: ``updates(f)`` adds its writes to a :class:`~beats_spark.event.Fields`
  write set (``f.get``/``f.has`` read, ``f.set`` writes, rules see each
  other's writes in order) and ``drops()`` lists deletions; ``apply`` makes
  exactly one write, ``f.apply(where=cond)``;
- *filter*: ``keep() -> Column`` — under ``when`` it becomes
  ``~cond | keep`` (drop only matching rows);
- *frame*: an ``apply(df, cond)`` override (joins, windows, mapInPandas)
  that does its frame-level work on the whole input — a join probes the
  key masked by ``F.when(cond, key)`` — and ends in one
  ``Fields.apply(where=cond)``.

``when`` means the same thing in every shape: rows where the condition is
false or NULL keep every old value, in one pass over the input. Everything
stays a single declarative plan: Catalyst sees through all of it.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F

from beats_spark.conditions import compile_condition
from beats_spark.event import Fields, drop_path

_cond_counter = itertools.count()


class Stage:
    """Base processor stage. Subclasses override one shape."""

    name = "stage"
    # runs an action on its input while the plan is built: Pipeline.run
    # then counts the input itself (the action fires its Observation first)
    samples_input = False

    def updates(self, f: Fields) -> None:
        pass

    def drops(self, df: DataFrame) -> list[str]:
        return []

    def keep(self, df: DataFrame) -> Column | None:
        return None

    # -- application ------------------------------------------------------

    def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
        keep = self.keep(df)
        if keep is not None:
            # NULL-safe guard: a when-condition that evaluates NULL per row
            # (e.g. equals' try_cast failing) means "condition false" in the
            # reference — ~NULL would otherwise stay NULL and the filter
            # would DROP the row
            return df.filter(
                keep if cond is None
                else (~F.coalesce(cond, F.lit(False)) | keep)
            )

        f = Fields(df)
        self.updates(f)
        drops = self.drops(df)
        if cond is not None:
            # per-row "delete" under a condition: null out for matches
            for path in drops:
                f.set(path, F.lit(None))
        df = f.apply(where=cond)
        if cond is None:
            for path in drops:
                df = drop_path(df, path)
        return df


@dataclass
class FnStage(Stage):
    """Adapter for simple function-shaped stages."""

    name: str = "fn"
    updates_fn: Callable[[DataFrame], dict[str, Column]] | None = None
    drops_fn: Callable[[DataFrame], list[str]] | None = None
    keep_fn: Callable[[DataFrame], Column] | None = None

    def updates(self, f: Fields) -> None:
        # the function reads the input frame; its entries are set in order
        for path, value in (self.updates_fn(f.df) if self.updates_fn else {}).items():
            f.set(path, value)

    def drops(self, df: DataFrame) -> list[str]:
        return self.drops_fn(df) if self.drops_fn else []

    def keep(self, df: DataFrame) -> Column | None:
        return self.keep_fn(df) if self.keep_fn else None


@dataclass
class WhenStage(Stage):
    """``when:`` guard around another stage (WhenProcessor,
    conditionals.go:60-91)."""

    inner: Stage = field(default_factory=Stage)
    when_cfg: dict[str, Any] = field(default_factory=dict)
    name = "when"

    @property
    def samples_input(self) -> bool:
        return self.inner.samples_input

    def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
        c = compile_condition(df, self.when_cfg)
        if cond is not None:
            c = cond & c
        return self.inner.apply(df, c)


@dataclass
class IfThenElseStage(Stage):
    """``if/then/else`` (IfThenElseProcessor, conditionals.go:113-175).

    The condition is materialized into a temp column FIRST so then-stages
    that rewrite fields the condition reads can't change which branch a row
    takes — matching the reference's evaluate-then-execute order.
    """

    cond_cfg: dict[str, Any] = field(default_factory=dict)
    then_stages: list[Stage] = field(default_factory=list)
    else_stages: list[Stage] = field(default_factory=list)
    name = "if"

    @property
    def samples_input(self) -> bool:
        return any(st.samples_input for st in self.then_stages + self.else_stages)

    def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
        tag = f"__if_{next(_cond_counter)}"
        c = compile_condition(df, self.cond_cfg)
        if cond is not None:
            c = cond & c
        df = df.withColumn(tag, F.coalesce(c, F.lit(False)))
        for st in self.then_stages:
            df = st.apply(df, F.col(tag))
        for st in self.else_stages:
            df = st.apply(df, ~F.col(tag))
        return df.drop(tag)


# -- registry --------------------------------------------------------------

_REGISTRY: dict[str, Callable[[dict[str, Any]], Stage]] = {}


def register(name: str):
    def deco(builder: Callable[[dict[str, Any]], Stage]):
        _REGISTRY[name] = builder
        return builder
    return deco


def build_stage(name: str, cfg: dict[str, Any]) -> Stage:
    if name not in _REGISTRY:
        raise ValueError(f"unknown processor: {name!r} (have: {sorted(_REGISTRY)})")
    cfg = dict(cfg or {})
    when_cfg = cfg.pop("when", None)
    stage = _REGISTRY[name](cfg)
    stage.name = name
    if when_cfg is not None:
        stage = WhenStage(inner=stage, when_cfg=when_cfg)
        stage.name = f"when({name})"
    return stage


def build_chain(processors_cfg: list[dict[str, Any]]) -> list[Stage]:
    """YAML-shaped list → stages (processors.New, processor.go:72-123)."""
    stages: list[Stage] = []
    for block in processors_cfg:
        if "if" in block:
            then_cfg = block.get("then", [])
            else_cfg = block.get("else", [])
            stages.append(
                IfThenElseStage(
                    cond_cfg=block["if"],
                    then_stages=build_chain(then_cfg),
                    else_stages=build_chain(else_cfg),
                )
            )
            continue
        if len(block) != 1:
            raise ValueError(f"processor block must have one key: {block!r}")
        (name, cfg), = block.items()
        stages.append(build_stage(name, cfg))
    return stages


def apply_chain(df: DataFrame, stages: list[Stage]) -> DataFrame:
    for st in stages:
        df = st.apply(df)
    return df
