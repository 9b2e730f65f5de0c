"""Processor framework: config list → composed DataFrame plan.

The reference runs processors serially per event; nil return = drop
(libbeat/processors/processor.go:189-202), with ``when`` guards
(conditionals.go:60-91) and ``if/then/else`` (conditionals.go:113-175).

Here a Stage declares itself in one of three shapes so conditions can be
fused into the SAME projection instead of branching per row:

- *project*: ``updates(f)`` adds its writes to a :class:`~beats_spark.event.Fields`
  write set (``f.get``/``f.has`` read, ``f.set`` writes, rules see each
  other's writes in order) and ``drops()`` lists deletions; ``apply`` makes
  exactly one write, ``f.apply(where=cond)``, which under ``when`` keeps
  every old value on rows the condition does not match;
- *filter*: ``keep() -> Column`` — under ``when`` it becomes
  ``~cond | keep`` (drop only matching rows);
- *custom*: ``custom(df) -> df`` (joins, mapInPandas etc.) — under ``when``
  the frame is split, transformed, and unioned back.

Everything stays a single declarative plan: Catalyst sees through all of it.
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

    def updates(self, f: Fields) -> None:
        pass

    def drops(self, df: DataFrame) -> list[str]:
        return []

    def keep(self, df: DataFrame) -> Column | None:
        return None

    def custom(self, df: DataFrame) -> DataFrame | None:
        return None

    # -- application ------------------------------------------------------

    def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
        out = self.custom(df)
        if out is not None:
            if cond is None:
                return out
            return self._apply_custom_cond(df, cond)

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

    def _apply_custom_cond(self, df: DataFrame, cond: Column) -> DataFrame:
        tag = f"__when_{next(_cond_counter)}"
        df = df.withColumn(tag, cond)
        matched = self.custom(df.filter(F.col(tag)))
        assert matched is not None
        rest = df.filter(~F.coalesce(F.col(tag), F.lit(False)))
        return matched.unionByName(rest, allowMissingColumns=True).drop(tag)


@dataclass
class FnStage(Stage):
    """Adapter for simple function-shaped stages."""

    name: str = "fn"
    updates_fn: Callable[[DataFrame], dict[str, Column]] | None = None
    drops_fn: Callable[[DataFrame], list[str]] | None = None
    keep_fn: Callable[[DataFrame], Column] | None = None
    custom_fn: Callable[[DataFrame], DataFrame] | None = None

    def updates(self, f: Fields) -> None:
        # the function reads the input frame; its entries are set in order
        for path, value in (self.updates_fn(f.df) if self.updates_fn else {}).items():
            f.set(path, value)

    def drops(self, df: DataFrame) -> list[str]:
        return self.drops_fn(df) if self.drops_fn else []

    def keep(self, df: DataFrame) -> Column | None:
        return self.keep_fn(df) if self.keep_fn else None

    def custom(self, df: DataFrame) -> DataFrame | None:
        return self.custom_fn(df) if self.custom_fn else None


@dataclass
class WhenStage(Stage):
    """``when:`` guard around another stage (WhenProcessor,
    conditionals.go:60-91)."""

    inner: Stage = field(default_factory=Stage)
    when_cfg: dict[str, Any] = field(default_factory=dict)
    name = "when"

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
