"""Processor framework: config list → composed DataFrame plan.

The reference runs processors serially per event; nil return = drop
(libbeat/processors/processor.go:189-202), with ``when`` guards
(conditionals.go:60-91) and ``if/then/else`` (conditionals.go:113-175).

Here a Stage declares itself in one of three shapes so conditions can be
fused into the SAME pass instead of branching per row:

- *project*: ``updates(f)`` adds its writes and deletes to a
  :class:`~beats_spark.event.Fields` write set (``f.get``/``f.has`` read,
  ``f.set`` writes, ``f.drop`` deletes, rules see each other's writes in
  order); ``apply`` makes exactly one write, ``f.apply(where=cond)``;
- *filter*: ``keep() -> Column`` — under ``when`` it becomes
  ``~cond | keep`` (drop only matching rows);
- *frame*: an ``apply(df, cond)`` override (joins, windows, mapInPandas)
  that does its frame-level work on a ``Fields``' frame — temp columns
  from ``f.temps``/``f.temp``, a join that probes the key masked by
  ``F.when(cond, key)`` — and ends in one ``f.apply(where=cond)``, which
  leaves the temps out.

``when`` means the same thing in every shape: rows where the condition is
false or NULL keep every old value, in one pass over the input. Everything
stays a single declarative plan: Catalyst sees through all of it.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, functions as F

from beats_spark.conditions import check_condition, compile_condition
from beats_spark.event import Fields


class Stage:
    """Base processor stage. Subclasses override one shape."""

    name = "stage"
    # runs an action on its input while the plan is built: Pipeline.run
    # then counts the input itself (the action fires its Observation first)
    samples_input = False

    def updates(self, f: Fields) -> None:
        pass

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
        return f.apply(where=cond)


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
        c = compile_condition(df, self.cond_cfg)
        if cond is not None:
            c = cond & c
        f = Fields(df)
        tag, = f.temps([F.coalesce(c, F.lit(False))])
        df = f.df
        for st in self.then_stages:
            df = st.apply(df, tag)
        for st in self.else_stages:
            df = st.apply(df, ~tag)
        f.df = df
        return f.apply()


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
        check_condition(when_cfg)
        stage = WhenStage(inner=stage, when_cfg=when_cfg)
        stage.name = f"when({name})"
    return stage


def build_chain(processors_cfg: list[dict[str, Any]]) -> list[Stage]:
    """YAML-shaped list → stages (processors.New, processor.go:72-123)."""
    stages: list[Stage] = []
    for block in processors_cfg:
        if "if" in block:
            check_condition(block["if"])
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
