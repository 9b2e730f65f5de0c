"""Output routing: ordered rule list → a single ``_sink`` Column.

Mirrors outil.Selector (libbeat/outputs/outil/select.go): an ordered list of
rules; for each event the first rule producing a non-empty string wins
(select.go:339-352). Each rule is an event-format string + optional
``mappings`` lookup + ``default`` + ``when`` condition (select.go:258-333),
with optional case folding (SelectorCase — ES index names are lowercased).

The whole selector compiles to ONE null-propagating expression tree
(coalesce over per-rule ``when`` columns) — a single projection, fully
codegen'd, no shuffle.

Rule config shape::

    {"sink": "sink_%{[tool]}",            # format string (or constant)
     "mappings": {"search": "sink_search"},  # optional exact-match rewrite
     "default": "sink_other",             # used when fmtstr fails or
                                          # mapping misses
     "when": {...condition AST...},       # optional guard
     "case": "lower"}                     # optional: lower|upper
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from beats_spark.conditions import check_condition, compile_condition
from beats_spark.fmtstr import compile_fmtstr


def _nonempty(c: Column) -> Column:
    return F.when(c == F.lit(""), F.lit(None)).otherwise(c)


def _format(rule: dict[str, Any]) -> str:
    fmt = rule.get("sink") or rule.get("index") or rule.get("topic")
    if fmt is None:
        raise ValueError(f"routing rule needs sink/index/topic: {rule!r}")
    return fmt


def check_routes(rules: list[dict[str, Any]]) -> None:
    """Raise the ``ValueError`` :func:`compile_selector` would raise for
    ``rules`` on any frame: a rule without sink/index/topic, or a bad
    ``when``. The pipeline calls it when it is built."""
    for rule in rules:
        _format(rule)
        if rule.get("when") is not None:
            check_condition(rule["when"])


def compile_rule(df: DataFrame, rule: dict[str, Any]) -> Column:
    val = compile_fmtstr(df, _format(rule))

    mappings = rule.get("mappings")
    if mappings:
        m = F.create_map(*[F.lit(x) for kv in mappings.items() for x in kv])
        # mapping miss → NULL → falls through to default (select.go:227-243)
        val = m[val]

    default = rule.get("default")
    if default is not None:
        val = F.coalesce(val, F.lit(str(default)))

    case = (rule.get("case") or "").lower()  # tolerate explicit `case: null`
    if case == "lower":
        val = F.lower(val)
    elif case == "upper":
        val = F.upper(val)

    val = _nonempty(val)
    when_cfg = rule.get("when")
    if when_cfg is not None:
        val = F.when(compile_condition(df, when_cfg), val)
    return val


def compile_selector(df: DataFrame, rules: list[dict[str, Any]],
                     fallback: str | None = None) -> Column:
    """First non-empty rule result wins; NULL when no rule fires (the
    caller routes those to the dead-letter table or drops them, matching
    the ES output's empty-index error path)."""
    cols = [compile_rule(df, r) for r in rules]
    if fallback is not None:
        cols.append(F.lit(fallback))
    if not cols:
        return F.lit(None).cast("string")
    return F.coalesce(*cols) if len(cols) > 1 else cols[0]
