"""The split-and-union reading of ``when``, kept as the test oracle.

A conditional stage once ran in two halves: the frame was filtered to the
rows the condition matches and to the rest (false or NULL), the stage ran
on the matched half, and the halves were unioned back by name. That reads
the input twice; the stages now run under ``when`` in one pass, and
``split_union`` is what they must equal.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, functions as F

from beats_spark.conditions import compile_condition
from beats_spark.processors import build_stage

TAG = "__when_ref"


def split_union(name: str, cfg: dict[str, Any], df: DataFrame,
                when: dict[str, Any]) -> DataFrame:
    """``stage(matched) ∪ rest`` for the stage ``name`` built from ``cfg``."""
    df = df.withColumn(TAG, compile_condition(df, when))
    matched = build_stage(name, cfg).apply(df.filter(F.col(TAG)))
    rest = df.filter(~F.coalesce(F.col(TAG), F.lit(False)))
    return matched.unionByName(rest, allowMissingColumns=True).drop(TAG)
