"""Script processor: the UDF escape hatch.

The reference embeds a JavaScript VM with an Event API
(script/javascript/javascript.go:167, session.go:207). Our surface is a
user-supplied Python function over a ``pandas.DataFrame`` batch applied via
``mapInPandas`` — Arrow-batched, whole-row access, and the same
exception-tagging semantics (``_js_exception`` → ``_script_exception`` in
``log.flags``-style error column).

Config: ``fn``: Callable[[pd.DataFrame], pd.DataFrame] (must preserve/declare
schema via ``schema`` DDL when it changes), ``tag_on_exception``.
Under ``when``, ``fn`` sees only each batch's matching rows; the others
pass unchanged under the declared columns and the input's undeclared ones.
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd

from pyspark.sql import Column, DataFrame

from beats_spark.event import free_name
from beats_spark.processors.base import Stage, register


@register("script")
def script(cfg: dict[str, Any]) -> Stage:
    fn: Callable[[pd.DataFrame], pd.DataFrame] = cfg["fn"]
    schema_ddl: str | None = cfg.get("schema")
    tag = cfg.get("tag_on_exception", "_script_exception")

    class Script(Stage):
        def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
            from pyspark.sql.types import StructType, _parse_datatype_string

            out_schema = (_parse_datatype_string(schema_ddl)
                          if isinstance(schema_ddl, str) else schema_ddl)
            out_schema = out_schema or df.schema
            if cond is not None:  # skipped rows keep undeclared columns
                out_schema = StructType(out_schema.fields + [
                    f for f in df.schema.fields
                    if f.name not in out_schema.fieldNames()])
            out_cols, masked = out_schema.fieldNames(), cond is not None
            flag = free_name({c.lower() for c in df.columns})

            def conform(pdf):
                """Shape a batch to the output schema — the exception
                fallback and the skipped rows must not crash Arrow
                serialization just because fn adds or removes columns."""
                out = pdf.copy()
                for c in out_cols:
                    if c not in out.columns:
                        out[c] = None
                return out[out_cols]

            def call(pdf):
                try:
                    return fn(pdf)
                except Exception:  # noqa: BLE001 — mirror tag_on_exception
                    fb = conform(pdf)
                    if "tags" in fb.columns:
                        fb["tags"] = fb["tags"].map(
                            lambda t: (list(t) if t is not None else []) + [tag]
                        )
                    return fb

            def run(batches):
                for pdf in batches:
                    if not masked:
                        yield call(pdf)
                        continue
                    hit = pdf.pop(flag).fillna(False).astype(bool)
                    matched = call(pdf[hit]) if hit.any() else pdf[hit]
                    yield pd.concat([conform(matched), conform(pdf[~hit])],
                                    ignore_index=True)

            if masked:  # one pass: the condition rides into the batch
                df = df.withColumn(flag, cond)
            return df.mapInPandas(run, schema=out_schema)

    return Script()
