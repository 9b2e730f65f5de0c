"""Event-format strings: ``%{[field]}`` / ``%{+DATEFMT}`` → Column.

Mirrors libbeat/common/fmtstr (formatevents.go:40-44,123): a format string
interpolates event fields (``%{[a][b]}`` or ``%{a.b}``) and timestamp
formats (``%{+yyyy.MM.dd}``, evaluated against @timestamp ≡ ``ts``).

Runtime semantics preserved: if ANY referenced field is missing/null for a
row, the whole formatted string is NULL for that row (the reference returns
an error, which the selector turns into "use the otherwise/default value" —
outil/select.go:365-377). ``F.concat`` is null-propagating, giving exactly
that behavior for free.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

from beats_spark.event import get_path, has_path

_TOKEN_RE = re.compile(r"%\{([^}]*)\}")


def _field_ref(ref: str) -> str:
    """Normalize ``[a][b]`` → ``a.b``; plain ``a.b`` passes through."""
    if ref.startswith("["):
        parts = re.findall(r"\[([^\]]*)\]", ref)
        return ".".join(parts)
    return ref


def compile_fmtstr(df: DataFrame, fmt: str, ts_field: str = "ts") -> Column:
    """Compile a format string to a Column over ``df``.

    Returns NULL for rows where a referenced field is null; returns a
    plan-time NULL literal when a referenced field doesn't exist at all.
    """
    parts: list[Column] = []
    pos = 0
    for m in _TOKEN_RE.finditer(fmt):
        if m.start() > pos:
            parts.append(F.lit(fmt[pos : m.start()]))
        tok = m.group(1)
        if tok.startswith("+"):
            # timestamp format; Joda-style patterns are the Spark ones
            parts.append(F.date_format(F.col(ts_field), tok[1:]))
        else:
            path = _field_ref(tok)
            if not has_path(df.schema, path):
                return F.lit(None).cast("string")
            parts.append(get_path(df, path).cast("string"))
        pos = m.end()
    if pos < len(fmt):
        parts.append(F.lit(fmt[pos:]))
    if not parts:
        return F.lit("")
    return F.concat(*parts)
