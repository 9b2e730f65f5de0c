"""Stateful operators re-expressed as window/group algebra: multiline
(event merging / sessionization) and rate_limit (token bucket → windowed
top-N). These are the two places the reference keeps cross-event state
(libbeat/reader/multiline, libbeat/processors/ratelimit); in Spark both
become shuffles on an explicit key — partitioning is the state.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, Window, functions as F

from beats_spark.event import Fields, _quote, get_path
from beats_spark.processors.base import Stage, register


_ML_KEYS = {
    "type", "field", "partition_by", "order_by", "pattern", "negate",
    "match", "count_lines", "max_lines", "separator", "flush_pattern",
    "timeout", "ts_field",
}


def _parse_duration_secs(v: Any) -> float:
    if isinstance(v, (int, float)):
        return float(v)
    s = str(v).strip()
    mult = {"s": 1.0, "m": 60.0, "h": 3600.0}
    if s and s[-1] in mult:
        return float(s[:-1]) * mult[s[-1]]
    return float(s)


@register("multiline")
def multiline(cfg: dict[str, Any]) -> Stage:
    """Merge consecutive rows into one event (libbeat/reader/multiline:
    pattern.go — ``pattern`` + ``negate`` + ``match: after|before`` +
    ``flush_pattern``; counter.go — ``count_lines``; while.go —
    ``type: while_pattern``; ``max_lines`` cap; ``timeout``).

    Config: ``type`` (pattern|count|while_pattern; default inferred —
    count when ``count_lines`` is set, else pattern), ``field`` (text),
    ``partition_by`` (e.g. [conv_id]), ``order_by`` (e.g. [turn_idx]),
    ``pattern``, ``negate``, ``match``, ``flush_pattern``, ``count_lines``,
    ``max_lines``, ``separator`` (default "\\n"), ``timeout`` (+
    ``ts_field``). Unknown keys raise at plan time (a silently ignored
    ``while_pattern`` key would change semantics without warning).

    Semantics per mode:
    - pattern: a (negated) non-match starts a new event ("after") or a match
      glues to the NEXT line ("before"). A ``flush_pattern`` match is
      appended to the current event and finalizes it (pattern.go:208-219),
      so the following line always starts fresh.
    - while_pattern (while.go:103-171): consecutive MATCHING lines combine;
      every non-matching line is its own single-line event.
    - count: fixed-size groups of ``count_lines``.

    ``timeout`` (pattern/while modes; multiline_config.go:59, the
    5s-default flush timer) is re-expressed in event time: an event-time
    gap > timeout between consecutive rows starts a new event.

    Implementation: a start-of-group flag, a running ``sum`` over an ordered
    window → group id, then one groupBy concatenating lines in order. First
    row of each group keeps all other columns (reference keeps the first
    event's fields and appends content).
    """
    unknown = set(cfg) - _ML_KEYS
    if unknown:
        raise ValueError(
            f"multiline: unknown config keys {sorted(unknown)} "
            f"(known: {sorted(_ML_KEYS)})"
        )
    # per-mode rejection of foreign keys: a key another mode owns would be
    # silently ignored otherwise — the exact failure mode strict keys exist
    # to prevent (e.g. flush_pattern under while_pattern)
    _mode = cfg.get("type") or ("count" if cfg.get("count_lines") else "pattern")
    _common = {"type", "field", "partition_by", "order_by", "max_lines",
               "separator", "ts_field"}
    _per_mode = {
        "pattern": _common | {"pattern", "negate", "match", "flush_pattern",
                              "timeout"},
        "while_pattern": _common | {"pattern", "negate", "timeout"},
        "count": _common | {"count_lines"},
    }
    foreign = set(cfg) - _per_mode.get(_mode, _ML_KEYS)
    if foreign:
        raise ValueError(
            f"multiline: keys {sorted(foreign)} are not used by "
            f"type {_mode!r} (allowed: {sorted(_per_mode[_mode])})"
        )
    fld = cfg.get("field", "text")
    part = cfg.get("partition_by", ["conv_id"])
    order = cfg.get("order_by", ["turn_idx"])
    pattern = cfg.get("pattern")
    negate = bool(cfg.get("negate", False))
    match = cfg.get("match", "after")
    count_lines = cfg.get("count_lines")
    max_lines = cfg.get("max_lines")
    sep = cfg.get("separator", "\n")
    flush_pattern = cfg.get("flush_pattern")
    timeout = cfg.get("timeout")
    ts_field = cfg.get("ts_field", "ts")
    mode = _mode  # computed once above, shared with the strict-key check
    if mode not in ("pattern", "count", "while_pattern"):
        raise ValueError(f"multiline: unknown type {mode!r}")
    if mode in ("pattern", "while_pattern") and not pattern:
        # multiline_config.go Validate(): ErrMissingPattern
        raise ValueError(f"multiline: type {mode!r} requires 'pattern'")
    if mode == "count" and not count_lines:
        raise ValueError("multiline: type 'count' requires 'count_lines'")
    if mode == "pattern" and match not in ("after", "before"):
        raise ValueError(f"multiline: unknown matcher type {match!r}")

    class Multiline(Stage):
        def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
            if cond is not None:  # reader config in the reference: no `when`
                raise ValueError("multiline: takes no condition (when, if/then/else)")
            w = Window.partitionBy(*part).orderBy(*order)
            line = get_path(df, fld).cast("string")
            first = F.row_number().over(w) == 1
            if mode == "count":
                rn = F.row_number().over(w) - F.lit(1)
                start = (rn % F.lit(int(count_lines))) == 0
            else:
                hit = line.rlike(pattern)
                if negate:
                    hit = ~hit
                if mode == "while_pattern":
                    # a line joins the previous event only while BOTH match;
                    # non-matching lines are singleton events (while.go:168)
                    prev_hit = F.coalesce(F.lag(hit, 1, False).over(w), F.lit(False))
                    start = ~(hit & prev_hit)
                elif match == "after":
                    # a NON-matching line starts a new event; matching lines
                    # glue to the previous one (pattern.go "after" mode)
                    start = ~hit
                else:  # "before": a matching line glues to the NEXT line
                    prev_hit = F.lag(hit, 1, False).over(w)
                    start = ~F.coalesce(prev_hit, F.lit(False))
                start = F.coalesce(start, F.lit(True))
                if flush_pattern is not None and mode == "pattern":
                    # a flush-matching line is glued into the CURRENT event
                    # and finalizes it; the next line starts fresh
                    fhit = F.coalesce(line.rlike(flush_pattern), F.lit(False))
                    prev_flush = F.coalesce(
                        F.lag(fhit, 1, False).over(w), F.lit(False)
                    )
                    start = (start & ~fhit) | prev_flush
                if timeout is not None:
                    secs = _parse_duration_secs(timeout)
                    ts = get_path(df, ts_field).cast("timestamp").cast("double")
                    gap = ts - F.lag(ts, 1).over(w)
                    start = start | (F.coalesce(gap, F.lit(0.0)) > secs)
                start = start | first
            f = Fields(df)
            keep = [c for c in df.columns if c not in part]
            starts, = f.temps([start.cast("int")])
            gid, = f.temps([F.sum(starts).over(w)])
            first_t, lines_t, line_t = (f.temp() for _ in range(3))
            order_cols = [F.col(c) for c in order]
            pair = F.struct(*order_cols, line.alias(line_t))
            out = f.df.groupBy(*part, gid).agg(
                F.min_by(F.struct(*[F.col(c) for c in keep]),
                         F.struct(*order_cols)).alias(first_t),
                F.array_sort(F.collect_list(pair)).alias(lines_t),
            )
            lines = F.col(_quote(lines_t))
            if max_lines:
                lines = F.slice(lines, 1, int(max_lines))
            merged = F.array_join(F.transform(lines, lambda s: s[line_t]), sep)
            # the row is the group's first event with the merged text
            # written into the field (nested too: substituting only a
            # same-named top-level column would silently drop every
            # continuation line's content)
            first = F.col(_quote(first_t))
            f.df = out.select(*[F.col(p) for p in part],
                              *[first.getField(c).alias(c) for c in keep],
                              F.col(_quote(lines_t)))
            return f.set(fld, merged).apply()

    return Multiline()


@register("rate_limit")
def rate_limit(cfg: dict[str, Any]) -> Stage:
    """Token-bucket drop above ``limit`` "N/unit", optionally keyed by
    ``fields`` (ratelimit/rate_limit.go:102, token_bucket.go:64-74).

    Batch semantics: within each (key, time-window) allow the first N events
    in event-time order, drop the rest — ``row_number() over (partition by
    key, window start) <= N``, one shuffle on (key, window). Untimestamped
    rows pass; under ``when`` the condition joins the key and skipped rows
    pass.
    """
    unknown = set(cfg) - {"limit", "fields", "ts_field"}
    if unknown:
        raise ValueError(
            f"rate_limit: unknown config keys {sorted(unknown)} "
            "(known: ['fields', 'limit', 'ts_field'])"
        )
    limit = cfg.get("limit", "10000/m")
    fields = cfg.get("fields", [])
    ts_field = cfg.get("ts_field", "ts")
    n_s, unit = str(limit).split("/")
    n = int(n_s)
    if unit not in ("s", "m", "h"):
        raise ValueError(f"rate_limit: unknown unit {unit!r} in {limit!r}")
    window_us = {"s": 1, "m": 60, "h": 3600}[unit] * 1_000_000

    class RateLimit(Stage):
        def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
            ts = get_path(df, ts_field)
            # the epoch-aligned window start as arithmetic, not F.window:
            # Spark's time-window rewrite injects an isnotnull(ts) filter
            # that would drop every untimestamped row
            us = F.unix_micros(ts.cast("timestamp"))
            keys = [get_path(df, f) for f in fields]
            keys.append(us - F.pmod(us, F.lit(window_us)))
            passes = ts.isNull()
            if cond is not None:
                matched = F.coalesce(cond, F.lit(False))
                keys.append(matched)
                passes = passes | ~matched
            w = Window.partitionBy(*keys).orderBy(ts)
            f = Fields(df)
            rn, = f.temps([F.row_number().over(w)])
            f.df = f.df.filter(passes | (rn <= n))
            return f.apply()

    return RateLimit()
