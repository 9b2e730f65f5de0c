"""kv: dynamic key=value extraction to ``map<string,string>`` (logfmt).

Models the ES ingest ``kv`` processor the reference's module pipelines
delegate to (e.g. filebeat/module/auditd/log/ingest/pipeline.yml:25-35, two
kv stages over grok-captured spans) and Logstash's ``kv`` filter. Everything
is JVM column algebra — split / transform / aggregate over the parts array —
so the stage stays inside whole-stage codegen; no Python.

Output shape: Spark schemas are static, so extracted pairs land in ONE
``map<string,string>`` column at ``target`` (default ``"kv"``) instead of ES's
dynamic per-key document fields — the declared Spark-first re-expression of a
dynamic-keys operator. Downstream stages read keys with ``element_at``.

Config (ES names):
- ``field`` (required), ``field_split`` (regex between pairs, default
  ``"\\s+"``), ``value_split`` (regex between key and value, split once,
  default ``"="``)
- ``target`` / ``target_field``: path for the map column
- ``include_keys`` / ``exclude_keys``: allow/deny lists (checked on the
  trimmed, pre-prefix key, like ES)
- ``prefix``: prepended to kept keys
- ``trim_key`` / ``trim_value``: set of characters stripped from both ends
- ``strip_brackets``: strip ONE leading/trailing ``( [ < " '`` /
  ``) ] > " '`` from values (ES strips a single layer)
- ``ignore_missing``: absent/NULL source field → row passes through
- ``strict`` (default True, ES parity): a non-empty part that does not
  contain ``value_split`` makes the ROW fail — map NULL +
  ``log.flags: kv_parsing_error`` (ES throws "does not contain value_split";
  per-row columnar execution tags instead of aborting). ``strict: False`` is
  the Logstash behavior: malformed parts are skipped.

Documented divergences from ES: empty parts are always skipped (ES's Java
``split`` drops only TRAILING empty strings, then throws on a leading one);
a repeated key keeps its FIRST value (ES appends repeats into an array,
which ``map<string,string>`` cannot hold).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, functions as F

from beats_spark.event import Fields, append_flag
from beats_spark.processors.base import Stage, register


def _trim_chars(col: Column, chars: str, mode: str = "all") -> Column:
    """``str.strip(chars)``; ``lstrip``/``rstrip`` for mode left/right, a
    no-op for any other mode. Every character is written as ``\\x{h}``, so
    no set — ``]``, ``^``, ``&&`` (Java class intersection), a letter — can
    reshape the class."""
    if not chars:
        return col
    cls = "[" + "".join(f"\\x{{{ord(c):x}}}" for c in chars) + "]+"
    if mode in ("left", "all"):
        col = F.regexp_replace(col, rf"\A{cls}", "")
    if mode in ("right", "all"):
        col = F.regexp_replace(col, rf"{cls}\z", "")
    return col


@register("kv")
def kv(cfg: dict[str, Any]) -> Stage:
    field = cfg["field"]
    field_split = cfg.get("field_split", r"\s+")
    value_split = cfg.get("value_split", "=")
    target = cfg.get("target", cfg.get("target_field", "kv"))
    include_keys = cfg.get("include_keys")
    exclude_keys = cfg.get("exclude_keys")
    prefix = cfg.get("prefix")
    trim_key = cfg.get("trim_key")
    trim_value = cfg.get("trim_value")
    strip_brackets = bool(cfg.get("strip_brackets", False))
    ignore_missing = bool(cfg.get("ignore_missing", False))
    strict = bool(cfg.get("strict", True))
    unknown = set(cfg) - {
        "field", "field_split", "value_split", "target", "target_field",
        "include_keys", "exclude_keys", "prefix", "trim_key", "trim_value",
        "strip_brackets", "ignore_missing", "strict", "when",
    }
    if unknown:
        raise ValueError(f"kv: unknown config keys {sorted(unknown)}")

    class KV(Stage):
        def updates(self, f: Fields) -> None:
            if not f.has(field):
                if ignore_missing:
                    return
                raise ValueError(f"kv: missing field {field!r}")
            src = f.get(field).cast("string")
            parts = F.filter(F.split(src, field_split, -1),
                             lambda p: p != "")
            split1 = lambda p: F.split(p, value_split, 2)  # noqa: E731
            malformed = F.exists(parts,
                                 lambda p: F.get(split1(p), 1).isNull())

            k_raw = lambda e: e["k"]  # noqa: E731
            entries = F.transform(parts, lambda p: F.struct(
                F.get(split1(p), 0).alias("k"),
                F.get(split1(p), 1).alias("v")))
            entries = F.filter(entries, lambda e: e["v"].isNotNull())

            def keyed(e: Column) -> Column:
                k = k_raw(e)
                return _trim_chars(k, trim_key) if trim_key else k

            if include_keys is not None:
                allow = F.array(*[F.lit(k) for k in include_keys])
                entries = F.filter(
                    entries, lambda e: F.array_contains(allow, keyed(e)))
            if exclude_keys:
                deny = F.array(*[F.lit(k) for k in exclude_keys])
                entries = F.filter(
                    entries, lambda e: ~F.array_contains(deny, keyed(e)))

            def final_key(e: Column) -> Column:
                k = keyed(e)
                return F.concat(F.lit(prefix), k) if prefix else k

            def final_val(e: Column) -> Column:
                v = e["v"]
                if trim_value:
                    v = _trim_chars(v, trim_value)
                if strip_brackets:
                    v = F.regexp_replace(v, "^[\\(\\[<\"']", "")
                    v = F.regexp_replace(v, "[\\)\\]>\"']$", "")
                return v

            entries = F.transform(entries, lambda e: F.struct(
                final_key(e).alias("k"), final_val(e).alias("v")))
            # first-wins fold (map_from_entries would throw on repeats
            # under the default EXCEPTION dedup policy)
            m = F.aggregate(
                entries,
                F.map_from_arrays(
                    F.array().cast("array<string>"),
                    F.array().cast("array<string>")),
                lambda acc, e: F.when(
                    F.map_contains_key(acc, e["k"]), acc
                ).otherwise(
                    F.map_concat(acc, F.create_map(e["k"], e["v"]))),
            )
            # failure rows get a NULL map + flag: NULL source without
            # ignore_missing (ES: "field is null, cannot extract"), or any
            # malformed part under strict (ES: "does not contain value_split")
            failed = F.lit(False)
            if not ignore_missing:
                failed = failed | src.isNull()
            if strict:
                failed = failed | F.coalesce(src.isNotNull() & malformed,
                                             F.lit(False))
            ok = ~failed & src.isNotNull()
            f.set(target, F.when(ok, m))
            append_flag(f, "kv_parsing_error", cond=failed)

    return KV()
