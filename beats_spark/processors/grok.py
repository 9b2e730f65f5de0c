"""Grok-style regex parsing, pure JVM path.

Beats itself delegates grok to ES ingest pipelines
(filebeat/module/*/*/ingest/*.json); the in-process regex machinery is
match.Matcher (libbeat/common/match/matcher.go:59-109). We expose a grok
layer directly: a pattern dictionary expands ``%{NAME:field}`` references to
a plain regex at plan time, and each named capture becomes one
``regexp_extract`` — fully codegen'd by Catalyst (regex compiled once per
task on the JVM), zero Python. Failure rows get ``grok_parsing_error`` in
``log.flags``.
"""

from __future__ import annotations

import re
from typing import Any

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from beats_spark.event import (Fields, append_flag, get_path, has_path,
                               path_type, set_error_message)
from beats_spark.processors.base import Stage, register

# A small built-in pattern library (public grok idiom); users can extend via
# the ``pattern_definitions`` config key.
BUILTIN_PATTERNS: dict[str, str] = {
    "WORD": r"\w+",
    "NOTSPACE": r"\S+",
    "DATA": r".*?",
    "GREEDYDATA": r".*",
    "INT": r"[+-]?\d+",
    "NUMBER": r"[+-]?\d+(?:\.\d+)?",
    "BASE16NUM": r"(?:0[xX])?[0-9a-fA-F]+",
    "IP": r"(?:\d{1,3}\.){3}\d{1,3}",
    "IPV6": r"(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}",
    "HOSTNAME": r"\b[0-9A-Za-z][0-9A-Za-z-]{0,62}(?:\.[0-9A-Za-z][0-9A-Za-z-]{0,62})*\.?",
    "UUID": r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    "TIMESTAMP_ISO8601": r"\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}:\d{2}(?:\.\d+)?(?:Z|[+-]\d{2}:?\d{2})?",
    "LOGLEVEL": r"(?:[Tt]race|TRACE|[Dd]ebug|DEBUG|[Ii]nfo|INFO|[Ww]arn(?:ing)?|WARN(?:ING)?|[Ee]rr(?:or)?|ERR(?:OR)?|[Ff]atal|FATAL)",
    "QUOTEDSTRING": r'"(?:[^"\\]|\\.)*"|\'(?:[^\'\\]|\\.)*\'',
    "PATH": r"(?:/[\w.-]+)+",
    "SYSLOGTIMESTAMP": r"[A-Z][a-z]{2} +\d{1,2} \d{2}:\d{2}:\d{2}",
}

_GROK_REF = re.compile(r"%\{(\w+)(?::([\w.\[\]@]+))?(?::(\w+))?\}")


def _neutralize_groups(text: str) -> str:
    """Rewrite bare ``(`` in literal regex text to ``(?:``.

    Real module patterns (e.g. filebeat nginx access: ``(%{NGINX_HOST} )?``,
    ``"(-|%{DATA:...})"``) use plain parens for grouping; ES-grok discards
    such unnamed captures, but our group-index → field mapping would be
    shifted by them. Escapes (``\\(``) and character classes (``[(]``) are
    left untouched; already-special groups (``(?:``, ``(?=``…) pass through.
    """
    out: list[str] = []
    i, in_class = 0, False
    while i < len(text):
        c = text[i]
        if c == "\\" and i + 1 < len(text):
            out.append(text[i:i + 2])
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(" and text[i + 1:i + 2] != "?":
            out.append("(?:")
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)

_GROK_TYPES = {"int": "bigint", "long": "bigint", "float": "double", "double": "double"}


def expand_grok(expr: str, definitions: dict[str, str] | None = None,
                _depth: int = 0) -> tuple[str, list[tuple[str, str]]]:
    """Expand %{NAME:field:type} refs → plain regex with numbered groups.

    Returns (regex, [(field, type), ...]) in group order. Unnamed refs become
    non-capturing. Named groups are emitted as plain groups so the field
    list maps group index → output field.
    """
    if _depth > 10:
        raise ValueError("grok: pattern recursion too deep")
    defs = {**BUILTIN_PATTERNS, **(definitions or {})}
    fields: list[tuple[str, str]] = []

    out: list[str] = []
    pos = 0
    for m in _GROK_REF.finditer(expr):
        out.append(_neutralize_groups(expr[pos : m.start()]))
        name, field, typ = m.group(1), m.group(2), m.group(3)
        if name not in defs:
            raise ValueError(f"grok: unknown pattern %{{{name}}}")
        sub, sub_fields = expand_grok(defs[name], definitions, _depth + 1)
        if field:
            fields.append((field, typ or ""))
            out.append(f"({sub})")
            fields.extend(sub_fields)
        else:
            # unnamed ref: non-capturing wrapper, but any NAMED sub-captures
            # inside it still extract (ES grok semantics — e.g. filebeat
            # nginx `(%{NGINX_HOST} )?` where NGINX_HOST defines
            # destination.ip/domain/port)
            out.append(f"(?:{sub})")
            fields.extend(sub_fields)
        pos = m.end()
    out.append(_neutralize_groups(expr[pos:]))
    return "".join(out), fields


@register("grok")
def grok(cfg: dict[str, Any]) -> Stage:
    """Config: ``pattern`` (grok expression) or ``patterns`` (ordered list —
    first matching pattern wins, the ES ingest-grok multi-pattern surface
    used by e.g. filebeat/module/apache/access/ingest/pipeline.yml), ``field``
    (default message), ``target_prefix`` (default "" = root),
    ``pattern_definitions``, ``anchor`` (default True: full-line match like
    ES ingest grok)."""
    pats: list[str] = (cfg["patterns"] if "patterns" in cfg
                       else [cfg["pattern"]])
    if not pats:
        raise ValueError("grok: patterns list is empty")
    src = cfg.get("field", "message")
    target = cfg.get("target_prefix", "")
    definitions = cfg.get("pattern_definitions")
    anchored = cfg.get("anchor", True)
    ignore_failure = cfg.get("ignore_failure", True)
    # ES grok leaves non-participating alternation branches MISSING;
    # regexp_extract yields "" for them. Opt-in conversion ""→NULL for
    # module-pipeline parity (off by default: a participating %{DATA}
    # match of the empty string is legitimately "").
    null_empty = cfg.get("null_empty_captures", False)

    regexes: list[str] = []
    # field name → [(pattern_idx, group_idx, declared type)] — declared
    # types are collected per site but APPLIED only when every site of the
    # field agrees (see the combine layer): a DataFrame column has one
    # static type, and casting only some coalesce branches makes ANSI
    # insert a strict cast that crashes on non-numeric input
    fmap: dict[str, list[tuple[int, int, str]]] = {}
    for j, p in enumerate(pats):
        regex, fields = expand_grok(p, definitions)
        if anchored:
            regex = f"^(?:{regex})$"
        if not fields:
            raise ValueError("grok: pattern has no named captures")
        regexes.append(regex)
        for i, (name, typ) in enumerate(fields):
            fmap.setdefault(name, []).append((j, i + 1, typ))

    class Grok(Stage):
        def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
            if not has_path(df.schema, src):
                raise ValueError(f"grok: field {src!r} not in schema")
            t_type = path_type(df.schema, target) if target else None
            if t_type is not None and not isinstance(t_type, T.StructType):
                # one column cannot hold a struct on matched rows and the
                # old scalar on the others
                raise ValueError(
                    f"grok: target_prefix {target!r} holds a non-struct "
                    f"{t_type.simpleString()}")
            col = get_path(df, src).cast("string")
            # Stage every regex evaluation ONCE behind temp columns (match
            # flag per pattern + raw extract per capture site): the combine
            # layer below (nullif / exclusive selectors / coalesce) would
            # otherwise re-embed each multi-KB regex 2× per field — nullif
            # duplicates its operand — and whole-stage codegen fuses all the
            # per-field projections into one generated function that blows
            # the JVM's 64 KB method limit and falls back to the
            # interpreter (observed on the 4-pattern apache module grok).
            f = Fields(df)
            flags = f.temps([F.coalesce(col.rlike(rx), F.lit(False))
                             for rx in regexes])
            # extracts gated on the (already-staged, attribute-ref) match
            # flag: a pattern that did not match skips its regex scans
            # entirely — on a mostly-single-format corpus that saves
            # (patterns−1) × capture-sites full-regex scans per row
            caps = [(j, gi) for ss in fmap.values() for j, gi, _typ in ss]
            xcols = dict(zip(caps, f.temps([
                F.when(flags[j], F.regexp_extract(col, regexes[j], gi))
                for j, gi in caps])))
            # mutually exclusive pattern selectors: pattern j applies only
            # when no earlier pattern matched (ES tries in order)
            sels: list[Column] = []
            prior: Column = F.lit(False)
            for h in flags:
                sels.append(h & ~prior)
                prior = prior | h
            matched = prior
            # per field: value from the winning pattern (NULL from all
            # others — selectors are exclusive), written iff the winning
            # pattern declares the field; other rows keep any PRE-EXISTING
            # value (a fallback grok chain over two formats must not null
            # out what the previous grok extracted, and ES writes only the
            # winner's captures)
            for name, sites in fmap.items():
                by_pat: dict[int, list[tuple[int, str]]] = {}
                for j, gi, typ in sites:
                    by_pat.setdefault(j, []).append((gi, typ))
                parts: list[Column] = []
                written: Column = F.lit(False)
                for j, slist in by_pat.items():
                    # several sites of the SAME field inside one pattern is
                    # the alternation idiom (?:%{IP:host}|%{HOSTNAME:host}):
                    # the PARTICIPATING branch wins (non-participating
                    # groups extract ''), not first-declared
                    cands = [F.nullif(xcols[j, gi], F.lit(""))
                             for gi, _ in slist]
                    v = cands[0] if len(cands) == 1 else F.coalesce(*cands)
                    if not null_empty:
                        # a matched row whose capture is genuinely empty
                        # stays '' (the opt-in ""→NULL is null_empty's job)
                        v = F.coalesce(v, F.lit(""))
                    parts.append(F.when(sels[j], v))
                    written = written | sels[j]
                val = F.coalesce(*parts) if len(parts) > 1 else parts[0]
                # typing: a DataFrame column has ONE static type, so the
                # declared :type applies only when every site of the field
                # agrees on it; mixed typed/untyped or conflicting
                # declarations fall back to string (casting only some
                # coalesce branches would make ANSI insert a strict cast on
                # the string branch and crash the job on non-numeric input;
                # ES's per-document dynamic typing has no static analogue)
                declared = [t for _, _, t in sites]
                uniq = {t for t in declared if t}
                if len(uniq) == 1 and all(declared):
                    val = val.try_cast(_GROK_TYPES.get(uniq.pop(), "string"))
                f.set(f"{target}.{name}" if target else name, val, where=written)
            # failure is always visible in log.flags (like dissect);
            # error.message only without ignore_failure
            append_flag(f, "grok_parsing_error", cond=~matched)
            if not ignore_failure:
                set_error_message(f, ~matched, "grok: no pattern matched")
            return f.apply(where=cond)

    return Grok()
