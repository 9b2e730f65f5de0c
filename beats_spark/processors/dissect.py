"""Dissect: positional tokenizer compiled to one anchored Java regex.

Re-implements the dissect language (the public Logstash/Beats syntax;
reference: libbeat/processors/dissect — tokenizer grammar const.go:31-52,
scan dissect.go:104-181, modifiers field.go:118-230, processor wrapper
processor.go:63-142) as a *compiler*. The tokenizer becomes ONE anchored
regex evaluated inside whole-stage codegen: ``rlike`` for the failure flag
plus one ``regexp_extract`` per key — no Python in the plan.

The reference scans left to right and takes the *first* occurrence of each
delimiter ``D``. Atomic groups ``(?>…)`` make every key commit to that
occurrence, so the regex is the scanner, not a backtracking approximation:

- a plain key is ``(?>(.*?)(?=D))D``;
- a greedy key (``->``) then eats ``(?>(?:.(?=D))*)``: one character per
  ``D`` starting one character later, the scanner's padding loop;
- a mid-pattern fixed-length key (``#N``) is ``(.{N})(?>.{0,len(D)})``: the
  scanner skips its delimiter without checking it;
- a trailing ``#N`` key is ``(.{N})\\z`` (Java's ``$`` would also match
  before a final line terminator).

Static tokenizers yield a typed struct; append keys (``%{+k}``, ``/N``
ordinals) join with ``concat``. Dynamic tokenizers (``%{?k}``/``%{&k}``/
``%{*k}``, whose output keys are row values) yield a ``map<string,string>``:
their writes, in ordinal order, become an array of ops that one
``aggregate`` folds into ``array<struct<k,v>>``, each write replacing the
entry for its key; reference names are then filtered out.

Type rules (Go transformType, dissect.go:250-276), applied to static keys
after trimming right spaces: ``integer``/``long`` take a decimal or
``0x``/``0X`` hex value in range (Go's octal, binary and ``_`` forms are not
read); ``boolean`` takes exactly Go's ``ParseBool`` spellings; ``ip`` keeps
values matching ``_IP_RE``; ``float``/``double`` are Spark's ``try_cast``.
Anything else is NULL.

Failure semantics (processor.go:92-104): extraction failure appends
``dissect_parsing_error`` to ``log.flags``; with ``ignore_failure`` the event
continues unchanged, otherwise ``error.message`` is also set (rows are never
dropped — parity with the reference pipeline, which publishes the event and
logs the error).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field
from typing import Any

from pyspark.sql import Column, functions as F

from beats_spark.event import Fields, append_flag, set_error_message
from beats_spark.processors.base import Stage, register
from beats_spark.processors.kv import _trim_chars

FLAG_PARSING_ERROR = "dissect_parsing_error"
_TOKEN_RE = re.compile(r"(?s)(.*?)%\{([^}]*?)\}")
_SUFFIX_RE = re.compile(
    r"(.+?)"
    r"(?:/(\d{1,2}))?"          # ordinal
    r"(?:#(\d{1,2}))?"          # fixed length
    r"(->)?"                    # greedy
    r"(?:\|([A-Za-z]*))?$"      # data type
)

_DTYPE_SPARK = {
    "integer": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
    "ip": "string",
}


@dataclass
class Key:
    """One ``%{...}`` token."""

    id: int
    name: str = ""
    kind: str = "normal"  # normal|skip|named_skip|pointer|append|indirect
    ordinal: int = 0
    length: int = 0
    greedy: bool = False
    dtype: str = ""

    @property
    def saveable(self) -> bool:
        return self.kind in ("normal", "append", "indirect")


@dataclass
class Tokenizer:
    raw: str
    keys: list[Key] = dc_field(default_factory=list)
    # delims[i] precedes keys[i]; delims[len(keys)] is the trailing delimiter
    delims: list[str] = dc_field(default_factory=list)

    @property
    def dynamic(self) -> bool:
        return any(k.kind in ("named_skip", "pointer", "indirect") for k in self.keys)

    def out_keys(self) -> list[str]:
        """Output key order: first appearance among saveable static keys."""
        seen: list[str] = []
        for k in sorted(self.keys, key=lambda k: (k.ordinal, k.id)):
            if k.kind in ("normal", "append") and k.name not in seen:
                seen.append(k.name)
        return seen


def parse_tokenizer(tok: str) -> Tokenizer:
    matches = list(_TOKEN_RE.finditer(tok))
    if not matches:
        raise ValueError(f"invalid dissect tokenizer: {tok!r}")
    t = Tokenizer(raw=tok)
    pos = 0
    for i, m in enumerate(matches):
        t.delims.append(m.group(1))
        raw_key = m.group(2)
        t.keys.append(_parse_key(i, raw_key))
        pos = m.end()
    t.delims.append(tok[pos:])
    if not any(k.saveable for k in t.keys):
        raise ValueError(f"tokenizer has no saveable field: {tok!r}")
    return t


def _parse_key(kid: int, raw: str) -> Key:
    if raw == "":
        return Key(id=kid, kind="skip")
    if raw.startswith("+&") or raw.startswith("&+"):
        raise ValueError(f"mixed prefix in key: {raw!r}")
    kind = "normal"
    if raw.startswith("?"):
        kind, raw = "named_skip", raw[1:]
    elif raw.startswith("*"):
        kind, raw = "pointer", raw[1:]
    elif raw.startswith("+"):
        kind, raw = "append", raw[1:]
    elif raw.startswith("&"):
        kind, raw = "indirect", raw[1:]
    m = _SUFFIX_RE.match(raw)
    if not m:
        raise ValueError(f"invalid dissect key: {raw!r}")
    name, ordinal, length, greedy, dtype = m.groups()
    if dtype is not None and dtype == "":
        raise ValueError(f"missing data type in key: {raw!r}")
    if dtype and dtype not in _DTYPE_SPARK:
        raise ValueError(f"invalid data type {dtype!r} in key: {raw!r}")
    return Key(
        id=kid,
        name=name,
        kind=kind,
        ordinal=int(ordinal or 0),
        length=int(length or 0),
        greedy=bool(greedy),
        dtype=dtype or "",
    )


# -- regex compilation ------------------------------------------------------

_OCT = r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
_IP_RE = rf"(({_OCT}\.){{3}}{_OCT}|([0-9A-Fa-f]{{0,4}}:){{2,7}}[0-9A-Fa-f]{{0,4}})"
_DEC_RE = r"\A[+-]?[0-9]+\z"
# at most 16 significant digits, so conv() cannot overflow
_HEX_RE = r"\A([+-]?)0[xX]0*([0-9A-Fa-f]{1,16})\z"
_GO_TRUE = ("1", "t", "T", "TRUE", "true", "True")
_GO_FALSE = ("0", "f", "F", "FALSE", "false", "False")


def compile_regex(t: Tokenizer) -> str:
    """Anchored Java regex; group ``i + 1`` captures ``t.keys[i]``."""
    parts = [r"(?s)\A", re.escape(t.delims[0])]
    last = len(t.keys) - 1
    for i, k in enumerate(t.keys):
        d = t.delims[i + 1]
        rd = re.escape(d)
        if i == last and not d:
            # the trailing key takes the rest; a fixed length must end it
            parts.append(rf"(.{{{k.length}}})\z" if k.length else "(.*)")
        elif k.length:
            parts.append(f"(.{{{k.length}}})")
        elif d:
            parts.append(f"(?>(.*?)(?={rd}))")
        else:
            parts.append("()")  # zero-length delimiter: empty value
        if not d:
            continue
        if k.greedy:
            parts.append(f"(?>(?:.(?={rd}))*)")
        parts.append(f"(?>.{{0,{len(d)}}})" if k.length else rd)
    return "".join(parts)


def _convert(v: Column, dtype: str) -> Column:
    if dtype in ("", "string"):
        return v
    v = F.rtrim(v)  # Go trims right spaces before parsing
    if dtype in ("integer", "long"):
        hex_ = F.concat(F.regexp_extract(v, _HEX_RE, 1),
                        F.conv(F.regexp_extract(v, _HEX_RE, 2), 16, 10))
        num = F.when(v.rlike(_DEC_RE), v).when(v.rlike(_HEX_RE), hex_)
        return num.try_cast(_DTYPE_SPARK[dtype])
    if dtype == "boolean":
        return F.when(v.isin(*_GO_TRUE), True).when(v.isin(*_GO_FALSE), False)
    if dtype == "ip":
        return F.when(v.rlike(rf"\A{_IP_RE}\z"), v)
    return v.try_cast(_DTYPE_SPARK[dtype])


def _lookup(m: Column, key: Column) -> Column:
    """Value of ``key`` in an ``array<struct<k,v>>``; NULL when absent."""
    return F.get(F.filter(m, lambda e: e["k"] == key), 0)["v"]


def _fold_dynamic(t: Tokenizer, vals: dict[int, Column]) -> Column:
    """scan_exact's map writes as one ``aggregate`` over build-time ops."""
    ops, refs = [], []
    for k in sorted(t.keys, key=lambda k: (k.ordinal, k.id)):
        if k.kind == "skip":
            continue
        if k.kind in ("named_skip", "pointer", "indirect"):
            refs.append(k.name)
        ops.append(F.struct(F.lit(k.kind).alias("op"),
                            F.lit(k.name).alias("name"),
                            F.lit(t.delims[k.id] or " ").alias("join"),
                            vals[k.id].alias("v")))

    def write(m: Column, o: Column) -> Column:
        # an indirect key writes under the value of its reference, if set
        key = F.when(o["op"] == "indirect",
                     _lookup(m, o["name"])).otherwise(o["name"])
        prev = _lookup(m, key)
        v = F.when((o["op"] == "append") & prev.isNotNull(),
                   F.concat(prev, o["join"], o["v"])).otherwise(o["v"])
        entry = F.struct(key.alias("k"), v.alias("v"))
        return (F.when(key.isNull(), m)
                .when(prev.isNull(), F.concat(m, F.array(entry)))
                .otherwise(F.transform(
                    m, lambda e: F.when(e["k"] == key, entry).otherwise(e))))

    empty = F.array().cast("array<struct<k:string,v:string>>")
    m = F.aggregate(F.array(*ops), empty, write)
    return F.map_from_entries(F.filter(m, lambda e: ~e["k"].isin(refs)))


def build_columns(t: Tokenizer, col: Column, trim_mode: str = "none",
                  trim_chars: str = " ") -> tuple[Column, Column]:
    """Compile the tokenizer over ``col`` → (failed, payload). The payload
    is a typed struct (static) or ``map<string,string>`` (dynamic); it is
    meaningful only where ``failed`` is false."""
    rx = compile_regex(t)
    failed = ~(col.isNotNull() & (col != "") & col.rlike(rx))
    vals = {k.id: _trim_chars(F.regexp_extract(col, rx, k.id + 1),
                              trim_chars, trim_mode)
            for k in t.keys if k.kind != "skip"}
    if t.dynamic:
        return failed, _fold_dynamic(t, vals)
    out: dict[str, Column] = {}
    for k in sorted(t.keys, key=lambda k: (k.ordinal, k.id)):
        if k.kind == "append" and k.name in out:
            out[k.name] = F.concat(out[k.name],
                                   F.lit(t.delims[k.id] or " "), vals[k.id])
        elif k.kind in ("normal", "append"):
            out[k.name] = vals[k.id]
    key_dtype = {k.name: k.dtype for k in t.keys
                 if k.kind == "normal" and k.dtype}
    return failed, F.struct(*[_convert(v, key_dtype.get(n, "")).alias(n)
                              for n, v in out.items()])


# -- Stage -------------------------------------------------------------------

@register("dissect")
def dissect(cfg: dict[str, Any]) -> Stage:
    tokenizer = cfg["tokenizer"]
    src = cfg.get("field", "message")
    target = cfg.get("target_prefix", "dissect")
    ignore_failure = cfg.get("ignore_failure", False)
    overwrite_keys = cfg.get("overwrite_keys", False)
    trim_mode = cfg.get("trim_values", "none")
    trim_chars = cfg.get("trim_chars", " ")

    t = parse_tokenizer(tokenizer)
    if t.dynamic and not target:
        # a dynamic map cannot merge into the root of a static schema —
        # silently losing the extraction would look like success
        raise ValueError(
            "dissect: dynamic tokenizers (?/&/* keys) require a non-empty "
            "target_prefix (map output cannot merge at the schema root)"
        )

    class Dissect(Stage):
        def updates(self, f: Fields) -> None:
            if not f.has(src):
                raise ValueError(f"dissect: field {src!r} not in schema")
            if target and f.has(target) and not overwrite_keys:
                raise ValueError(
                    f"dissect: target_prefix {target!r} exists (set overwrite_keys)"
                )
            failed, payload = build_columns(t, f.get(src).cast("string"),
                                            trim_mode, trim_chars)
            # failed rows keep their PRE-EXISTING fields (processor.go:
            # failed events pass unchanged)
            if target:
                f.set(target, payload, where=~failed)
            else:  # merge at root (target_prefix: "")
                for n in t.out_keys():
                    if f.has(n) and not overwrite_keys:
                        raise ValueError(f"dissect: key {n!r} exists at root")
                    f.set(n, payload.getField(n), where=~failed)
            append_flag(f, FLAG_PARSING_ERROR, cond=failed)
            if not ignore_failure:
                set_error_message(
                    f, failed,
                    f"dissect: parsing failure (tokenizer={tokenizer})")

    return Dissect()
