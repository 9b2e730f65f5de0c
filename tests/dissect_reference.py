"""The reference dissect scanner, kept as the test oracle.

``scan_positions`` walks the tokenizer the way libbeat's dissect does
(dissect.go:104-181); ``scan_exact`` resolves append/indirect/pointer keys
and trim on top of it; ``expected`` adds the type rules. The dissect stage
compiles the same semantics to a JVM regex; ``run_stage`` runs it so the
tests can compare the two.
"""

from __future__ import annotations

import re

import numpy as np

from beats_spark.processors import apply_chain, build_chain
from beats_spark.processors.dissect import (FLAG_PARSING_ERROR, _IP_RE,
                                            Tokenizer, parse_tokenizer)


def scan_positions(t: Tokenizer, s: str) -> list[tuple[int, int]] | None:
    """First-occurrence delimiter walk; None on parse failure.

    Faithful to dissect.go:104-181 including its quirks: an empty delimiter
    between two tokens matches at the current offset (zeroByte.IndexOf,
    delimiter.go:62-64 → empty value); a mid-pattern fixed-length field
    skips its following delimiter WITHOUT verifying it; a trailing
    fixed-length field must exactly exhaust the string; when all fields are
    consumed, trailing content is ignored."""
    if s is None or len(s) == 0:
        return None
    d0 = t.delims[0]
    if not s.startswith(d0):
        return None
    offset = len(d0)
    n = len(t.keys)
    positions: list[tuple[int, int]] = [(0, 0)] * n
    # fields processed inside the delimiter walk; the last field is handled
    # after the walk iff the tokenizer ends with a field (no trailing text)
    in_loop = n if t.delims[n] != "" else n - 1
    for i in range(in_loop):
        key = t.keys[i]
        nxt = t.delims[i + 1]
        start = offset
        if key.length > 0:
            end = offset + key.length
            if end > len(s):
                return None
        elif nxt == "":
            end = offset  # zeroByte: empty value
        else:
            end = s.find(nxt, offset)
            if end == -1:
                return None
        offset = end
        if key.greedy and nxt:
            # consume repeated padding of the following delimiter
            while True:
                la = s.find(nxt, offset + 1)
                if la != offset + 1:
                    break
                offset = la
        positions[i] = (start, end)
        offset += len(nxt)
    if in_loop == n - 1:
        key = t.keys[n - 1]
        if key.length > 0:
            if offset + key.length != len(s):
                return None
            positions[n - 1] = (offset, offset + key.length)
        elif offset < len(s):
            positions[n - 1] = (offset, len(s))
        # else: empty value (positions default)
    return positions


def _trim_value(v: str, mode: str, chars: str) -> str:
    if mode == "left":
        return v.lstrip(chars)
    if mode == "right":
        return v.rstrip(chars)
    if mode == "all":
        return v.strip(chars)
    return v


def scan_exact(t: Tokenizer, s: str, trim_mode: str = "none",
               trim_chars: str = " ") -> dict[str, str] | None:
    """Full reference semantics incl. append/indirect/pointer resolution."""
    positions = scan_positions(t, s)
    if positions is None:
        return None
    m: dict[str, str] = {}
    refs: list[str] = []
    for k in sorted(t.keys, key=lambda k: (k.ordinal, k.id)):
        v = s[positions[k.id][0] : positions[k.id][1]]
        if trim_mode != "none":
            v = _trim_value(v, trim_mode, trim_chars)
        if k.kind == "skip":
            continue
        if k.kind in ("named_skip", "pointer"):
            m[k.name] = v
            refs.append(k.name)
        elif k.kind == "indirect":
            if k.name in m:
                m[m[k.name]] = v
            refs.append(k.name)
        elif k.kind == "append":
            if k.name in m:
                join = t.delims[k.id] or " "
                m[k.name] = m[k.name] + join + v
            else:
                m[k.name] = v
        else:
            m[k.name] = v
    for r in refs:
        m.pop(r, None)
    return m


_INT_BITS = {"integer": 32, "long": 64}
_GO_BOOL = {"1": True, "t": True, "T": True, "TRUE": True, "true": True,
            "True": True, "0": False, "f": False, "F": False,
            "FALSE": False, "false": False, "False": False}


def convert(v: str, dtype: str):
    """The stage's type rules: right-trim spaces, then a decimal or 0x hex
    int in range, a Go ParseBool spelling, an ``_IP_RE`` match, or a float;
    anything else is None."""
    if dtype in ("", "string"):
        return v
    v = v.rstrip(" ")
    if dtype in _INT_BITS:
        m = re.fullmatch(r"([+-]?)(?:0[xX]([0-9A-Fa-f]+)|([0-9]+))", v)
        if not m:
            return None
        n = int(m.group(2), 16) if m.group(2) else int(m.group(3))
        n = -n if m.group(1) == "-" else n
        bits = _INT_BITS[dtype]
        return n if -(1 << bits - 1) <= n < (1 << bits - 1) else None
    if dtype == "boolean":
        return _GO_BOOL.get(v)
    if dtype == "ip":
        return v if re.fullmatch(_IP_RE, v) else None
    try:  # float/double: Java's parseDouble on this repo's test alphabets
        f = float(v)
    except ValueError:
        return None
    return float(np.float32(f)) if dtype == "float" else f


def expected(tok: str, s: str | None, trim_mode: str = "none",
             trim_chars: str = " ") -> dict | None:
    """The stage's payload for ``s``: scan_exact plus the type rules, which
    apply to static tokenizers only (dynamic ones yield strings)."""
    t = parse_tokenizer(tok)
    m = scan_exact(t, s, trim_mode, trim_chars)
    if m is None or t.dynamic:
        return m
    key_dtype = {k.name: k.dtype for k in t.keys
                 if k.kind == "normal" and k.dtype}
    return {n: convert(v, key_dtype.get(n, "")) for n, v in m.items()}


def run_stage(spark, tok: str, strings: list, **cfg) -> list[tuple]:
    """Run the dissect stage over ``strings`` → one ``(payload dict or
    None, failed)`` per string, in order."""
    df = spark.createDataFrame(list(enumerate(strings)), "i int, text string")
    stages = build_chain([{"dissect": dict(
        tokenizer=tok, field="text", target_prefix="d", ignore_failure=True,
        **cfg)}])
    out = []
    for r in apply_chain(df, stages).orderBy("i").collect():
        d = r["d"]
        if d is not None and not isinstance(d, dict):
            d = d.asDict()
        flags = (r["log"]["flags"] if r["log"] else None) or []
        out.append((d, FLAG_PARSING_ERROR in flags))
    return out
