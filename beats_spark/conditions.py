"""Condition AST → Catalyst Column (the pipeline's WHERE language).

Mirrors libbeat/conditions: config keys ``equals, contains, regexp, range,
has_fields, network, or, and, not`` (conditions.go:30-40, dispatch :55-100).
Every construct is natively expressible in Spark SQL, so compiled conditions
participate in codegen and get pushed down into the scan by Catalyst —
something the reference (per-event Go interpreter) cannot do.

Semantics preserved:
- a missing field makes the leaf condition FALSE, never NULL/error
  (conditions fetch via GetValue and treat errors as no-match);
- ``equals`` supports scalar equality (equals.go:63-112, string/int/bool);
- ``contains`` is substring match, ``regexp`` is a regex search (un-anchored,
  Go regexp.MatchString semantics — conditions/matcher.go:39-84);
- ``range`` coerces numerics to double and ANDs the bounds
  (range.go:85-139);
- ``network`` matches IPv4 and IPv6 addresses against CIDRs or named
  ranges (network.go:45-70); the address is parsed once (:func:`ip_hex`)
  and compared with each pre-parsed network (:func:`cidr_match`).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from pyspark.sql import types as T

from beats_spark.event import get_path, has_path, path_type

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_NUMERIC = _INTEGRAL + (T.FloatType, T.DoubleType, T.DecimalType)

# named network ranges (libbeat/conditions/network.go:26-57: RFC 1918 +
# RFC 4193 private, Go net.IP named classes for both families)
NAMED_NETWORKS: dict[str, list[str]] = {
    "loopback": ["127.0.0.0/8", "::1/128"],
    "private": ["10.0.0.0/8", "172.16.0.0/12", "192.168.0.0/16", "fd00::/8"],
    "multicast": ["224.0.0.0/4", "ff00::/8"],
    "link_local_unicast": ["169.254.0.0/16", "fe80::/10"],
    "unspecified": ["0.0.0.0/32", "::/128"],
}

# octets bounded to 0-255: a permissive \d{1,3} would let '999.1.2.3'
# alias into a 34-bit value and positively match unrelated CIDRs, where
# Go's net.ParseIP rejects the address outright
_IPV4_OCTET = r"(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)"
_IPV4_RE = rf"^{_IPV4_OCTET}\.{_IPV4_OCTET}\.{_IPV4_OCTET}\.{_IPV4_OCTET}$"
_IPV4_TAIL_RE = r":(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3})$"


def _ip4_to_long(col: Column) -> Column:
    p = F.split(col, r"\.")
    return (
        p[0].try_cast("long") * F.lit(16777216)
        + p[1].try_cast("long") * F.lit(65536)
        + p[2].try_cast("long") * F.lit(256)
        + p[3].try_cast("long")
    )


def let(value: Column, body) -> Column:
    """``body(x)`` with ``x`` bound to ``value``: a one-element ``transform``
    whose lambda variable stands in for ``value``, so the tree holds
    ``value`` once however often ``body`` refers to it."""
    return F.element_at(F.transform(F.array(value), body), 1)


def _ip6_hex(s0: Column) -> Column:
    """Uppercase 32-char hex of a lowercased, trimmed IPv6 literal, or NULL
    when it is not one: ``::`` zero-compression and an embedded dotted-quad
    tail (``::ffff:1.2.3.4``), like Go's net.ParseIP."""
    def tail_as_words(v4: Column) -> Column:
        # embedded dotted-quad tail -> two hex words
        return F.when(v4 == "", s0).otherwise(let(_ip4_to_long(v4), lambda n: F.concat(
            F.regexp_replace(s0, _IPV4_TAIL_RE, ":"),
            F.lower(F.hex(F.shiftright(n, 16))), F.lit(":"),
            F.lower(F.hex(n.bitwiseAND(F.lit(0xFFFF)))))))

    def groups(s: Column) -> Column:
        # a single leading/trailing ':' (not part of '::') is invalid per
        # net.ParseIP (':1:2:3:4:5:6:7:8'), but the empty-group filter
        # would otherwise silently accept it as 8 words
        shape_ok = (s.rlike(r"^[0-9a-f:]+$") & ~s.contains(":::")
                    & ~s.rlike(r"^:[^:]") & ~s.rlike(r"[^:]:$"))
        # the non-empty ':'-groups on each side of the '::'
        halves = F.transform(F.split(s, "::"), lambda h: F.filter(
            F.split(h, ":"), lambda g: g != ""))
        return let(halves, lambda h: F.when(shape_ok, let(
            F.size(F.flatten(h)), lambda n: F.when(
                (F.size(h) == 2) & (n <= 7),
                F.concat(F.element_at(h, 1), F.array_repeat(F.lit("0"), 8 - n),
                         F.element_at(h, 2)),
            ).when((F.size(h) == 1) & (n == 8), F.element_at(h, 1)))))

    def to_hex(full: Column) -> Column:
        return F.when(F.forall(full, lambda g: F.length(g) <= 4), F.upper(
            F.array_join(F.transform(full, lambda g: F.lpad(g, 4, "0")), "")))

    s = let(F.regexp_extract(s0, _IPV4_TAIL_RE, 1), tail_as_words)
    return let(let(s, groups), to_hex)


def ip_hex(col: Column) -> Column:
    """Uppercase hex of an address's network-order bytes: 8 chars for IPv4,
    32 for IPv6, NULL when the column (cast to string) is not an address.
    IPv4 must be a strict dotted quad; IPv6 is parsed by :func:`_ip6_hex`.
    Each intermediate is bound once (:func:`let`), so the analyzed tree
    stays small and is the same parse for every caller."""
    return let(col.cast("string"), lambda ip: F.when(
        ip.rlike(_IPV4_RE), F.lpad(F.hex(_ip4_to_long(ip)), 8, "0"),
    ).otherwise(_ip6_hex(F.lower(F.trim(ip)))))


def mask_hex(hexcol: Column, plen: int) -> Column:
    """First ``plen`` bits of a hex-encoded address, as the hex prefix
    string: whole nibbles verbatim + the next nibble masked. ``plen`` is a
    plan-time constant, so this folds to a substring + tiny arithmetic."""
    nib, rem = plen // 4, plen % 4
    body = F.substring(hexcol, 1, nib) if nib else F.lit("")
    if rem:
        step = 16 >> rem
        nibble = F.conv(F.substring(hexcol, nib + 1, 1), 16, 10).cast("int")
        body = F.concat(body, F.conv(nibble - nibble % step, 10, 16))
    return body


def cidr_key(cidr: str) -> tuple[int, int, str]:
    """A CIDR or bare address as (hex length of its family, prefix length,
    the :func:`mask_hex` of its network address): what an :func:`ip_hex`
    inside it masks to. Host bits are ignored; raises ``ValueError`` for
    anything ``ipaddress`` does not parse."""
    import ipaddress

    net = ipaddress.ip_network(str(cidr).strip(), strict=False)
    # the network address has its host bits zeroed: the key is its prefix
    hx = net.network_address.packed.hex().upper()
    return len(hx), net.prefixlen, hx[:(net.prefixlen + 3) // 4]


def cidr_match(hexcol: Column, key: tuple[int, int, str]) -> Column:
    """Whether an :func:`ip_hex` column lies in the :func:`cidr_key`
    ``key``; FALSE, never NULL, for a NULL address."""
    width, plen, prefix = key
    return (hexcol.isNotNull() & (F.length(hexcol) == width)
            & (mask_hex(hexcol, plen) == prefix))


def network_keys(nets: Any) -> list[tuple[int, int, str]]:
    """The :func:`cidr_key` of each network of a ``network`` argument (one
    name or CIDR, or a list), the named ranges expanded."""
    return [cidr_key(c) for n in (nets if isinstance(nets, list) else [nets])
            for c in NAMED_NETWORKS.get(n, [n])]


def in_networks(col: Column, keys: list[tuple[int, int, str]]) -> Column:
    """Whether the address column lies in any of the networks ``keys``:
    the address is parsed once."""
    def any_match(h: Column) -> Column:
        out = F.lit(False)
        for k in keys:
            out = out | cidr_match(h, k)
        return out
    return let(ip_hex(col), any_match)


def _false_if_null(c: Column) -> Column:
    """NULL→FALSE without breaking predicate pushdown: ``coalesce(p, false)``
    is opaque to the parquet filter translator, while ``isnotnull(col) AND p``
    pushes down — callers therefore pass null-guarded conjunctions where
    possible and only fall back to coalesce for complex leaves."""
    return F.coalesce(c, F.lit(False))


def _leaf_fields(df: DataFrame, mapping: dict[str, Any]):
    for field, arg in mapping.items():
        yield field, get_path(df, field), has_path(df.schema, field), arg


_RANGE_OPS = {"gt": Column.__gt__, "gte": Column.__ge__,
              "lt": Column.__lt__, "lte": Column.__le__}
_LEAF_KINDS = ("has_fields", "equals", "contains", "regexp", "range", "network")


def check_condition(cfg: Any) -> None:
    """Raise the ``ValueError`` :func:`compile_condition` would raise for
    ``cfg`` on any frame: a block that is not a single-key dict, an unknown
    kind or ``range`` op, a ``network`` that :func:`cidr_key` rejects.
    Stages call it when they are built."""
    if not isinstance(cfg, dict) or len(cfg) != 1:
        raise ValueError(f"condition must be a single-key dict, got: {cfg!r}")
    (kind, arg), = cfg.items()
    if kind in ("and", "or"):
        for sub in arg:
            check_condition(sub)
    elif kind == "not":
        check_condition(arg)
    elif kind == "range":
        for bounds in arg.values():
            for op in bounds:
                if op not in _RANGE_OPS:
                    raise ValueError(f"range: unknown op {op!r}")
    elif kind == "network":
        for nets in arg.values():
            network_keys(nets)
    elif kind not in _LEAF_KINDS:
        raise ValueError(f"unknown condition kind: {kind!r}")


def compile_condition(df: DataFrame, cfg: dict[str, Any]) -> Column:
    """Compile a condition config dict against ``df``'s schema.

    Multiple keys inside one ``equals``/``contains``/... block AND together,
    matching the reference's NewCondition building one matcher per field.
    """
    check_condition(cfg)
    (kind, arg), = cfg.items()

    if kind == "and":
        out = F.lit(True)
        for sub in arg:
            out = out & compile_condition(df, sub)
        return out
    if kind == "or":
        out = F.lit(False)
        for sub in arg:
            out = out | compile_condition(df, sub)
        return out
    if kind == "not":
        # NULL from the inner condition must read as FALSE before negation
        # (reference: no-match → false → not → true)
        return ~_false_if_null(compile_condition(df, arg))

    if kind == "has_fields":
        fields = arg if isinstance(arg, list) else [arg]
        out = F.lit(True)
        for fld in fields:
            if not has_path(df.schema, fld):
                return F.lit(False)
            out = out & get_path(df, fld).isNotNull()
        return out

    out = F.lit(True)
    if kind == "equals":
        for fld, col, present, val in _leaf_fields(df, arg):
            if not present:
                return F.lit(False)
            ftype = path_type(df.schema, fld)
            if isinstance(val, bool):
                lhs = col if isinstance(ftype, T.BooleanType) else col.try_cast("boolean")
            elif isinstance(val, int):
                lhs = col if isinstance(ftype, _INTEGRAL) else col.try_cast("long")
            else:
                val = str(val)
                lhs = col if isinstance(ftype, T.StringType) else col.cast("string")
            # isNotNull & (=) instead of coalesce: identical semantics,
            # and both conjuncts push down into the parquet scan
            out = out & col.isNotNull() & (lhs == F.lit(val))
        return out
    if kind == "contains":
        for fld, col, present, val in _leaf_fields(df, arg):
            if not present:
                return F.lit(False)
            ftype = path_type(df.schema, fld)
            lhs = col if isinstance(ftype, T.StringType) else col.cast("string")
            out = out & col.isNotNull() & lhs.contains(str(val))
        return out
    if kind == "regexp":
        for fld, col, present, val in _leaf_fields(df, arg):
            if not present:
                return F.lit(False)
            ftype = path_type(df.schema, fld)
            lhs = col if isinstance(ftype, T.StringType) else col.cast("string")
            out = out & col.isNotNull() & lhs.rlike(str(val))
        return out
    if kind == "range":
        for fld, col, present, bounds in _leaf_fields(df, arg):
            if not present:
                return F.lit(False)
            ftype = path_type(df.schema, fld)
            numeric = isinstance(ftype, _NUMERIC)
            num = col if numeric else col.try_cast("double")
            out = out & col.isNotNull()
            for op, v in bounds.items():
                out = out & _RANGE_OPS[op](num, F.lit(v if numeric else float(v)))
        return out
    # network, the last kind check_condition lets through
    for _fld, col, present, nets in _leaf_fields(df, arg):
        if not present:
            return F.lit(False)
        out = out & in_networks(col, network_keys(nets))
    return out
