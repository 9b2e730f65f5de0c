"""The previous IP-address parse and CIDR match, kept as the test oracle.

These are the inline Column forms that ``conditions.ip_hex`` and
``conditions.cidr_match`` replaced: ``_ip6_words`` parses an IPv6 literal
into eight 16-bit words (re-inlining its subtrees wherever they are used),
``_ip_bytes`` gives the network-order address bytes that ``community_id``
hashed, and ``_cidr_match`` compares an address string against one CIDR,
IPv4 as a masked long and IPv6 word by word. The production forms must give
the same values: ``hex(_ip_bytes(ip))`` for ``ip_hex``, and
``coalesce(_cidr_match(ip, cidr), false)`` for ``cidr_match``
(``tests/test_ua_cidr.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from beats_spark.conditions import _IPV4_RE, _IPV4_TAIL_RE, _ip4_to_long


def _cidr4_match(col: Column, cidr: str) -> Column:
    net, bits_s = cidr.split("/")
    bits = int(bits_s)
    parts = [int(x) for x in net.split(".")]
    net_long = (parts[0] << 24) + (parts[1] << 16) + (parts[2] << 8) + parts[3]
    mask = ((1 << 32) - 1) ^ ((1 << (32 - bits)) - 1) if bits < 32 else (1 << 32) - 1
    return col.rlike(_IPV4_RE) & (
        _ip4_to_long(col).bitwiseAND(F.lit(mask)) == F.lit(net_long & mask)
    )


def _ip6_words(col: Column) -> Column:
    """Parse an IPv6 literal into an array<long> of eight 16-bit words, or
    NULL when the string is not valid IPv6. Pure Catalyst expressions
    (split / filter / conv) — conditions stay pushdown-friendly JVM code,
    no UDF. Handles ``::`` zero-compression and the embedded-IPv4 tail
    (``::ffff:1.2.3.4``), like Go's net.ParseIP (network.go matching)."""
    s = F.lower(F.trim(col))
    # embedded dotted-quad tail -> two hex words
    v4 = F.regexp_extract(s, _IPV4_TAIL_RE, 1)
    v4l = _ip4_to_long(v4)
    s = F.when(v4 == "", s).otherwise(
        F.concat(
            F.regexp_replace(s, _IPV4_TAIL_RE, ":"),
            F.lower(F.conv(F.shiftright(v4l, 16).cast("string"), 10, 16)),
            F.lit(":"),
            F.lower(F.conv(v4l.bitwiseAND(F.lit(0xFFFF)).cast("string"), 10, 16)),
        )
    )
    # a single leading/trailing ':' (not part of '::') is invalid per
    # net.ParseIP (':1:2:3:4:5:6:7:8'), but the empty-group filter below
    # would otherwise silently accept it as 8 words
    shape_ok = (
        s.rlike(r"^[0-9a-f:]+$")
        & ~s.contains(":::")
        & (F.size(F.split(s, "::")) <= 2)
        & ~s.rlike(r"^:[^:]")
        & ~s.rlike(r"[^:]:$")
    )
    parts = F.split(s, "::")
    has_dc = F.size(parts) == 2
    grp = lambda seg: F.filter(  # noqa: E731
        F.split(seg, ":"), lambda x: x != ""
    )
    left = grp(F.element_at(parts, 1))
    right = F.when(has_dc, grp(F.element_at(parts, 2))).otherwise(
        F.array().cast("array<string>")
    )
    n = F.size(left) + F.size(right)
    full = F.when(
        has_dc & (n <= 7),
        F.concat(left, F.array_repeat(F.lit("0"), 8 - n), right),
    ).otherwise(F.when(~has_dc & (n == 8), left))
    groups_ok = F.forall(full, lambda g: g.rlike("^[0-9a-f]{1,4}$"))
    words = F.transform(full, lambda g: F.conv(g, 16, 10).cast("long"))
    return F.when(shape_ok & full.isNotNull() & groups_ok, words)


def _cidr6_match(col: Column, cidr: str) -> Column:
    import ipaddress

    net = ipaddress.ip_network(cidr, strict=False)
    packed = net.network_address.packed
    net_words = [int.from_bytes(packed[i:i + 2], "big") for i in range(0, 16, 2)]
    bits = net.prefixlen
    words = _ip6_words(col)
    cond = words.isNotNull()
    full_words, rem = divmod(bits, 16)
    for i in range(full_words):
        cond = cond & (F.element_at(words, i + 1) == F.lit(net_words[i]))
    if rem:
        shift = 16 - rem
        cond = cond & (
            F.shiftright(F.element_at(words, full_words + 1), shift)
            == F.lit(net_words[full_words] >> shift)
        )
    return F.coalesce(cond, F.lit(False))


def _cidr_match(col: Column, cidr: str) -> Column:
    if "/" not in cidr:
        cidr = cidr + ("/128" if ":" in cidr else "/32")
    if ":" in cidr:
        return _cidr6_match(col, cidr)
    return _cidr4_match(col, cidr)


def _ip_bytes(ip: Column) -> Column:
    """network-byte-order address bytes: 4 for IPv4 (getRawIP's To4
    normalization), 16 for IPv6. Invalid addresses (octets > 255,
    non-IP strings) yield NULL → NULL community id, matching net.ParseIP
    failure → buildFlow nil."""
    v4 = F.unhex(F.lpad(F.hex(_ip4_to_long(ip)), 8, "0"))
    words = _ip6_words(ip)
    v6 = F.unhex(
        F.aggregate(
            words, F.lit(""),
            lambda acc, w: F.concat(acc, F.lpad(F.hex(w.cast("int")), 4, "0")),
        )
    )
    return F.when(ip.rlike(_IPV4_RE), v4).otherwise(v6)
