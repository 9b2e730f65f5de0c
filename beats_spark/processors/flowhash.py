"""community_id flow hash (Corelight Community ID v1 spec).

Reference: libbeat/processors/communityid/communityid.go +
libbeat/common/flowhash/communityid.go — seed(2BE) ‖ src_ip ‖ dst_ip ‖
proto ‖ 0x00 [‖ sport(2BE) ‖ dport(2BE)], endpoints sorted so
(src_ip, src_port) ≤ (dst_ip, dst_port) (flow.go:88-91), ICMP type/code
mapped to port equivalents (communityid.go:127-132, icmpV4Equiv/
icmpV6Equiv tables), then "1:" + base64(sha1(bytes)).

Pure JVM columns end-to-end: hex/unhex/lpad build the big-endian byte
string, sha1 + base64 finish it — no UDF, codegen-friendly, null-safe
(any missing required field → NULL id, the reference's skip behavior).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from beats_spark.conditions import ip_hex
from beats_spark.event import Fields, get_path, has_path
from beats_spark.processors.base import Stage, register

PROTO_NUMBERS = {
    "icmp": 1, "igmp": 2, "tcp": 6, "udp": 17, "gre": 47,
    "ipv6-icmp": 58, "icmpv6": 58, "sctp": 132,
}
_PORTFUL = (6, 17, 132, 1, 58)  # tcp udp sctp icmp icmpv6 get port bytes

# icmpV4Equiv / icmpV6Equiv (flowhash/communityid.go): request<->reply pairs
ICMP4_EQUIV = {8: 0, 0: 8, 13: 14, 14: 13, 15: 16, 10: 9, 9: 10, 17: 18, 18: 17}
ICMP6_EQUIV = {128: 129, 129: 128, 133: 134, 134: 133, 135: 136, 136: 135,
               130: 131}


def _u16be(n: Column) -> Column:
    return F.unhex(F.lpad(F.hex(n.cast("int")), 4, "0"))


def _u8(n: Column) -> Column:
    return F.unhex(F.lpad(F.hex(n.cast("int")), 2, "0"))


def _gate(n: Column, hi: int) -> Column:
    """NULL out values outside [0, hi]: lpad TRUNCATES longer strings, so a
    port > 65535 (hex '10000' -> '1000') or a negative value (two's-complement
    hex) would silently produce wrong bytes and a plausible-but-wrong
    community id, where the reference's uint16/uint8 types can never see such
    input. Applied to the raw input columns (cheap attribute refs) rather
    than inside _u16be/_u8, where the guard would triplicate the large
    sorted-endpoint CASE subtrees and blow up codegen."""
    return F.when((n >= 0) & (n <= hi), n)


def _equiv_chain(t: Column, table: dict[int, int]) -> Column:
    out = F.lit(None).cast("int")
    for k, v in table.items():
        out = F.when(t == k, F.lit(v)).otherwise(out)
    return out


@register("community_id")
def community_id(cfg: dict[str, Any]) -> Stage:
    unknown = set(cfg) - {"fields", "target", "seed"}
    if unknown:
        raise ValueError(f"community_id: unknown config keys {sorted(unknown)}")
    f = cfg.get("fields", {})
    src_ip_f = f.get("source_ip", "source.ip")
    src_p_f = f.get("source_port", "source.port")
    dst_ip_f = f.get("destination_ip", "destination.ip")
    dst_p_f = f.get("destination_port", "destination.port")
    icmp_t_f = f.get("icmp_type", "icmp.type")
    icmp_c_f = f.get("icmp_code", "icmp.code")
    transport_f = f.get("transport", "network.transport")
    iana_f = f.get("iana_number", "network.iana_number")
    target = cfg.get("target", "network.community_id")
    seed = int(cfg.get("seed", 0))
    if not 0 <= seed <= 0xFFFF:
        raise ValueError("community_id: seed must be a uint16")

    class CommunityID(Stage):
        def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
            def col_or_null(path: str, t: str) -> Column:
                if has_path(df.schema, path):
                    return get_path(df, path).cast(t)
                return F.lit(None).cast(t)

            proto_name = F.lower(col_or_null(transport_f, "string"))
            proto_map = F.create_map(
                *[F.lit(x) for kv in PROTO_NUMBERS.items() for x in kv]
            )
            proto = _gate(F.coalesce(
                col_or_null(iana_f, "int"), proto_map[proto_name]
            ), 0xFF)
            src_ip, dst_ip = col_or_null(src_ip_f, "string"), col_or_null(dst_ip_f, "string")
            sp = _gate(col_or_null(src_p_f, "int"), 0xFFFF)
            dp = _gate(col_or_null(dst_p_f, "int"), 0xFFFF)

            is_icmp4, is_icmp6 = proto == 1, proto == 58
            # a flow is hashed even when ICMP type/code are unavailable:
            # both default to 0 unless BOTH are present
            # (communityid.go:173-179 "Return a flow even if...")
            raw_t = _gate(col_or_null(icmp_t_f, "int"), 0xFF)
            raw_c = _gate(col_or_null(icmp_c_f, "int"), 0xFF)
            both = raw_t.isNotNull() & raw_c.isNotNull()
            icmp_t = F.when(both, raw_t).otherwise(F.lit(0))
            icmp_c = F.when(both, raw_c).otherwise(F.lit(0))
            equiv = F.when(is_icmp4, _equiv_chain(icmp_t, ICMP4_EQUIV)).when(
                is_icmp6, _equiv_chain(icmp_t, ICMP6_EQUIV))
            one_way = (is_icmp4 | is_icmp6) & equiv.isNull()
            sp = F.when(is_icmp4 | is_icmp6, icmp_t).otherwise(sp)
            dp = F.when(
                is_icmp4 | is_icmp6, F.coalesce(equiv, icmp_c)
            ).otherwise(dp)

            # Stage the big subtrees (the address parses and
            # the icmp-equiv port CASEs) as temp columns: the sort/select
            # below references each of them several times, and inlining
            # them that many times blows up codegen. As attribute refs the
            # downstream expressions stay tiny (CollapseProject keeps
            # expensive multi-referenced aliases staged, SPARK-36718).
            f = Fields(df)
            proto, sp, dp, sh, dh, one_way = f.temps(
                [proto, sp, dp, ip_hex(src_ip), ip_hex(dst_ip), one_way])

            # bytes.Compare via the hex strings (lexicographic hex == byte
            # order; equal lengths within one address family)
            sorted_ = (sh < dh) | ((sh == dh) & (sp < dp))
            keep = one_way | sorted_
            a_ip = F.unhex(F.when(keep, sh).otherwise(dh))
            b_ip = F.unhex(F.when(keep, dh).otherwise(sh))
            a_p = F.when(keep, sp).otherwise(dp)
            b_p = F.when(keep, dp).otherwise(sp)

            head = F.concat(
                F.unhex(F.lit(f"{seed:04x}")), a_ip, b_ip, _u8(proto),
                F.unhex(F.lit("00")),
            )
            portful = proto.isin(*_PORTFUL)
            payload = F.when(
                portful, F.concat(head, _u16be(a_p), _u16be(b_p))
            ).otherwise(head)
            cid = F.concat(F.lit("1:"), F.base64(F.unhex(F.sha1(payload))))
            return f.set(target, cid).apply(where=cond)

    return CommunityID()
