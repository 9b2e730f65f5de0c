"""Fingerprint: bit-exact content hash of selected fields.

Reference: libbeat/processors/fingerprint — Run at fingerprint.go:66-81,
serialization writeFields at :88-110 (``|k|v`` per field + trailing ``|``),
fields sorted+deduped (fingerprint.go:52-55 via StringSet.ToSlice), times
hashed in UTC rendered with Go's time.String() format, hex encoding default
(config.go:29-35), hashes md5/sha1/sha256/sha384/sha512/xxhash (hash.go).

All hashes are Go-byte-exact and every one is a JVM expression (whole-stage
codegen, no Python worker). ``xxhash`` matches cespare/xxhash (XXH64 seed 0
over the serialized UTF-8 bytes, test vector fingerprint_test.go:92)
through Spark's seed-chained ``xxhash64`` (see :data:`_XXH_SEED0`). Every
digest then takes the same hex → hex/base64/base32 tail: like the
reference's Run, any method takes any encoding.

Caveat (documented divergence): float rendering matches Go ``%v`` for
typical values via the shortest round-trip repr; exotic exponent
formatting can differ.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql import types as T

from beats_spark.event import Fields, get_path, has_path, path_type
from beats_spark.processors.base import Stage, register


def render_go_value(df: DataFrame, fld: str) -> Column:
    """Render a column the way Go ``fmt.Fprintf("%v", v)`` does for the
    canonical event types (string/int/bool/float/time)."""
    col = get_path(df, fld)
    dt = path_type(df.schema, fld)
    if isinstance(dt, T.TimestampType):
        # Go time.String(): "2006-01-02 15:04:05.999999999 +0000 UTC"
        # (fraction trimmed of trailing zeros, dot omitted when zero).
        # date_format renders in the SESSION timezone; shift so the wall
        # time is UTC regardless of session tz — otherwise the same event
        # fingerprints differently across differently-configured clusters
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")
        if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
            col = F.to_utc_timestamp(col, tz)
        base = F.date_format(col, "yyyy-MM-dd HH:mm:ss")
        frac = F.regexp_replace(F.date_format(col, "SSSSSS"), "0+$", "")
        with_frac = F.when(frac == "", base).otherwise(F.concat(base, F.lit("."), frac))
        return F.concat(with_frac, F.lit(" +0000 UTC"))
    if isinstance(dt, T.BooleanType):
        # NULL must stay NULL so serialize_fields renders '<nil>', not
        # 'false'
        return F.when(col.isNull(), F.lit(None).cast("string")).when(
            col, F.lit("true")).otherwise(F.lit("false"))
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        # shortest repr; strip a trailing ".0" like Go %v for whole floats
        return F.regexp_replace(col.cast("string"), r"\.0$", "")
    return col.cast("string")


def serialize_fields(df: DataFrame, fields: list[str], ignore_missing: bool) -> Column:
    """The ``|k|v|k|v|`` serialization (fingerprint.go:88-110)."""
    ordered = sorted(set(fields))
    parts: list[Column] = []
    for k in ordered:
        if not has_path(df.schema, k):
            if ignore_missing:
                continue
            raise ValueError(f"fingerprint: missing field {k!r}")
        v = F.coalesce(render_go_value(df, k), F.lit("<nil>"))
        parts.extend([F.lit("|" + k + "|"), v])
    parts.append(F.lit("|"))
    return F.concat(*parts)


# Spark's xxhash64(c1, c2, ...) hashes c1 with seed 42 and each later child
# with the previous result as its seed. XXH64 of one 8-byte input inverts
# step by step, and this long's seed-42 hash is 0, so
# xxhash64(lit(_XXH_SEED0), s) is XXH64 seed 0 over the UTF-8 bytes of s.
_XXH_SEED0 = -365884300664092260

_DIGEST_BYTES = {"md5": 16, "sha1": 20, "sha256": 32, "sha384": 48,
                 "sha512": 64, "xxhash": 8}

# conv(_, 16, 32) digits → the RFC 4648 base32 alphabet
_CONV32 = "0123456789ABCDEFGHIJKLMNOPQRSTUV"
_RFC4648_32 = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"


def hex_digest(serialized: Column, method: str) -> Column:
    """Lowercase hex digest of the UTF-8 bytes of ``serialized``."""
    if method == "md5":
        return F.md5(serialized)
    if method == "sha1":
        return F.sha1(serialized)
    if method in ("sha256", "sha384", "sha512"):
        return F.sha2(serialized, int(method[3:]))
    if method == "xxhash":
        # Go renders Sum64 big-endian: 16 lowercase hex chars
        return F.lower(F.lpad(
            F.hex(F.xxhash64(F.lit(_XXH_SEED0), serialized)), 16, "0"))
    raise ValueError(f"fingerprint: unknown method {method!r}")


def base32_of_hex(hex_col: Column, nbytes: int) -> Column:
    """RFC 4648 base32 (``=``-padded) of an ``nbytes``-byte hex digest:
    every 5 bytes (10 hex chars) are 8 base32 digits, which ``conv``
    renders in its own alphabet and ``translate`` maps to RFC 4648."""
    groups = -(-nbytes // 5)
    padded = F.rpad(hex_col, groups * 10, "0")
    digits = F.concat(*[
        F.lpad(F.conv(F.substring(padded, 10 * g + 1, 10), 16, 32), 8, "0")
        for g in range(groups)])
    rfc = F.translate(digits, _CONV32, _RFC4648_32)
    return F.rpad(F.substring(rfc, 1, -(-nbytes * 8 // 5)), groups * 8, "=")


def hash_column(serialized: Column, method: str, encoding: str) -> Column:
    method = method.lower()
    encoding = encoding.lower()
    hex_col = hex_digest(serialized, method)
    if encoding == "hex":
        return hex_col
    if encoding == "base64":
        return F.base64(F.unhex(hex_col))
    if encoding == "base32":
        return base32_of_hex(hex_col, _DIGEST_BYTES[method])
    raise ValueError(f"fingerprint: unknown encoding {encoding!r}")


@register("fingerprint")
def fingerprint(cfg: dict[str, Any]) -> Stage:
    fields = list(cfg.get("fields", []))
    if not fields:
        raise ValueError("fingerprint: fields required")
    method = cfg.get("method", "sha256")
    target = cfg.get("target_field", "fingerprint")
    encoding = cfg.get("encoding", "hex")
    if method.lower() not in _DIGEST_BYTES:
        raise ValueError(f"fingerprint: unknown method {method!r}")
    if encoding.lower() not in ("hex", "base64", "base32"):
        raise ValueError(f"fingerprint: unknown encoding {encoding!r}")
    ignore_missing = cfg.get("ignore_missing", False)

    class Fingerprint(Stage):
        def updates(self, f: Fields) -> None:
            ser = serialize_fields(f.df, fields, ignore_missing)
            f.set(target, hash_column(ser, method, encoding))

    return Fingerprint()


@register("add_id")
def add_id(cfg: dict[str, Any]) -> Stage:
    """Random unique id (add_id/add_id.go:50-64) — non-deterministic;
    use fingerprint for reproducible tests."""
    target = cfg.get("target_field", "_meta__id")

    class AddId(Stage):
        def updates(self, f: Fields) -> None:
            f.set(target, F.expr("uuid()"))

    return AddId()
