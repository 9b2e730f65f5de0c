"""Syslog header parsing as a processor stage.

The reference ships syslog as a socket INPUT (filebeat/input/syslog:
rfc3164_parser.go, rfc5424_parser.go, event.go — priority = facility<<3 |
severity, event.go:26-27); the socket transport is out of scope for a batch
table pipeline, but the PARSER is routinely needed on syslog lines landed
in files/object storage. Re-expressed here as pure JVM column algebra
(anchored regex + arithmetic), schema-stable, usable anywhere in the chain.

Output struct fields (NULL on parse failure, plus the usual
``log.flags`` failure flag semantics via the Stage wrapper):
  facility int, severity int, timestamp string, hostname string,
  program string, pid int, msg string, version int (5424 only)

Config: ``field`` (default message), ``target_prefix`` (default syslog),
``format``: ``rfc3164`` | ``rfc5424`` | ``auto`` (default — 5424 when the
version digit follows the PRI), ``ignore_failure`` (default True).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, functions as F

from beats_spark.event import Fields, append_flag, set_error_message
from beats_spark.processors.base import Stage, register

# <PRI>MMM dd HH:mm:ss HOST TAG[PID]: MSG       (rfc3164_parser.go)
_RX_3164 = (
    r"^<(\d{1,3})>"
    r"([A-Z][a-z]{2} [ \d]\d \d{2}:\d{2}:\d{2}) "
    r"(\S+) "
    r"([^\s:\[]+)(?:\[(\d+)\])?:? ?"
    r"(.*)$"
)
# <PRI>VERSION TS HOST APP PROCID MSGID (SD|-) MSG   (rfc5424_parser.go)
_RX_5424 = (
    r"^<(\d{1,3})>(\d) "
    r"(\S+) (\S+) (\S+) (\S+) (\S+) "
    r"(?:\[.*?\] ?|- ?)"
    r"(.*)$"
)


def _nullif_dash(c: Column) -> Column:
    return F.when((c != "") & (c != "-"), c)


def _parse_3164(line: Column) -> tuple[Column, dict[str, Column]]:
    ok = line.rlike(_RX_3164)
    g = lambda i: F.regexp_extract(line, _RX_3164, i)  # noqa: E731
    pri = g(1).try_cast("int")
    return ok, {
        "facility": F.shiftright(pri, 3),          # event.go facilityShift
        "severity": pri.bitwiseAND(F.lit(7)),      # event.go severityMask
        "timestamp": g(2),
        "hostname": _nullif_dash(g(3)),
        "program": _nullif_dash(g(4)),
        "pid": F.nullif(g(5), F.lit("")).try_cast("int"),
        "msg": g(6),
        "version": F.lit(None).cast("int"),
    }


def _parse_5424(line: Column) -> tuple[Column, dict[str, Column]]:
    ok = line.rlike(_RX_5424)
    g = lambda i: F.regexp_extract(line, _RX_5424, i)  # noqa: E731
    pri = g(1).try_cast("int")
    return ok, {
        "facility": F.shiftright(pri, 3),
        "severity": pri.bitwiseAND(F.lit(7)),
        "timestamp": _nullif_dash(g(3)),
        "hostname": _nullif_dash(g(4)),
        "program": _nullif_dash(g(5)),
        "pid": _nullif_dash(g(6)).try_cast("int"),
        "msg": g(8),
        "version": g(2).try_cast("int"),
    }


FIELD_ORDER = ["facility", "severity", "timestamp", "hostname", "program",
               "pid", "msg", "version"]


@register("syslog")
def syslog(cfg: dict[str, Any]) -> Stage:
    unknown = set(cfg) - {"field", "target_prefix", "format", "ignore_failure"}
    if unknown:
        raise ValueError(f"syslog: unknown config keys {sorted(unknown)}")
    fld = cfg.get("field", "message")
    target = cfg.get("target_prefix", "syslog")
    fmt = cfg.get("format", "auto")
    if fmt not in ("auto", "rfc3164", "rfc5424"):
        raise ValueError(f"syslog: unknown format {fmt!r}")
    ignore_failure = bool(cfg.get("ignore_failure", True))

    class Syslog(Stage):
        def updates(self, f: Fields) -> None:
            line = f.get(fld).cast("string")
            ok3, f3 = _parse_3164(line)
            ok5, f5 = _parse_5424(line)
            if fmt == "rfc3164":
                ok, fields = ok3, f3
            elif fmt == "rfc5424":
                ok, fields = ok5, f5
            else:
                # format_check.go: a version digit right after the PRI
                # closes means RFC 5424
                is5424 = line.rlike(r"^<\d{1,3}>\d ")
                ok = F.when(is5424, ok5).otherwise(ok3)
                fields = {
                    k: F.when(is5424, f5[k]).otherwise(f3[k])
                    for k in FIELD_ORDER
                }
            ok = F.coalesce(ok, F.lit(False))
            payload = F.when(ok, F.struct(
                *[fields[k].alias(k) for k in FIELD_ORDER]
            ))
            f.set(target, payload)
            append_flag(f, "syslog_parsing_error", cond=~ok)
            if not ignore_failure:
                set_error_message(f, ~ok, "syslog parse failure")

    return Syslog()
