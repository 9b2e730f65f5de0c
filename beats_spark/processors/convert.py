"""Type/encoding processors: convert, timestamp, decode_json_fields,
decode_csv_fields — all pure column expressions.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, functions as F

from beats_spark.event import Fields, set_error_message
from beats_spark.processors.base import Stage, register

_CONVERT_TYPES = {
    "integer": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "boolean": "boolean",
}

_IPV4 = r"^(\d{1,3}\.){3}\d{1,3}$"
_IPV6 = r"^([0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}$"


@register("convert")
def convert(cfg: dict[str, Any]) -> Stage:
    """Cast fields (convert/convert.go:74,170-197; types config.go:60-84).
    ``mode: copy`` keeps the source, ``rename`` moves it. ``ip`` validates
    and keeps the string. Cast failure → null (the columnar analogue of the
    reference's per-event error; use fail_on_error=False semantics)."""
    rules = cfg.get("fields", [])
    ignore_missing = cfg.get("ignore_missing", False)
    mode = cfg.get("mode", "copy")

    class Convert(Stage):
        def updates(self, f: Fields) -> None:
            # ``mode: rename`` deletes each source after its write: a later
            # rule then reads it as missing, and a later write re-creates it
            for r in rules:
                src = r["from"]
                dst = r.get("to", src)
                typ = r.get("type", "string")
                if not f.has(src):
                    if ignore_missing:
                        continue
                    raise ValueError(f"convert: missing field {src!r}")
                col = f.get(src)
                if typ == "ip":
                    s = col.cast("string")
                    new = F.when(s.rlike(_IPV4) | s.rlike(_IPV6), s)
                elif typ in _CONVERT_TYPES:
                    new = col.try_cast(_CONVERT_TYPES[typ])
                else:
                    raise ValueError(f"convert: unknown type {typ!r}")
                f.set(dst, new)
                if mode == "rename" and dst != src:
                    f.drop(src)

    return Convert()


# Go reference-time layouts → JDBC/Spark datetime patterns (timestamp
# processor config uses Go layouts; we translate a curated subset at plan
# time and also accept Spark patterns directly).
_GO_LAYOUTS = {
    "2006-01-02T15:04:05Z07:00": "yyyy-MM-dd'T'HH:mm:ssXXX",  # RFC3339
    "2006-01-02T15:04:05.999Z07:00": "yyyy-MM-dd'T'HH:mm:ss.SSSXXX",
    "2006-01-02T15:04:05.999999Z07:00": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "2006-01-02 15:04:05": "yyyy-MM-dd HH:mm:ss",
    "2006-01-02": "yyyy-MM-dd",
    "02/Jan/2006:15:04:05 -0700": "dd/MMM/yyyy:HH:mm:ss Z",
    "Jan 2 15:04:05": "MMM d HH:mm:ss",
    "UNIX": "UNIX",
    "UNIX_MS": "UNIX_MS",
}


def _translate_layout(layout: str) -> str:
    return _GO_LAYOUTS.get(layout, layout)


@register("timestamp")
def timestamp(cfg: dict[str, Any]) -> Stage:
    """Parse a string field into @timestamp ≡ ``ts``
    (timestamp/timestamp.go:86): first layout that parses wins; optional
    source ``timezone`` applied when the layout has no offset."""
    fld = cfg["field"]
    layouts = [_translate_layout(l) for l in cfg.get("layouts", [])]
    tz = cfg.get("timezone", "UTC")
    target = cfg.get("target_field", "ts")
    ignore_missing = cfg.get("ignore_missing", False)
    ignore_failure = cfg.get("ignore_failure", False)
    test_samples = list(cfg.get("test", []))
    validated = []

    class Timestamp(Stage):
        def _validate(self, spark) -> None:
            """``test`` samples must parse under some layout at plan time
            (timestamp/config.go:23-30 Validate) — one tiny driver-side
            action, never per-row."""
            if validated or not test_samples:
                return
            probe = spark.range(1)
            for sample in test_samples:
                attempts = [
                    F.try_to_timestamp(F.lit(sample), F.lit(lay))
                    for lay in layouts if lay not in ("UNIX", "UNIX_MS")
                ] or [F.try_to_timestamp(F.lit(sample))]
                row = probe.select(F.coalesce(*attempts).alias("t")).first()
                if row["t"] is None:
                    raise ValueError(
                        f"timestamp: test sample {sample!r} does not parse "
                        f"with layouts {layouts!r}"
                    )
            validated.append(True)

        def updates(self, f: Fields) -> None:
            self._validate(f.df.sparkSession)
            if not f.has(fld):
                if ignore_missing:
                    return
                raise ValueError(f"timestamp: missing field {fld!r}")
            src = f.get(fld).cast("string")
            attempts = []
            for lay in layouts:
                if lay == "UNIX":
                    # numeric epoch — NOT a string parse (a double rendered
                    # back to string is '1.7E9', which try_to_timestamp
                    # rejects); timestamp_seconds handles fractional too
                    attempts.append(F.timestamp_seconds(src.try_cast("double")))
                elif lay == "UNIX_MS":
                    attempts.append(F.timestamp_millis(src.try_cast("long")))
                elif "X" in lay or "Z" in lay.replace("'", ""):
                    attempts.append(F.try_to_timestamp(src, F.lit(lay)))
                else:
                    parsed_lay = F.try_to_timestamp(src, F.lit(lay))
                    # year-less layout (classic syslog; the translated JAVA
                    # pattern has no y/u token outside quoted literals):
                    # Spark defaults the missing year to 1970; the
                    # reference substitutes the CURRENT year (timestamp.go
                    # year-0 handling), taken from current_date() when the
                    # query runs, so a kept plan follows the year. INTERVAL
                    # arithmetic keeps the time of day (add_months would
                    # truncate to a date).
                    import re as _re

                    unquoted = _re.sub(r"'[^']*'", "", lay)
                    if "y" not in unquoted and "u" not in unquoted:
                        parsed_lay = parsed_lay + F.make_interval(
                            years=F.year(F.current_date()) - 1970)
                    attempts.append(F.to_utc_timestamp(parsed_lay, tz))
            parsed = F.coalesce(*attempts) if attempts else F.try_to_timestamp(src)
            f.set(target, F.coalesce(parsed, f.get(target)) if ignore_failure else parsed)

    return Timestamp()


@register("decode_json_fields")
def decode_json_fields(cfg: dict[str, Any]) -> Stage:
    """Parse JSON string field(s) (actions/decode_json_fields.go:51-176).

    Needs a schema to stay columnar: pass ``schema`` (DDL string) or the
    stage samples non-null values at plan time via schema_of_json — a
    driver-side one-row action, never per-row Python."""
    fields = cfg.get("fields", [])
    target = cfg.get("target")  # None → overwrite the field itself
    schema_ddl = cfg.get("schema")
    add_error_key = cfg.get("add_error_key", False)

    class DecodeJson(Stage):
        samples_input = not schema_ddl

        def apply(self, df: DataFrame, cond: Column | None = None) -> DataFrame:
            f = Fields(df)
            for fld in fields:
                if not f.has(fld):
                    continue
                col = f.get(fld).cast("string")
                if schema_ddl:
                    parsed = F.from_json(col, schema_ddl)
                else:
                    sample = (
                        df.select(col.alias("j"))
                        .filter(F.col("j").isNotNull())
                        .limit(1)
                        .collect()
                    )
                    if not sample:
                        continue
                    ddl = df.sparkSession.range(1).select(
                        F.schema_of_json(F.lit(sample[0]["j"])).alias("s")
                    ).collect()[0]["s"]
                    parsed = F.from_json(col, ddl)
                if add_error_key:
                    # PERMISSIVE from_json yields a null-FIELD struct on bad
                    # input, never a NULL struct, so failure is detected
                    # with a corrupt-record probe (readjson's addError path)
                    probe = F.from_json(
                        col, "struct<_corrupt_record: string>",
                        {"columnNameOfCorruptRecord": "_corrupt_record"},
                    )
                    bad = col.isNotNull() & probe["_corrupt_record"].isNotNull()
                    set_error_message(f, bad if cond is None else cond & bad,
                                      "Error decoding JSON field")
                # a decoded struct cannot also hold the string of rows the
                # condition skips: those rows get NULL
                f.set(target or fld, parsed if cond is None else F.when(cond, parsed))
            return f.apply()

    return DecodeJson()


@register("decode_csv_fields")
def decode_csv_fields(cfg: dict[str, Any]) -> Stage:
    """CSV string → array<string> (decode_csv_fields.go:42-130).

    Quote-aware: the separator regex splits only OUTSIDE double quotes
    (lookahead for an even number of quotes ahead), then quotes are
    stripped and doubled quotes unescaped — encoding/csv semantics for flat
    rows, all JVM-side (no UDF)."""
    pairs = cfg.get("fields", {})
    sep = cfg.get("separator", ",")
    trim_leading = cfg.get("trim_leading_space", False)

    import re as _re

    split_rx = _re.escape(sep) + r'(?=(?:[^"]*"[^"]*")*[^"]*$)'

    class DecodeCsv(Stage):
        def updates(self, f: Fields) -> None:
            for src, dst in pairs.items():
                if not f.has(src):
                    continue
                arr = F.split(f.get(src).cast("string"), split_rx)
                if trim_leading:
                    arr = F.transform(arr, lambda v: F.regexp_replace(v, r"^ +", ""))
                arr = F.transform(
                    arr,
                    lambda v: F.regexp_replace(
                        F.regexp_replace(v, r'^"(.*)"$', "$1"), '""', '"'
                    ),
                )
                f.set(dst, arr)

    return DecodeCsv()
