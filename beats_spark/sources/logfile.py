"""The log-file input: glob → lines → (decode) → (ndjson) → (multiline) →
limit → filters, as one declarative plan.

Reference path: filebeat/input/log/input.go:213 (``Run`` scans paths,
``matchesFile`` :363 applies include/exclude file filters) → harvester
(harvester.go:241) reads one file through the reader chain
(harvester.go:640-707: line → encode → json → strip_newline → multiline →
limit) and stamps ``message``, ``log.offset``, ``log.file.path``
(harvester.go:413-477 ``onMessage``).

Spark mapping:
- file discovery = the DataSource file index (``spark.read.text(paths)``
  with ``pathGlobFilter``/``recursiveFileLookup``) — pruning and task
  parallelism come from the scan, one task per split ≡ one harvester;
- ``log.file.path`` = ``F.input_file_name()``; ``log.offset`` (byte offset
  is not exposed by the text source) is represented as the stable line
  ordinal per file via a window over the split-local order;
- ndjson = ``F.from_json`` with ``keys_under_root``/``overwrite_keys``/
  ``add_error_key`` semantics (libbeat/reader/readjson/json.go:46-119);
- include/exclude_lines = ``rlike`` filters (harvester.go:497-514);
- multiline = the multiline Stage (libbeat/reader/multiline) keyed on the
  file path, ordered by the line ordinal;
- ``max_bytes`` = ``F.substring`` clamp (reader/readfile line limit).

At 100 TB: the scan parallelizes by file split. The UTF-8 path then
shuffles every line once: its line ordinal is a ``row_number`` window
partitioned by file path. The optional multiline sessionization is a
second shuffle keyed by file. Both are per-file state and bounded per
file. A non-UTF-8 charset reads whole files and takes ordinals from the
split, so it has no ordinal shuffle.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F


def _read_decoded_lines(spark: SparkSession, paths: list[str],
                        glob: str | None, encoding: str) -> DataFrame:
    """binaryFile scan → per-file charset decode → line split, Arrow-batched.

    Parallelism is per file (binaryFile does not split), matching the
    reference's one-harvester-per-file model; undecodable bytes are
    replaced (U+FFFD), like Go's transform.Chain fallback behavior."""
    import codecs

    codecs.lookup(encoding)  # plan-time validation: unknown charset raises

    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    bf = reader.load(paths).select("path", "content")

    def decode_batches(batches):
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {"message": [], "__path": [], "__offset": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                text = bytes(content).decode(encoding, errors="replace")
                lines = text.split("\n")
                if lines and lines[-1] == "":
                    lines.pop()  # trailing newline does not open a line
                lines = [ln[:-1] if ln.endswith("\r") else ln for ln in lines]
                out["message"].extend(lines)
                out["__path"].extend([path] * len(lines))
                out["__offset"].extend(range(len(lines)))
            yield pd.DataFrame(out)

    return bf.mapInPandas(
        decode_batches, "message string, __path string, __offset long"
    )


def read_log_files(
    spark: SparkSession,
    paths: str | list[str],
    *,
    glob: str | None = None,
    encoding: str | None = None,
    json: dict[str, Any] | None = None,
    json_schema: str | None = None,
    include_lines: list[str] | None = None,
    exclude_lines: list[str] | None = None,
    multiline: dict[str, Any] | None = None,
    max_bytes: int | None = None,
) -> DataFrame:
    """Read log files into the event envelope:
    ``message string, log struct<file:struct<path:string>, offset:bigint>``
    (+ parsed json fields under ``json`` or at root per config).
    """
    if isinstance(paths, str):
        paths = [paths]
    if encoding and encoding.lower() not in ("utf-8", "utf8"):
        # non-UTF-8 charsets (legacy latin-1 / shift-jis corpora): the text
        # source is UTF-8-only, so read whole files via binaryFile and
        # decode per FILE in an Arrow-batched stage — the analogue of the
        # encode reader in the harvester chain (libbeat/reader/readfile/
        # encode.go, used at harvester.go:678). One decode call per file,
        # not per line; line order within a file is inherently serial state
        # (one harvester per file), so no window is needed — ordinals fall
        # out of the split.
        df = _read_decoded_lines(spark, paths, glob, encoding)
    else:
        reader = spark.read
        if glob:
            reader = reader.option("pathGlobFilter", glob)
        df = reader.text(paths)  # column: value

        df = df.select(
            F.col("value").alias("message"),
            F.input_file_name().alias("__path"),
        )
        # stable per-file line ordinal ≡ harvester offset ordering. A window
        # per file is acceptable: line order within one file is inherently
        # serial state, exactly like the reference's single harvester
        # goroutine per file.
        w = Window.partitionBy("__path").orderBy(F.monotonically_increasing_id())
        df = df.withColumn("__offset", F.row_number().over(w).cast("long") - 1)

    if json is not None or json_schema is not None:
        # ndjson parses PER LINE and runs BEFORE multiline — the reference
        # chain is line → encode → json → strip_newline → multiline
        # (harvester.go:694 readjson.NewJSONReader, :700 multiline.New).
        # When both are configured, each raw line's JSON is parsed here and
        # the multiline stage below keeps the FIRST event's parsed fields
        # on join (its min_by group-first), matching filebeat.
        jcfg = json or {}
        unknown = set(jcfg) - {"keys_under_root", "overwrite_keys",
                               "add_error_key"}
        if unknown:
            # same strict-keys convention as the multiline stage: a
            # silently ignored key (message_key, expand_keys, …) would
            # change semantics without warning
            raise ValueError(f"logfile: unsupported json keys "
                             f"{sorted(unknown)}")
        schema = json_schema
        if schema is None:
            raise ValueError("logfile: json parsing needs json_schema DDL")
        # PERMISSIVE from_json yields a null-FIELD struct on bad input, not a
        # null struct; a corrupt-record column makes failure observable
        # (readjson's addError path, libbeat/reader/readjson/json.go:119)
        full_schema = f"{schema}, __corrupt string"
        parsed = F.from_json(
            F.col("message"), full_schema,
            {"columnNameOfCorruptRecord": "__corrupt"},
        )
        add_error_key = jcfg.get("add_error_key", False)
        df = df.withColumn("__jfull", parsed)
        bad = F.col("__jfull.__corrupt").isNotNull()
        # real DDL parser: naive comma/space splitting breaks on any
        # nested or parameterized type (map<string,int>, decimal(10,2))
        from pyspark.sql.types import _parse_datatype_string

        names = _parse_datatype_string(schema).fieldNames()
        clean = F.when(
            ~bad,
            F.struct(*[F.col(f"__jfull.{n}").alias(n) for n in names]),
        )
        df = df.withColumn("__json", clean)
        if add_error_key:
            df = df.withColumn(
                "error",
                F.when(bad & F.col("message").isNotNull(), F.struct(
                    F.lit("Error decoding JSON document").alias("message")
                )),
            )
        df = df.drop("__jfull")

    if multiline:
        from beats_spark.processors import build_stage

        cfg = {"field": "message", "partition_by": ["__path"],
               "order_by": ["__offset"], **multiline}
        df = build_stage("multiline", cfg).apply(df)

    # limit and line filters run AFTER multiline, on the JOINED event —
    # the reference reader chain is ... → multiline → limit
    # (harvester.go:640-707), and shouldExportLine applies include/exclude
    # to the combined multiline message (harvester.go:497-514): filtering
    # raw lines first would truncate joined events to their matching lines
    # and re-glue continuations onto the wrong neighbor.
    if max_bytes:
        # filebeat's limit is BYTES: truncate the utf-8 encoding, not a
        # character count (a multi-byte line would otherwise blow the
        # budget 3-4×); a rune split at the cut renders U+FFFD like the
        # reference's raw byte cut renders invalid bytes downstream
        df = df.withColumn(
            "message",
            F.decode(
                F.substring(F.encode("message", "utf-8"), 1, int(max_bytes)),
                "utf-8",
            ),
        )

    # include_lines keeps an event matching ANY pattern; exclude_lines
    # drops an event matching ANY pattern (MatchAny) — chained per-pattern
    # filters would AND the includes
    if include_lines:
        inc = F.lit(False)
        for pat in include_lines:
            inc = inc | F.col("message").rlike(pat)
        df = df.filter(inc)
    for pat in exclude_lines or []:
        df = df.filter(~F.col("message").rlike(pat))

    if json is not None or json_schema is not None:
        # key promotion runs LAST in the reader chain: the reference merges
        # parsed keys into the event at BUILD time
        # (jsontransform.WriteJSONKeys), after multiline joined raw lines
        # AND after shouldExportLine/limit ran on that joined raw text —
        # promoting earlier would let a JSON 'message' key replace the raw
        # line and feed the multiline pattern / include-exclude filters /
        # byte limit extracted values instead of line text. The joined
        # event keeps the FIRST line's parsed fields (__json rides through
        # the multiline agg as a group-first column).
        if jcfg.get("keys_under_root", False):
            overwrite = jcfg.get("overwrite_keys", False)
            for n in names:
                # 'log' would collide with the harvester envelope added
                # below; it is merged INTO the envelope there instead
                # (DeepUpdate semantics for the log map)
                if n == "log":
                    continue
                if n in df.columns and not overwrite:
                    continue
                df = df.withColumn(n, F.col("__json").getField(n))
            if "log" not in names:
                df = df.drop("__json")
        else:
            df = df.withColumnRenamed("__json", "json")

    # harvester envelope; a promoted json 'log' object contributes its
    # fields alongside file/offset (the reference DeepUpdates the log map)
    json_log_fields: list[Column] = []
    if "__json" in df.columns:
        jt = dict(zip(
            [f.name for f in df.schema["__json"].dataType.fields],
            [f.dataType for f in df.schema["__json"].dataType.fields],
        ))
        from pyspark.sql import types as T
        if isinstance(jt.get("log"), T.StructType):
            json_log_fields = [
                F.col("__json.log").getField(f.name).alias(f.name)
                for f in jt["log"].fields if f.name not in ("file", "offset")
            ]
        elif "log" in jt:
            json_log_fields = [F.col("__json.log").alias("value")]
    out = df.select(
        *[c for c in df.columns if c not in ("__path", "__offset", "__json")],
        F.struct(
            F.struct(F.col("__path").alias("path")).alias("file"),
            F.col("__offset").alias("offset"),
            *json_log_fields,
        ).alias("log"),
    )
    return out
