"""Driver contract for the spark-graft builder (PySpark target).

Every operator family from SURVEY.md §2 has a ``queries()`` entry running
the REAL beats_spark stage implementations over a transcript-shaped table
derived deterministically from the driver's ``events`` parquet (derivation
defined once as a DataFrame plan and once as SQL — beats_spark/testdata.py —
so DuckDB can replicate it bit-for-bit). ML/training-data ops run on the
``documents`` / ``embeddings`` tables. All 43 queries have an exact DuckDB
oracle in ``oracle_sql()``: the MinHash, SimHash, hyperplane-LSH and
multimodal queries run their portable ``poly`` hash mode, which DuckDB
replicates value for value. The production xxhash64 mode has no DuckDB
equivalent; tests/test_ml.py pins it against brute-force oracles.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: E402

_PREPPED: set[str] = set()


def _prep(spark: SparkSession) -> None:
    """UTC + ship the package to python workers (pandas-UDF stages need it
    when the driver built its own bare SparkSession)."""
    # keyed by applicationId, not id(spark): a new session can reuse a
    # GC'd session's address and would silently skip the ship
    key = spark.sparkContext.applicationId
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if key not in _PREPPED:
        from beats_spark.session import ship_package

        try:
            ship_package(spark)
            _PREPPED.add(key)  # only a SUCCESSFUL ship marks the session
        except Exception:
            pass  # read-only context — pandas UDFs may still work; retried
            # on the next _prep call


_TRANSCRIPT_PLANS: dict[tuple[str, str], DataFrame] = {}


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-transcripts plan, memoized per (session, sf_dir).

    DataFrames are immutable plans, so reuse across the ~20 queries that
    share the derivation is safe and skips the repeated parquet footer
    read + window/expression analysis (~0.4 s of driver time per query
    call — the single largest shared plan-build cost on the bench board).
    This caches the PLAN only; no data is persisted."""
    from beats_spark.testdata import transcripts_from_events

    _prep(spark)
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _TRANSCRIPT_PLANS:
        _TRANSCRIPT_PLANS[key] = transcripts_from_events(spark, sf_dir)
    return _TRANSCRIPT_PLANS[key]


def _with_t(sql: str) -> str:
    from beats_spark.testdata import TRANSCRIPTS_SQL

    return f"WITH {TRANSCRIPTS_SQL} {sql}"


# the anchored-regex equivalent of the fixture dissect/grok tokenizer, used
# by the DuckDB oracles (dissect itself is positional, but on this corpus the
# non-greedy regex is semantically identical)
_RX = r'^level=(.*?) caller=(.*?) msg="(.*?)" latency_ms=(\d+)$'


def _parsed_sql_cols(latency_type: str = "INTEGER") -> str:
    return f"""
    nullif(regexp_extract(text, '{_RX}', 1), '') AS level,
    nullif(regexp_extract(text, '{_RX}', 2), '') AS caller,
    CASE WHEN regexp_matches(text, '{_RX}')
         THEN regexp_extract(text, '{_RX}', 3) END AS msg,
    CAST(nullif(regexp_extract(text, '{_RX}', 4), '') AS {latency_type}) AS latency
    """


# ---------------------------------------------------------------------------
# query implementations
# ---------------------------------------------------------------------------


def q_transcripts_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The input harvest: events → transcript shape (log input scan,
    filebeat/input/log/input.go:213 analogue)."""
    return _transcripts(spark, sf_dir)


def _dissected(spark, sf_dir, target="parsed"):
    from beats_spark.processors import apply_chain, build_chain

    stages = build_chain([
        {"dissect": {
            "tokenizer": 'level=%{level} caller=%{caller} msg="%{msg}" '
                         'latency_ms=%{latency|integer}',
            "field": "text", "target_prefix": target, "ignore_failure": True,
        }},
    ])
    return apply_chain(_transcripts(spark, sf_dir), stages)


def q_dissect_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dissect processor (libbeat/processors/dissect) with typed conversion;
    malformed rows yield nulls."""
    df = _dissected(spark, sf_dir)
    return df.select(
        "conv_id", "turn_idx",
        F.col("parsed.level").alias("level"),
        F.col("parsed.caller").alias("caller"),
        F.col("parsed.msg").alias("msg"),
        F.col("parsed.latency").cast("int").alias("latency"),
    )


def q_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grok pattern → anchored regex, pure JVM regexp_extract (no Python)."""
    from beats_spark.processors import apply_chain, build_chain

    stages = build_chain([
        {"grok": {
            "pattern": 'level=%{WORD:level} caller=%{NOTSPACE:caller} '
                       'msg="%{DATA:msg}" latency_ms=%{INT:latency:long}',
            "field": "text", "target_prefix": "g",
        }},
    ])
    df = apply_chain(_transcripts(spark, sf_dir), stages)
    return df.select(
        "conv_id", "turn_idx",
        F.col("g.level").alias("level"),
        F.col("g.caller").alias("caller"),
        F.col("g.msg").alias("msg"),
        F.col("g.latency").cast("long").alias("latency"),
    )


def q_conditions_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The condition language (libbeat/conditions): equals/contains/regexp/
    range/and/or/not compiled to ONE Catalyst predicate."""
    from beats_spark.conditions import compile_condition

    df = _dissected(spark, sf_dir)
    cond = compile_condition(df, {
        "and": [
            {"or": [{"equals": {"role": "user"}},
                    {"equals": {"role": "assistant"}}]},
            {"range": {"parsed.latency": {"gte": 1000, "lt": 40000}}},
            {"contains": {"parsed.msg": "tool call"}},
            {"not": {"regexp": {"parsed.level": "^err"}}},
        ]
    })
    return (
        df.filter(cond)
        .groupBy("tool")
        .agg(F.count("*").alias("n"), F.sum("parsed.latency").alias("sum_latency"))
    )


def q_drop_event_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_event under ``when`` (actions/drop_event.go + conditionals.go)."""
    from beats_spark.processors import apply_chain, build_chain

    stages = build_chain([
        {"drop_event": {"when": {"equals": {"role": "system"}}}},
    ])
    df = apply_chain(_transcripts(spark, sf_dir), stages)
    return df.groupBy("role").agg(F.count("*").alias("n"))


def q_include_exclude_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """include_lines/exclude_lines regex keep/drop filters
    (filebeat/input/log/harvester.go:497-514)."""
    df = _transcripts(spark, sf_dir)
    kept = df.filter(F.col("text").rlike("^level=")).filter(
        ~F.col("text").rlike("level=error")
    )
    return kept.groupBy("role").agg(F.count("*").alias("n"))


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full fixture pipeline (dissect → drop_event → add_fields → rename
    → fingerprint → if/then tags) + outil.Selector routing; per-sink counts
    = the events_routed metric (pipeline/monitoring.go analogue)."""
    from beats_spark.pipeline import Pipeline, fixture_config

    pipe = Pipeline(spark, fixture_config())
    out = pipe.transform(_transcripts(spark, sf_dir))
    return out.groupBy(F.col("_sink").alias("sink")).agg(F.count("*").alias("events_routed"))


def q_routed_rows_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed-row equality on one sink: per-turn text preserved under stable
    (conv_id, turn_idx) — the BASELINE.json per-row invariant."""
    from beats_spark.pipeline import Pipeline, fixture_config

    pipe = Pipeline(spark, fixture_config())
    out = pipe.transform(_transcripts(spark, sf_dir))
    return out.filter(F.col("_sink") == "sink_search").select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )


def q_selector_fmtstr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """%{[field]} event-format strings + mappings + default + when
    (outil/select.go, common/fmtstr) — first-non-empty-wins rule list."""
    from beats_spark.selector import compile_selector

    df = _transcripts(spark, sf_dir)
    sink = compile_selector(df, [
        {"sink": "role-%{[role]}", "when": {"equals": {"tool": "mcp-custom"}}},
        {"sink": "%{[tool]}",
         "mappings": {"search": "s_search", "code": "s_code"},
         "default": "s_other"},
    ])
    return df.withColumn("sink", sink).groupBy("sink").agg(F.count("*").alias("n"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fingerprint processor: |k|v| serialization (fingerprint.go:88-110,
    fields sorted) hashed sha256 + md5, hex."""
    from beats_spark.processors import apply_chain, build_chain

    stages = build_chain([
        {"fingerprint": {"fields": ["conv_id", "turn_idx", "text"],
                         "method": "sha256", "target_field": "fp_sha"}},
        {"fingerprint": {"fields": ["conv_id", "turn_idx", "text"],
                         "method": "md5", "target_field": "fp_md5"}},
    ])
    df = apply_chain(_transcripts(spark, sf_dir), stages)
    return df.select("conv_id", "turn_idx", "fp_sha", "fp_md5")


def q_field_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_fields/add_tags/rename/copy_fields/drop_fields chain
    (libbeat/processors/actions/*)."""
    from beats_spark.processors import apply_chain, build_chain

    stages = build_chain([
        {"add_fields": {"target": "", "fields": {"pipeline_version": "7.17"}}},
        {"add_tags": {"tags": ["beats", "spark"]}},
        {"add_tags": {"tags": ["hot"], "when": {"equals": {"conv_id": "conv-000000"}}}},
        {"copy_fields": {"fields": [{"from": "role", "to": "role_copy"}]}},
        {"rename": {"fields": [{"from": "tool", "to": "tool_name"}]}},
        {"drop_fields": {"fields": ["ts"]}},
    ])
    df = apply_chain(_transcripts(spark, sf_dir), stages)
    return df.select(
        "conv_id", "turn_idx", "role", "role_copy", "tool_name",
        "pipeline_version", F.array_join("tags", ",").alias("tags_joined"),
    )


def q_replace_truncate_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """replace (regex), truncate_fields (max_characters), extract_field
    (split+index) — actions/replace.go, truncate_fields.go, extract_field.go."""
    from beats_spark.processors import apply_chain, build_chain

    stages = build_chain([
        {"replace": {"fields": [{"field": "text", "pattern": "tool call",
                                 "replacement": "TOOL_CALL"}]}},
        {"truncate_fields": {"fields": ["text"], "max_characters": 40}},
        {"extract_field": {"field": "text", "separator": " ", "index": 0,
                           "target": "first_token"}},
    ])
    df = apply_chain(_transcripts(spark, sf_dir), stages)
    return df.select("conv_id", "turn_idx", "text", "first_token")


def q_convert_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """convert processor: typed casts with try-cast failure→null
    (convert/convert.go)."""
    from beats_spark.processors import apply_chain, build_chain

    stages = build_chain([
        {"convert": {"fields": [
            {"from": "turn_idx", "to": "turn_str", "type": "string"},
            {"from": "turn_str", "to": "turn_long", "type": "long"},
            {"from": "text", "to": "text_num", "type": "long"},  # → null
        ]}},
    ])
    df = apply_chain(_transcripts(spark, sf_dir), stages)
    return df.select("conv_id", "turn_idx", "turn_str", "turn_long", "text_num")


def q_timestamp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timestamp processor: layout parse → UTC (timestamp/timestamp.go:86)."""
    from beats_spark.processors import apply_chain, build_chain

    df = _transcripts(spark, sf_dir).withColumn(
        "ts_str", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    stages = build_chain([
        {"timestamp": {"field": "ts_str", "layouts": ["2006-01-02 15:04:05"],
                       "target_field": "parsed_ts"}},
    ])
    df = apply_chain(df, stages)
    return df.select("conv_id", "turn_idx", "parsed_ts")


def q_decode_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """decode_json_fields on the raw events.props JSON
    (actions/decode_json_fields.go)."""
    from beats_spark.processors import apply_chain, build_chain

    _prep(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    stages = build_chain([
        {"decode_json_fields": {"fields": ["props"], "target": "props_obj",
                                "schema": "k int"}},
    ])
    df = apply_chain(ev, stages)
    return df.select("event_id", F.col("props_obj.k").alias("k"))


def q_multiline_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiline reader, count_lines mode (libbeat/reader/multiline/
    counter.go): merge every 4 turns of a conversation into one event."""
    from beats_spark.processors import apply_chain, build_chain

    stages = build_chain([
        {"multiline": {"count_lines": 4, "partition_by": ["conv_id"],
                       "order_by": ["turn_idx"], "field": "text"}},
    ])
    df = apply_chain(_transcripts(spark, sf_dir), stages)
    return df.select("conv_id", "turn_idx", "role", "text")


def q_multiline_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiline pattern mode (pattern.go, negate+after): MALFORMED lines
    glue to the previous well-formed event — the stack-trace case."""
    from beats_spark.processors import apply_chain, build_chain

    stages = build_chain([
        {"multiline": {"pattern": "^level=", "negate": True, "match": "after",
                       "partition_by": ["conv_id"], "order_by": ["turn_idx"],
                       "field": "text"}},
    ])
    df = apply_chain(_transcripts(spark, sf_dir), stages)
    return df.select("conv_id", "turn_idx", "role", "text")


def q_syslog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """syslog RFC3164 header parse (filebeat/input/syslog/
    rfc3164_parser.go; priority split per event.go:26-27). The query
    BUILDS syslog lines deterministically from the transcript columns,
    parses them back with the processor, and returns the parsed fields —
    so the oracle can assert against the known ground truth."""
    from beats_spark.processors import apply_chain, build_chain

    t = _transcripts(spark, sf_dir)
    sev = (
        F.when(F.col("role") == "user", 6)
        .when(F.col("role") == "assistant", 5)
        .when(F.col("role") == "system", 4)
        .otherwise(7)
    )
    pri = (F.lit(16) + F.pmod(F.col("turn_idx"), F.lit(4))) * 8 + sev
    line = F.concat(
        F.lit("<"), pri.cast("string"), F.lit(">"),
        F.lit("Jan  2 03:04:05 "),
        F.lit("host-"), F.col("conv_id"), F.lit(" "),
        F.col("tool"), F.lit("["), F.col("turn_idx").cast("string"),
        F.lit("]: "), F.col("text"),
    )
    df = t.withColumn("message", line)
    stages = build_chain([{"syslog": {"format": "rfc3164"}}])
    out = apply_chain(df, stages)
    return out.select(
        "conv_id", "turn_idx",
        F.col("syslog.facility").alias("facility"),
        F.col("syslog.severity").alias("severity"),
        F.col("syslog.hostname").alias("hostname"),
        F.col("syslog.program").alias("program"),
        F.col("syslog.pid").alias("pid"),
        F.col("syslog.msg").alias("msg"),
    )


def q_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming metrics aggregation (streaming/runner.py
    windowed_counts: watermarked tumbling-window events_routed per sink)
    executed in batch mode — identical expressions, so the window algebra
    itself gets a value-level oracle; the live-stream path is pinned by
    tests/test_cli_streaming.py."""
    from beats_spark.pipeline import Pipeline, fixture_config
    from beats_spark.streaming.runner import windowed_counts

    routed = Pipeline(spark, fixture_config()).transform(
        _transcripts(spark, sf_dir))
    return windowed_counts(routed, window="1 minute").withColumnRenamed(
        "_sink", "sink")


def q_registered_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """registered_domain (eTLD+1 via broadcast public-suffix join;
    libbeat/processors/registered_domain). Domains are BUILT from the
    transcript columns across four suffix classes — single-label TLD,
    multi-label rule, private-registry rule, unlisted TLD (implicit '*'
    rule) — so the oracle can assert the known ground truth, which is
    uniformly conv_id + '.' + suffix."""
    from beats_spark.processors import apply_chain, build_chain

    t = _transcripts(spark, sf_dir)
    suffix = (
        F.when(F.pmod(F.col("turn_idx"), F.lit(4)) == 0, "com")
        .when(F.pmod(F.col("turn_idx"), F.lit(4)) == 1, "co.uk")
        .when(F.pmod(F.col("turn_idx"), F.lit(4)) == 2, "github.io")
        .otherwise("unknowntld")
    )
    df = t.withColumn(
        "domain",
        F.concat(F.col("tool"), F.lit("."), F.col("conv_id"),
                 F.lit("."), suffix),
    )
    out = apply_chain(df, build_chain([{"registered_domain": {}}]))
    return out.select("conv_id", "turn_idx", "domain", "registered_domain")


def q_multiline_while(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiline while_pattern mode (libbeat/reader/multiline/while.go):
    consecutive info lines combine into one event; every other line is a
    singleton event."""
    from beats_spark.processors import apply_chain, build_chain

    stages = build_chain([
        {"multiline": {"type": "while_pattern", "pattern": "^level=info",
                       "partition_by": ["conv_id"], "order_by": ["turn_idx"],
                       "field": "text"}},
    ])
    df = apply_chain(_transcripts(spark, sf_dir), stages)
    return df.select("conv_id", "turn_idx", "role", "text")


def q_multiline_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multiline flush_pattern (pattern.go:208-219): lines accumulate until
    a flush-matching (error) line, which is appended and finalizes the
    event."""
    from beats_spark.processors import apply_chain, build_chain

    stages = build_chain([
        # a never-matching start pattern with negate: everything glues;
        # flush_pattern alone delimits events
        {"multiline": {"pattern": ".^", "negate": True, "match": "after",
                       "flush_pattern": "^level=error",
                       "partition_by": ["conv_id"], "order_by": ["turn_idx"],
                       "field": "text"}},
    ])
    df = apply_chain(_transcripts(spark, sf_dir), stages)
    return df.select("conv_id", "turn_idx", "role", "text")


def q_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rate_limit processor (ratelimit/token_bucket.go) as windowed top-N:
    ≤5 events per (tool, minute); output surviving count per tool (count is
    tie-order independent)."""
    from beats_spark.processors import apply_chain, build_chain

    stages = build_chain([
        {"rate_limit": {"limit": "5/m", "fields": ["tool"], "ts_field": "ts"}},
    ])
    df = apply_chain(_transcripts(spark, sf_dir), stages)
    return df.groupBy("tool").agg(F.count("*").alias("n"))


def q_enrich_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lookup enrichment = left broadcast join vs the tools dim
    (dns/add_*_metadata analogue, SURVEY §2.6); miss → defaults."""
    from beats_spark.processors import apply_chain, build_chain
    from beats_spark.processors.enrich import register_lookup
    from beats_spark.testdata import tools_lookup_df

    register_lookup("tools", lambda: tools_lookup_df(spark))
    stages = build_chain([
        {"enrich": {"lookup": "tools", "on": "tool", "target": "tool_meta",
                    "default": {"tool_family": "unknown",
                                "tool_cost_class": "unknown"}}},
    ])
    df = apply_chain(_transcripts(spark, sf_dir), stages)
    return df.groupBy(
        F.col("tool"),
        F.col("tool_meta.tool_family").alias("tool_family"),
        F.col("tool_meta.tool_cost_class").alias("tool_cost_class"),
    ).agg(F.count("*").alias("n"))


def q_script_mapinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """script processor: user fn over Arrow pandas batches
    (script/javascript analogue)."""
    from beats_spark.processors import apply_chain, build_chain

    def fn(pdf):
        pdf = pdf.copy()
        pdf["role"] = pdf["role"].str.upper()
        pdf["text_len"] = pdf["text"].str.len().astype("int32")
        return pdf

    _prep(spark)
    df = _transcripts(spark, sf_dir)
    stages = build_chain([
        {"script": {"fn": fn,
                    "schema": ", ".join(f"{f.name} {f.dataType.simpleString()}"
                                         for f in df.schema.fields)
                    + ", text_len int"}},
    ])
    out = apply_chain(df, stages)
    return out.select("conv_id", "turn_idx", "role", "text_len")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy, keep min doc_id (training-data op)."""
    from beats_spark.ml.dedup import exact_dedup

    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs).select("doc_id", "text", "dup_count")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (blocked by source)."""
    from beats_spark.ml.dedup import ngram_jaccard_pairs

    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_jaccard_pairs(docs, block_col="source", shingle_n=3,
                               threshold=0.12)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (shingle→minhash→band→bucket-join).
    hash='poly' (universal-hash permutations mod 2^31-1) so the whole
    pipeline — shingles, signatures, band buckets, exact-Jaccard verify —
    has a value-level DuckDB oracle; the xxhash64 production default is
    pinned by tests/test_ml.py against a brute-force pandas oracle."""
    from beats_spark.ml.dedup import minhash_lsh_pairs

    _prep(spark)
    # the tiny parquet arrives as ONE split; the signature pass is the heavy
    # stage (num_hashes × shingles hash calls per row) so spread it first
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism)
    return minhash_lsh_pairs(docs, jaccard_threshold=0.3, bands=32,
                             hash="poly")


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via the Manku et al. permutation-table
    candidate generation (20 tables keyed on 3-of-6 block combinations,
    ~2^32-value keys — scale-sane AND recall-exact at hamming <= 3, so the
    brute-force pair set IS the oracle). hash='poly' keeps the signature
    DuckDB-reproducible."""
    from beats_spark.ml.dedup import simhash_pairs

    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism)
    return simhash_pairs(docs, max_hamming=3, hash="poly")


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k over the embedding column (ANN baseline)."""
    from beats_spark.ml.similarity import cosine_topk

    _prep(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0)
         .select("embedding").first()["embedding"]]
    return cosine_topk(emb, q, k=10, exclude_id=0).select(
        "vec_id", (F.round(F.col("score"), 4)).alias("score4")
    )


def q_similarity_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (hyperplane signatures, multi-probe).
    coef_hash='poly' (multiplicative hash mod 2^31-1) makes the plane
    coefficients DuckDB-reproducible, so the probe + exact-cosine top-k has
    a value-level oracle; recall of the xxhash64 default is pinned vs brute
    force in tests/test_ml.py."""
    from beats_spark.ml.similarity import lsh_topk

    _prep(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = [float(x) for x in emb.filter(F.col("vec_id") == 0)
         .select("embedding").first()["embedding"]]
    return lsh_topk(emb, q, k=10, probe_hamming=3, exclude_id=0,
                    coef_hash="poly")


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding cosine near-dup pairs via the SCALE-SAFE plan: hyperplane
    bucket join (candidates only within equal sign-bit buckets), exact
    cosine verify inside buckets — never an O(n²) block self-join (a single
    hot label would blow up quadratically at scale). coef_hash='poly' so
    the bucket arithmetic is replicated in the DuckDB oracle; the
    brute-force variant remains the pytest recall cross-check."""
    from beats_spark.ml.dedup import embedding_neardup_pairs

    _prep(spark)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_neardup_pairs(emb, threshold=0.35, num_planes=6,
                                   coef_hash="poly")


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/punct/stopword/alpha features + composite."""
    from beats_spark.ml import textstats

    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = textstats.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        feats["n_chars"].alias("n_chars"),
        feats["n_tokens"].alias("n_tokens"),
        feats["alpha_ratio"].alias("alpha_ratio"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        textstats.quality_score(F.col("text")).alias("quality"),
    )


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace + BPE-ish regex tokens."""
    from beats_spark.ml import textstats

    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id",
        textstats.token_count_ws(F.col("text")).alias("tok_ws"),
        textstats.token_count_bpe(F.col("text")).alias("tok_bpe"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID: stopword-voting heuristic."""
    from beats_spark.ml import textstats

    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select(
        "doc_id", textstats.lang_id(F.col("text")).alias("lang_guess")
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: winnowing-style min rolling hash."""
    from beats_spark.ml import textstats

    _prep(spark)
    # one file is one split: spread the per-row hashing over every slot
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism)
    return docs.select(
        "doc_id", textstats.rolling_fingerprint(F.col("text")).alias("fp")
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload → mapInPandas feature extraction
    (decode stubbed deterministically). payload_mode='poly' synthesizes the
    payload with DuckDB-expressible arithmetic, so the byte-fold feature has
    a value-level oracle; both engines quantize f0 through float32 (the
    feature dtype) before rounding, so the comparison is bit-honest."""
    from beats_spark.ml import multimodal

    _prep(spark)
    media = multimodal.synthesize_media(spark, 200, payload_mode="poly")
    out = multimodal.extract_features(media)
    return out.select(
        "media_id", "kind", "decode_ok",
        F.round(F.element_at("feature", 1).cast("double"), 4).alias("f0"))


# UA-string templates shared by the Spark builder and the DuckDB oracle so
# neither side can drift. V/W/M are turn-derived version numbers.
_UA_FF_PRE = "Mozilla/5.0 (Macintosh; Intel Mac OS X 10.12; rv:"
_UA_FF_MID = ".0) Gecko/20100101 Firefox/"
_UA_CR_PRE = ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
              "(KHTML, like Gecko) Chrome/")
_UA_CR_SUF = ".0.3538.102 Safari/537.36"
_UA_BOT = "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)"
_UA_IPH = ("Mozilla/5.0 (iPhone; CPU iPhone OS 15_4 like Mac OS X) "
           "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/15.4 "
           "Mobile/15E148 Safari/604.1")
_UA_AND = ("Mozilla/5.0 (Linux; Android 12; Pixel 6) AppleWebKit/537.36 "
           "(KHTML, like Gecko) Chrome/99.0.4844.58 Mobile Safari/537.36")


def q_user_agent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_agent processor (the ES ingest stage every access-log module
    declares, e.g. filebeat/module/nginx/access/ingest/pipeline.yml:123-125)
    — uap-core-shaped regex dictionary as one Catalyst CASE chain. UA
    strings are BUILT from transcript columns across six families (Firefox/
    Mac, Chrome/Win10, curl, Googlebot, Mobile Safari/iOS, Chrome Mobile/
    Android) so the oracle asserts known ground truth per family."""
    from beats_spark.processors import apply_chain, build_chain

    t = _transcripts(spark, sf_dir)
    m = F.pmod(F.col("turn_idx"), F.lit(6))
    v = (F.lit(10) + F.pmod(F.col("turn_idx"), F.lit(90))).cast("string")
    w = (F.lit(40) + F.pmod(F.col("turn_idx"), F.lit(60))).cast("string")
    mm = F.pmod(F.col("turn_idx"), F.lit(80)).cast("string")
    ua = (
        F.when(m == 0, F.concat(F.lit(_UA_FF_PRE), v, F.lit(_UA_FF_MID),
                                v, F.lit(".0")))
        .when(m == 1, F.concat(F.lit(_UA_CR_PRE), w, F.lit(_UA_CR_SUF)))
        .when(m == 2, F.concat(F.lit("curl/7."), mm, F.lit(".1")))
        .when(m == 3, F.lit(_UA_BOT))
        .when(m == 4, F.lit(_UA_IPH))
        .otherwise(F.lit(_UA_AND))
    )
    # the transcripts window shuffle is coalesced into one partition at
    # small scale factors: spread the UA regex work over every slot
    df = t.withColumn("ua", ua).repartition(
        spark.sparkContext.defaultParallelism)
    out = apply_chain(df, build_chain([
        {"user_agent": {"field": "ua", "target_field": "user_agent"}},
    ]))
    return out.select(
        "conv_id", "turn_idx", "ua",
        F.col("user_agent.name").alias("ua_name"),
        F.col("user_agent.version").alias("ua_version"),
        F.col("user_agent.os.name").alias("os_name"),
        F.col("user_agent.os.version").alias("os_version"),
        F.col("user_agent.os.full").alias("os_full"),
        F.col("user_agent.device.name").alias("device"),
    )


def q_grok_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES-style multi-pattern grok (ordered patterns, first match wins —
    the apache module pipeline's surface, pipeline.yml:9-27). Two line
    formats are BUILT from transcript columns by turn parity; each
    pattern's fields must come from the winning pattern only (the other
    pattern's fields stay NULL), with a field shared across patterns
    (lvl) and per-pattern typed captures."""
    from beats_spark.processors import apply_chain, build_chain

    t = _transcripts(spark, sf_dir)
    m = F.pmod(F.col("turn_idx"), F.lit(2))
    n = F.pmod(F.col("turn_idx"), F.lit(500)).cast("string")
    line = (
        F.when(m == 0, F.concat(F.lit("evt level="), F.col("role"),
                                F.lit(" code="), n))
        .otherwise(F.concat(F.lit("["), F.col("tool"), F.lit("] "), n,
                            F.lit("ms msg="), F.col("role")))
    )
    df = t.withColumn("line", line)
    out = apply_chain(df, build_chain([
        {"grok": {"field": "line", "patterns": [
            "evt level=%{WORD:lvl} code=%{NUMBER:code:long}",
            r"\[%{WORD:src}\] %{NUMBER:ms:long}ms msg=%{WORD:lvl}",
        ], "null_empty_captures": True}},
    ]))
    return out.select("conv_id", "turn_idx", "line", "lvl", "code",
                      "ms", "src")


def q_enrich_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """enrich_cidr — longest-prefix CIDR match against a broadcast dim (the
    geoip join shape, nginx pipeline.yml:126-137). IPs are BUILT from
    turn_idx across seven classes (nested v4 prefixes /8 ⊂ /16 ⊂ /24, an
    uncovered range, and nested v6 /32 ⊂ /64) so the oracle asserts the
    known longest-prefix winner per class."""
    from beats_spark.processors import apply_chain, build_chain
    from beats_spark.processors.enrich import register_lookup

    t = _transcripts(spark, sf_dir)
    register_lookup(
        "entry_geo",
        lambda: spark.createDataFrame(
            [("10.0.0.0/8", "corp"), ("10.1.0.0/16", "lab"),
             ("10.1.2.0/24", "annex"), ("192.168.0.0/16", "home"),
             ("2001:db8::/32", "docrange"), ("2001:db8:0:1::/64", "docsub")],
            "cidr string, region string"))
    m = F.pmod(F.col("turn_idx"), F.lit(7))
    t1 = F.pmod(F.col("turn_idx"), F.lit(200)).cast("string")
    t2 = F.pmod(F.col("turn_idx") * 3, F.lit(250)).cast("string")
    h = F.lower(F.hex(F.lit(1) + F.pmod(F.col("turn_idx"), F.lit(9999))))
    ip = (
        F.when(m == 0, F.concat(F.lit("10.200."), t1, F.lit("."), t2))
        .when(m == 1, F.concat(F.lit("10.1.3."), t2))
        .when(m == 2, F.concat(F.lit("10.1.2."), t2))
        .when(m == 3, F.concat(F.lit("192.168."), t1, F.lit("."), t2))
        .when(m == 4, F.concat(F.lit("172.16."), t1, F.lit("."), t2))
        .when(m == 5, F.concat(F.lit("2001:db8:ffff::"), h))
        .otherwise(F.concat(F.lit("2001:db8:0:1::"), h))
    )
    df = t.withColumn("ip", ip)
    out = apply_chain(df, build_chain([
        {"enrich_cidr": {"lookup": "entry_geo", "on": "ip",
                         "target": "geo"}},
    ]))
    return out.select(
        "conv_id", "turn_idx", "ip",
        F.col("geo.region").alias("region"))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (training-data hygiene pass): emails / IPv4s / hex
    keys / phone numbers planted deterministically from transcript columns
    are replaced by typed placeholders; the oracle applies the identical
    RE2-compatible regex chain in the same order."""
    from beats_spark.ml.textstats import pii_scrub

    t = _transcripts(spark, sf_dir)
    built = F.concat(
        F.col("text"),
        F.lit(" contact u."), F.col("conv_id"), F.lit("@example.com"),
        F.lit(" from 192.0.2."),
        F.pmod(F.col("turn_idx") * 3, F.lit(250)).cast("string"),
        F.lit(" token "), F.md5(F.col("conv_id")),
        F.lit(" call +1 (555) 010-"),
        F.lpad(F.pmod(F.col("turn_idx"), F.lit(10000)).cast("string"),
               4, "0"),
    )
    return t.select(
        "conv_id", "turn_idx",
        pii_scrub(built).alias("clean"))


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/layout signals + keep decision over the
    documents table (Rae et al. '21 §A1.1 rules as column algebra)."""
    from beats_spark.ml import textstats

    _prep(spark)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = textstats.repetition_signals(F.col("text"))
    q = textstats.quality_features(F.col("text"))
    return docs.select(
        "doc_id",
        r["n_lines"].alias("n_lines"),
        r["dup_line_frac"].alias("dup_line_frac"),
        r["bullet_line_frac"].alias("bullet_line_frac"),
        r["ellipsis_line_frac"].alias("ellipsis_line_frac"),
        q["mean_word_len"].alias("mean_word_len"),
        textstats.gopher_keep(F.col("text")).alias("keep"))


def q_kv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kv processor — dynamic key=value → map<string,string> (the ES ingest
    kv stage auditd-class pipelines delegate to, auditd pipeline.yml:25-35).
    Lines are BUILT from transcript columns across four shapes: plain, a
    malformed bare token (strict row failure), a repeated key (first wins),
    and a bracketed value (strip_brackets). The map is canonicalized to a
    sorted 'k=v|k=v' string so the DuckDB oracle — an independent list-
    algebra reimplementation of the same split/once/strip semantics — can
    hash-compare values."""
    from beats_spark.processors import apply_chain, build_chain

    t = _transcripts(spark, sf_dir)
    m = F.pmod(F.col("turn_idx"), F.lit(4))
    line = F.concat(
        F.lit("pid="), F.col("turn_idx").cast("string"),
        F.lit(" role="), F.coalesce(F.col("role"), F.lit("none")),
        F.lit(" conv="), F.col("conv_id"),
        F.when(m == 1, F.lit(" badtoken"))
        .when(m == 2, F.lit(" pid=999"))
        .when(m == 3, F.concat(
            F.lit(" msg=[q-"),
            F.pmod(F.col("turn_idx") * 7, F.lit(100)).cast("string"),
            F.lit("]")))
        .otherwise(F.lit("")),
    )
    df = t.withColumn("line", line)
    out = apply_chain(df, build_chain([
        {"kv": {"field": "line", "target": "kvm", "strip_brackets": True}},
    ]))
    return out.select(
        "conv_id", "turn_idx",
        F.array_join(
            F.array_sort(F.transform(
                F.map_entries(F.col("kvm")),
                lambda e: F.concat(e["key"], F.lit("="), e["value"]))),
            "|").alias("kv_csv"),
        F.col("kvm").isNull().alias("kv_failed"))


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full fixture pipeline on sf0.001 → per-sink counts."""
    return q_route_counts(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "transcripts_derive": q_transcripts_derive,
        "dissect_parse": q_dissect_parse,
        "grok_parse": q_grok_parse,
        "conditions_filter": q_conditions_filter,
        "drop_event_when": q_drop_event_when,
        "include_exclude_lines": q_include_exclude_lines,
        "route_counts": q_route_counts,
        "routed_rows_search": q_routed_rows_search,
        "selector_fmtstr": q_selector_fmtstr,
        "fingerprint": q_fingerprint,
        "field_ops": q_field_ops,
        "replace_truncate_extract": q_replace_truncate_extract,
        "convert_types": q_convert_types,
        "timestamp_parse": q_timestamp_parse,
        "decode_json": q_decode_json,
        "multiline_merge": q_multiline_merge,
        "multiline_pattern": q_multiline_pattern,
        "multiline_while": q_multiline_while,
        "multiline_flush": q_multiline_flush,
        "syslog_parse": q_syslog_parse,
        "registered_domain": q_registered_domain,
        "user_agent": q_user_agent,
        "grok_multi": q_grok_multi,
        "enrich_cidr": q_enrich_cidr,
        "windowed_counts": q_windowed_counts,
        "rate_limit": q_rate_limit,
        "enrich_lookup": q_enrich_lookup,
        "script_mapinpandas": q_script_mapinpandas,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "similarity_topk": q_similarity_topk,
        "similarity_lsh": q_similarity_lsh,
        "embedding_neardup": q_embedding_neardup,
        "text_quality": q_text_quality,
        "pii_scrub": q_pii_scrub,
        "gopher_quality": q_gopher_quality,
        "kv_parse": q_kv_parse,
        "token_counts": q_token_counts,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "multimodal_features": q_multimodal_features,
    }


def oracle_sql() -> dict[str, str]:
    from beats_spark.ml.textstats import STOPWORDS, TOKEN_REGEX
    from beats_spark.testdata import tools_lookup_sql

    def sw_hits(lang: str) -> str:
        lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return (
            "len(list_filter(list_transform("
            "list_filter(string_split_regex(text, '\\s+'), x -> x != ''),"
            f" x -> lower(x)), x -> x IN ({lst})))"
        )

    toks = "list_filter(string_split_regex(text, '\\s+'), x -> x != '')"

    # the pii_scrub oracle applies the IDENTICAL regex chain (same source
    # of truth, same order) with DuckDB's explicit 'g' flag
    from beats_spark.ml.textstats import PII_PATTERNS

    pii_expr = (
        "text || ' contact u.' || conv_id || '@example.com'"
        " || ' from 192.0.2.' || CAST((turn_idx * 3) % 250 AS VARCHAR)"
        " || ' token ' || md5(conv_id)"
        " || ' call +1 (555) 010-'"
        " || lpad(CAST(turn_idx % 10000 AS VARCHAR), 4, '0')"
    )
    for _kind, _pat, _repl in PII_PATTERNS:
        pii_expr = (f"regexp_replace({pii_expr}, "
                    f"'{_pat.replace(chr(39), chr(39) * 2)}', "
                    f"'{_repl}', 'g')")

    # the fixture pipeline's routing as SQL (mappings over %{[tool]},
    # default sink_other, system rows dropped)
    route_case = """
      CASE WHEN tool = 'search' THEN 'sink_search'
           WHEN tool = 'code' THEN 'sink_code'
           WHEN tool = 'browser' THEN 'sink_browser'
           ELSE 'sink_other' END
    """

    # |k|v| serialization of sorted fields [conv_id, text, turn_idx]
    fp_ser = ("'|conv_id|' || conv_id || '|text|' || text || "
              "'|turn_idx|' || CAST(turn_idx AS VARCHAR) || '|'")

    # -- portable polynomial-hash replicas of the ml.dedup/ml.similarity
    #    'poly' hash mode (see beats_spark/ml/dedup.py POLY_P): the SAME
    #    integer/double arithmetic as the Spark expressions, so MinHash,
    #    SimHash and hyperplane-LSH queries get value-level oracles.
    def char_poly(s: str, base: int = 31, seed: int = 7) -> str:
        return (
            f"list_reduce(list_prepend(CAST({seed} AS BIGINT), "
            f"list_transform(string_split({s}, ''), "
            "c -> CAST(ascii(c) AS BIGINT))), "
            f"(a, c) -> (a * {base} + c) % 2147483647)"
        )

    # the doc_fingerprint word hash IS the char poly hash — derived, not
    # duplicated, so the constants live in one place
    word_hash = char_poly("{w}")

    # hyperplane bucket of a double-list column {v}: sign bit per plane,
    # coef(p,d) = (char_poly(decimal_string(p*16384+d+1)) % 2000 - 1000)/1000,
    # proj summed left-to-right exactly like F.aggregate
    def hyperplane_bucket_sql(v: str, num_planes: int) -> str:
        terms = []
        for p in range(num_planes):
            mixed = char_poly(f"CAST({p} * 16384 + d + 1 AS VARCHAR)")
            coef = f"CAST(({mixed}) % 2000 - 1000 AS DOUBLE) / 1000.0"
            proj = (
                "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
                f"[{v}[d + 1] * ({coef}) for d in range(0, len({v}))]), "
                "(a, b) -> a + b)"
            )
            terms.append(
                f"(CASE WHEN ({proj}) > 0 THEN CAST({1 << p} AS BIGINT) "
                "ELSE CAST(0 AS BIGINT) END)"
            )
        return "(" + " + ".join(terms) + ")"
    shingle_hash = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(list_slice(toks, i + 1, i + 5), w -> "
        + word_hash.format(w="w")
        + ")), (a, h) -> (a * 1000003 + h) % 2147483647)"
    )

    return {
        "transcripts_derive": _with_t("SELECT * FROM transcripts"),
        "dissect_parse": _with_t(
            f"SELECT conv_id, turn_idx, {_parsed_sql_cols()} FROM transcripts"
        ),
        "grok_parse": _with_t(
            f"SELECT conv_id, turn_idx, "
            f"{_parsed_sql_cols(latency_type='BIGINT')} FROM transcripts"
        ),
        "conditions_filter": _with_t(
            f""", p AS (SELECT *, {_parsed_sql_cols()} FROM transcripts)
            SELECT tool, count(*) AS n,
                   CAST(sum(latency) AS BIGINT) AS sum_latency FROM p
            WHERE role IN ('user', 'assistant')
              AND latency >= 1000 AND latency < 40000
              AND msg LIKE '%tool call%'
              AND NOT regexp_matches(level, '^err')
            GROUP BY tool"""
        ),
        "drop_event_when": _with_t(
            "SELECT role, count(*) AS n FROM transcripts "
            "WHERE NOT role = 'system' GROUP BY role"
        ),
        "include_exclude_lines": _with_t(
            "SELECT role, count(*) AS n FROM transcripts "
            "WHERE regexp_matches(text, '^level=') "
            "AND NOT regexp_matches(text, 'level=error') GROUP BY role"
        ),
        "route_counts": _with_t(
            f"SELECT {route_case} AS sink, count(*) AS events_routed "
            "FROM transcripts WHERE role != 'system' GROUP BY 1"
        ),
        "windowed_counts": _with_t(
            f"""SELECT date_trunc('minute', ts) AS window_start,
                {route_case} AS sink, count(*) AS events_routed
                FROM transcripts WHERE role != 'system' GROUP BY 1, 2"""
        ),
        "routed_rows_search": _with_t(
            "SELECT conv_id, turn_idx, role, text, tool FROM transcripts "
            "WHERE role != 'system' AND tool = 'search'"
        ),
        "selector_fmtstr": _with_t(
            """SELECT CASE WHEN tool = 'mcp-custom' THEN 'role-' || role
                    WHEN tool = 'search' THEN 's_search'
                    WHEN tool = 'code' THEN 's_code'
                    ELSE 's_other' END AS sink, count(*) AS n
               FROM transcripts GROUP BY 1"""
        ),
        "fingerprint": _with_t(
            f"""SELECT conv_id, turn_idx,
                sha256({fp_ser}) AS fp_sha, md5({fp_ser}) AS fp_md5
                FROM transcripts"""
        ),
        "field_ops": _with_t(
            """SELECT conv_id, turn_idx, role, role AS role_copy,
               tool AS tool_name, '7.17' AS pipeline_version,
               CASE WHEN conv_id = 'conv-000000'
                    THEN 'beats,spark,hot' ELSE 'beats,spark' END AS tags_joined
               FROM transcripts"""
        ),
        "replace_truncate_extract": _with_t(
            """SELECT conv_id, turn_idx,
               substring(regexp_replace(text, 'tool call', 'TOOL_CALL', 'g'), 1, 40) AS text,
               string_split(substring(regexp_replace(text, 'tool call', 'TOOL_CALL', 'g'), 1, 40), ' ')[1] AS first_token
               FROM transcripts"""
        ),
        "convert_types": _with_t(
            """SELECT conv_id, turn_idx,
               CAST(turn_idx AS VARCHAR) AS turn_str,
               CAST(turn_idx AS BIGINT) AS turn_long,
               TRY_CAST(text AS BIGINT) AS text_num
               FROM transcripts"""
        ),
        "timestamp_parse": _with_t(
            """SELECT conv_id, turn_idx,
               strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS parsed_ts
               FROM transcripts"""
        ),
        "decode_json": (
            "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k "
            "FROM events"
        ),
        "multiline_merge": _with_t(
            """SELECT conv_id, min(turn_idx) AS turn_idx,
               arg_min(role, turn_idx) AS role,
               string_agg(text, chr(10) ORDER BY turn_idx) AS text
               FROM transcripts GROUP BY conv_id, turn_idx // 4"""
        ),
        "multiline_pattern": _with_t(
            """, flagged AS (
                 SELECT *, CASE WHEN NOT regexp_matches(text, '^level=')
                                     AND row_number() OVER w > 1
                                THEN 0 ELSE 1 END AS start
                 FROM transcripts
                 WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
               ), grp AS (
                 SELECT *, sum(start) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gid
                 FROM flagged
               )
               SELECT conv_id, min(turn_idx) AS turn_idx,
                      arg_min(role, turn_idx) AS role,
                      string_agg(text, chr(10) ORDER BY turn_idx) AS text
               FROM grp GROUP BY conv_id, gid"""
        ),
        # ground truth for the built domains: every suffix class yields
        # registered_domain = conv_id.suffix (psk=1 for com/unknowntld via
        # the implicit '*' rule, psk=2 for co.uk/github.io)
        "registered_domain": _with_t(
            """SELECT conv_id, turn_idx,
               tool || '.' || conv_id || '.' ||
                 CASE turn_idx % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
                      WHEN 2 THEN 'github.io' ELSE 'unknowntld' END AS domain,
               conv_id || '.' ||
                 CASE turn_idx % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'co.uk'
                      WHEN 2 THEN 'github.io' ELSE 'unknowntld' END
                 AS registered_domain
               FROM transcripts"""
        ),
        # ground truth for the built UA strings: six families, versions
        # derived from turn_idx exactly like the Spark builder
        "user_agent": _with_t(
            f"""SELECT conv_id, turn_idx,
               CASE turn_idx % 6
                 WHEN 0 THEN '{_UA_FF_PRE}' || CAST(10 + turn_idx % 90 AS VARCHAR)
                      || '{_UA_FF_MID}' || CAST(10 + turn_idx % 90 AS VARCHAR) || '.0'
                 WHEN 1 THEN '{_UA_CR_PRE}' || CAST(40 + turn_idx % 60 AS VARCHAR)
                      || '{_UA_CR_SUF}'
                 WHEN 2 THEN 'curl/7.' || CAST(turn_idx % 80 AS VARCHAR) || '.1'
                 WHEN 3 THEN '{_UA_BOT}'
                 WHEN 4 THEN '{_UA_IPH}'
                 ELSE '{_UA_AND}' END AS ua,
               CASE turn_idx % 6 WHEN 0 THEN 'Firefox' WHEN 1 THEN 'Chrome'
                 WHEN 2 THEN 'curl' WHEN 3 THEN 'Googlebot'
                 WHEN 4 THEN 'Mobile Safari' ELSE 'Chrome Mobile' END AS ua_name,
               CASE turn_idx % 6
                 WHEN 0 THEN CAST(10 + turn_idx % 90 AS VARCHAR) || '.0'
                 WHEN 1 THEN CAST(40 + turn_idx % 60 AS VARCHAR) || '.0.3538.102'
                 WHEN 2 THEN '7.' || CAST(turn_idx % 80 AS VARCHAR) || '.1'
                 WHEN 3 THEN '2.1' WHEN 4 THEN '15.4'
                 ELSE '99.0.4844.58' END AS ua_version,
               CASE turn_idx % 6 WHEN 0 THEN 'Mac OS X' WHEN 1 THEN 'Windows'
                 WHEN 4 THEN 'iOS' WHEN 5 THEN 'Android' END AS os_name,
               CASE turn_idx % 6 WHEN 0 THEN '10.12' WHEN 1 THEN '10'
                 WHEN 4 THEN '15.4' WHEN 5 THEN '12' END AS os_version,
               CASE turn_idx % 6 WHEN 0 THEN 'Mac OS X 10.12'
                 WHEN 1 THEN 'Windows 10' WHEN 4 THEN 'iOS 15.4'
                 WHEN 5 THEN 'Android 12' END AS os_full,
               CASE turn_idx % 6 WHEN 0 THEN 'Mac' WHEN 3 THEN 'Spider'
                 WHEN 4 THEN 'iPhone' WHEN 5 THEN 'Pixel 6'
                 ELSE 'Other' END AS device
               FROM transcripts"""
        ),
        # ground truth for the two built line formats: per-parity fields,
        # with the 'mcp-custom' tool (non-\w) exercising the no-match path
        "grok_multi": _with_t(
            """SELECT conv_id, turn_idx,
               CASE WHEN turn_idx % 2 = 0
                    THEN 'evt level=' || role || ' code='
                         || CAST(turn_idx % 500 AS VARCHAR)
                    ELSE '[' || tool || '] '
                         || CAST(turn_idx % 500 AS VARCHAR)
                         || 'ms msg=' || role END AS line,
               CASE WHEN turn_idx % 2 = 0 THEN role
                    WHEN tool <> 'mcp-custom' THEN role END AS lvl,
               CASE WHEN turn_idx % 2 = 0
                    THEN CAST(turn_idx % 500 AS BIGINT) END AS code,
               CASE WHEN turn_idx % 2 = 1 AND tool <> 'mcp-custom'
                    THEN CAST(turn_idx % 500 AS BIGINT) END AS ms,
               CASE WHEN turn_idx % 2 = 1 AND tool <> 'mcp-custom'
                    THEN tool END AS src
               FROM transcripts"""
        ),
        # ground truth for the built IPs: the longest-prefix winner is known
        # per turn_idx class (nested /8 ⊂ /16 ⊂ /24, uncovered, v6 /32 ⊂ /64)
        "enrich_cidr": _with_t(
            """SELECT conv_id, turn_idx,
               CASE turn_idx % 7
                 WHEN 0 THEN '10.200.' || CAST(turn_idx % 200 AS VARCHAR)
                      || '.' || CAST((turn_idx * 3) % 250 AS VARCHAR)
                 WHEN 1 THEN '10.1.3.' || CAST((turn_idx * 3) % 250 AS VARCHAR)
                 WHEN 2 THEN '10.1.2.' || CAST((turn_idx * 3) % 250 AS VARCHAR)
                 WHEN 3 THEN '192.168.' || CAST(turn_idx % 200 AS VARCHAR)
                      || '.' || CAST((turn_idx * 3) % 250 AS VARCHAR)
                 WHEN 4 THEN '172.16.' || CAST(turn_idx % 200 AS VARCHAR)
                      || '.' || CAST((turn_idx * 3) % 250 AS VARCHAR)
                 WHEN 5 THEN '2001:db8:ffff::' || lower(to_hex(1 + turn_idx % 9999))
                 ELSE '2001:db8:0:1::' || lower(to_hex(1 + turn_idx % 9999))
               END AS ip,
               CASE turn_idx % 7 WHEN 0 THEN 'corp' WHEN 1 THEN 'lab'
                 WHEN 2 THEN 'annex' WHEN 3 THEN 'home'
                 WHEN 5 THEN 'docrange' WHEN 6 THEN 'docsub' END AS region
               FROM transcripts"""
        ),
        # ground truth for the built-then-parsed syslog lines: the oracle
        # recomputes the fields the parser must recover
        "syslog_parse": _with_t(
            """SELECT conv_id, turn_idx,
               (16 + (turn_idx % 4)) AS facility,
               CASE WHEN role = 'user' THEN 6
                    WHEN role = 'assistant' THEN 5
                    WHEN role = 'system' THEN 4
                    ELSE 7 END AS severity,
               'host-' || conv_id AS hostname,
               tool AS program,
               turn_idx AS pid,
               text AS msg
               FROM transcripts"""
        ),
        "multiline_while": _with_t(
            """, flagged AS (
                 SELECT *,
                   regexp_matches(text, '^level=info') AS hit,
                   CASE WHEN regexp_matches(text, '^level=info')
                             AND coalesce(lag(regexp_matches(text, '^level=info'))
                                          OVER w, false)
                        THEN 0 ELSE 1 END AS start
                 FROM transcripts
                 WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
               ), grp AS (
                 SELECT *, sum(start) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gid
                 FROM flagged
               )
               SELECT conv_id, min(turn_idx) AS turn_idx,
                      arg_min(role, turn_idx) AS role,
                      string_agg(text, chr(10) ORDER BY turn_idx) AS text
               FROM grp GROUP BY conv_id, gid"""
        ),
        "multiline_flush": _with_t(
            """, flagged AS (
                 SELECT *,
                   CASE WHEN row_number() OVER w = 1
                             OR coalesce(lag(regexp_matches(text, '^level=error'))
                                         OVER w, false)
                        THEN 1 ELSE 0 END AS start
                 FROM transcripts
                 WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
               ), grp AS (
                 SELECT *, sum(start) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS gid
                 FROM flagged
               )
               SELECT conv_id, min(turn_idx) AS turn_idx,
                      arg_min(role, turn_idx) AS role,
                      string_agg(text, chr(10) ORDER BY turn_idx) AS text
               FROM grp GROUP BY conv_id, gid"""
        ),
        "rate_limit": _with_t(
            """, rn AS (
                 SELECT tool, row_number() OVER (
                   PARTITION BY tool, date_trunc('minute', ts)
                   ORDER BY ts) AS r
                 FROM transcripts)
               SELECT tool, count(*) AS n FROM rn WHERE r <= 5 GROUP BY tool"""
        ),
        "enrich_lookup": _with_t(
            f""", {tools_lookup_sql()}
            SELECT t.tool,
                   coalesce(l.tool_family, 'unknown') AS tool_family,
                   coalesce(l.tool_cost_class, 'unknown') AS tool_cost_class,
                   count(*) AS n
            FROM transcripts t LEFT JOIN tools_lookup l USING (tool)
            GROUP BY 1, 2, 3"""
        ),
        "script_mapinpandas": _with_t(
            "SELECT conv_id, turn_idx, upper(role) AS role, "
            "CAST(length(text) AS INTEGER) AS text_len FROM transcripts"
        ),
        "dedup_exact": (
            "SELECT min(doc_id) AS doc_id, text, count(*) AS dup_count "
            "FROM documents GROUP BY text"
        ),
        "dedup_ngram_jaccard": f"""
            WITH sh AS (
              SELECT doc_id, source,
                list_distinct([array_to_string(toks[i+1:i+3], ' ')
                  for i in range(0, len(toks) - 2)]) AS s
              FROM (SELECT doc_id, source, {toks} AS toks FROM documents)
              WHERE len(toks) >= 3
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.s, b.s))), 6) AS jaccard
            FROM sh a JOIN sh b
              ON a.source = b.source AND a.doc_id < b.doc_id
            -- threshold on the ROUNDED jaccard, matching
            -- ngram_jaccard_pairs (dedup.py filters round(jac,6) >= t)
            WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.s, b.s))), 6) >= 0.12
        """,
        # MinHash 'poly' replica: token char-hash ONCE → rolling polynomial
        # shingle hash (K=1000003 mod P, same fold as the Spark zip_with) →
        # 64 universal-hash permutations (a_s·h+b_s mod P) → min per seed →
        # 32 bands of 2 rows hashed polynomially → bucket join → exact
        # Jaccard over the hashed-shingle sets ≥ 0.3
        "dedup_minhash_lsh": f"""
            WITH w AS (SELECT doc_id, {toks} AS toks FROM documents),
            th AS (SELECT doc_id,
                     list_transform(toks, t -> {char_poly('t')}) AS th
                   FROM w),
            sh AS (
              SELECT doc_id,
                list_distinct([((th[i+1] * 1000003 + th[i+2]) % 2147483647
                                * 1000003 + th[i+3]) % 2147483647
                  for i in range(0, len(th) - 2)]) AS s
              FROM th WHERE len(th) >= 3
            ),
            sig AS (
              SELECT doc_id, s,
                [list_min(list_transform(s,
                   x -> ((((seed * 2 + 1) * 1103515245) % 2147483647) * x
                         + ((seed * 12345 + 7) % 2147483647)) % 2147483647))
                 for seed in range(0, 64)] AS sg
              FROM sh
            ),
            band AS (
              SELECT doc_id, b,
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  sg[b * 2 + 1 : b * 2 + 2]),
                  (a, m) -> (a * 1000003 + m) % 2147483647) AS bh
              FROM sig, range(32) r(b)
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM band a JOIN band b
                ON a.b = b.b AND a.bh = b.bh AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
                   round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                         / len(list_distinct(list_concat(sa.s, sb.s))), 6) AS jaccard
            FROM cand
            JOIN sh sa ON sa.doc_id = id_a
            JOIN sh sb ON sb.doc_id = id_b
            WHERE CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                  / len(list_distinct(list_concat(sa.s, sb.s))) >= 0.3
        """,
        # SimHash 'poly' replica: one polynomial token hash, then a ±1 vote
        # per bit from an independent universal hash (a_i·h+b_i mod P ≥ P/2)
        # via unnest × range(64); pack sign bits. The Spark side's
        # permutation-table candidate generation is recall-EXACT at the
        # hamming budget (pigeonhole over 3-of-6 block combos), so the
        # oracle is the full brute-force pair set — any missed pair fails
        # the hash compare.
        "dedup_simhash": f"""
            WITH w AS (SELECT doc_id, {toks} AS toks FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS t FROM w),
            h AS (SELECT doc_id, {char_poly('t')} AS h FROM tok),
            cnt AS (
              SELECT doc_id, i,
                sum(CASE WHEN
                      ((((i * 2 + 1) * 1103515245) % 2147483647) * h
                       + ((i * 12345 + 7) % 2147483647)) % 2147483647 * 2
                      >= 2147483647
                    THEN 1 ELSE -1 END) AS sgn
              FROM h, range(64) r(i) GROUP BY doc_id, i
            ),
            simgrp AS (
              -- bit 63 wraps to the sign bit exactly as Spark's shiftleft
              -- does; DuckDB raises on 1<<63, so it is spelled as min-int
              SELECT doc_id,
                CAST(sum(CASE WHEN sgn > 0
                              THEN (CASE WHEN i = 63
                                    THEN CAST(-9223372036854775807 - 1 AS BIGINT)
                                    ELSE (CAST(1 AS BIGINT) << i) END)
                              ELSE 0 END)
                     AS BIGINT) AS sim
              FROM cnt GROUP BY doc_id
            ),
            sim AS (
              SELECT w.doc_id, coalesce(s.sim, 0) AS sim
              FROM w LEFT JOIN simgrp s USING (doc_id)
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   bit_count(xor(a.sim, b.sim)) AS hamming
            FROM sim a JOIN sim b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sim, b.sim)) <= 3
        """,
        # hyperplane-LSH ANN 'poly' replica: bucket both corpus and query
        # with the same deterministic planes, probe Hamming ≤ 3, exact
        # cosine + top-10 inside the probed slice
        "similarity_lsh": f"""
            WITH base AS (
              SELECT vec_id,
                list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
            bkt AS (SELECT vec_id, v,
                      {hyperplane_bucket_sql('v', 8)} AS b
                    FROM base),
            q AS (SELECT v AS qv, b AS qb FROM bkt WHERE vec_id = 0),
            scored AS (
              SELECT p.vec_id,
                list_dot_product(p.v, q.qv)
                / (sqrt(list_dot_product(p.v, p.v))
                   * sqrt(list_dot_product(q.qv, q.qv))) AS s
              FROM bkt p, q
              WHERE p.vec_id != 0 AND bit_count(xor(p.b, q.qb)) <= 3)
            SELECT vec_id, round(s, 6) AS score
            FROM scored ORDER BY s DESC, vec_id LIMIT 10
        """,
        "similarity_topk": """
            WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
                       FROM embeddings WHERE vec_id = 0),
            scored AS (
              SELECT vec_id,
                     list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)), q.qv)
                     / (sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                                              list_transform(embedding, x -> CAST(x AS DOUBLE))))
                        * sqrt(list_dot_product(q.qv, q.qv))) AS s
              FROM embeddings, q WHERE vec_id != 0)
            SELECT vec_id, round(round(s, 6), 4) AS score4
            FROM scored ORDER BY s DESC, vec_id LIMIT 10
        """,
        # bucketed near-dup 'poly' replica: candidates only within equal
        # 6-plane sign buckets (the scale-safe plan), exact cosine verify
        "embedding_neardup": f"""
            WITH base AS (SELECT vec_id AS id,
                       list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                       FROM embeddings),
            bkt AS (SELECT id, v, {hyperplane_bucket_sql('v', 6)} AS b
                    FROM base)
            SELECT a.id AS id_a, b.id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
            FROM bkt a JOIN bkt b ON a.b = b.b AND a.id < b.id
            WHERE round(list_dot_product(a.v, b.v)
                        / (sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
        """,
        "text_quality": f"""
            WITH f AS (
              SELECT doc_id,
                CAST(length(text) AS BIGINT) AS n_chars,
                CAST(len({toks}) AS INTEGER) AS n_tokens,
                round(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1), 6) AS alpha_ratio,
                round(CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]{{}}]', '', 'g')) AS DOUBLE)
                      / greatest(length(text), 1), 6) AS punct_ratio,
                round(CAST({sw_hits('en')} AS DOUBLE)
                      / greatest(len({toks}), 1), 6) AS stopword_ratio
              FROM documents)
            SELECT doc_id, n_chars, n_tokens, alpha_ratio, stopword_ratio,
              round((
                (CASE WHEN n_tokens >= 20 THEN 1.0 WHEN n_tokens >= 5 THEN 0.5 ELSE 0.0 END)
                + (CASE WHEN alpha_ratio >= 0.6 THEN 1.0 ELSE alpha_ratio / 0.6 END)
                + (CASE WHEN punct_ratio <= 0.1 THEN 1.0 ELSE 0.5 END)
                + (CASE WHEN stopword_ratio >= 0.05 THEN 1.0 ELSE 0.5 END)
              ) / 4.0, 6) AS quality
            FROM f
        """,
        "pii_scrub": _with_t(
            f"SELECT conv_id, turn_idx, {pii_expr} AS clean FROM transcripts"
        ),
        # independent list-algebra reimplementation of kv: split on \s+,
        # split each part ONCE on '=', strict failure on a bare token,
        # first-wins on repeated keys, single-layer bracket strip
        "kv_parse": _with_t("""
            , src AS (
              SELECT conv_id, turn_idx,
                'pid=' || turn_idx || ' role=' || coalesce(role, 'none')
                || ' conv=' || conv_id
                || CASE WHEN turn_idx % 4 = 1 THEN ' badtoken'
                        WHEN turn_idx % 4 = 2 THEN ' pid=999'
                        WHEN turn_idx % 4 = 3
                          THEN ' msg=[q-' || (turn_idx * 7 % 100) || ']'
                        ELSE '' END AS line
              FROM transcripts),
            p AS (
              SELECT conv_id, turn_idx,
                list_filter(string_split_regex(line, '[ \t]+'),
                            x -> x <> '') AS parts
              FROM src),
            e AS (
              SELECT conv_id, turn_idx,
                len(list_filter(parts, x -> strpos(x, '=') = 0)) > 0 AS failed,
                list_filter(parts, x -> strpos(x, '=') > 0) AS kvs
              FROM p),
            d AS (
              SELECT conv_id, turn_idx, failed,
                list_sort(list_transform(
                  list_filter(kvs, (x, i) -> NOT list_contains(
                      list_transform(kvs[1:i-1],
                                     y -> string_split(y, '=')[1]),
                      string_split(x, '=')[1])),
                  x -> string_split(x, '=')[1] || '=' ||
                       regexp_replace(regexp_replace(
                         substr(x, strpos(x, '=') + 1),
                         '^[\\(\\[<"'']', ''), '[\\)\\]>"'']$', '')
                )) AS entries
              FROM e)
            SELECT conv_id, turn_idx,
              CASE WHEN failed THEN NULL
                   ELSE array_to_string(entries, '|') END AS kv_csv,
              failed AS kv_failed
            FROM d
        """),
        "gopher_quality": f"""
            WITH l AS (
              SELECT doc_id, {toks} AS tk,
                     string_split(text, chr(10)) AS ln
              FROM documents),
            f AS (
              SELECT doc_id,
                CAST(len(ln) AS INTEGER) AS n_lines,
                round(CAST(len(ln) - len(list_distinct(ln)) AS DOUBLE)
                      / greatest(len(ln), 1), 6) AS dup_line_frac,
                round(CAST(len(list_filter(ln,
                        x -> regexp_matches(x, '^[ \t]*[-*•]'))) AS DOUBLE)
                      / greatest(len(ln), 1), 6) AS bullet_line_frac,
                round(CAST(len(list_filter(ln,
                        x -> regexp_matches(x, '\\.\\.\\.[ \t]*$'))) AS DOUBLE)
                      / greatest(len(ln), 1), 6) AS ellipsis_line_frac,
                CASE WHEN len(tk) > 0 THEN
                  round(CAST(list_sum(list_transform(tk, x -> length(x)))
                             AS DOUBLE) / len(tk), 6) END AS mean_word_len
              FROM l)
            SELECT doc_id, n_lines, dup_line_frac, bullet_line_frac,
              ellipsis_line_frac, mean_word_len,
              (mean_word_len IS NOT NULL AND mean_word_len >= 3
               AND mean_word_len <= 10 AND dup_line_frac <= 0.3
               AND bullet_line_frac <= 0.9
               AND ellipsis_line_frac <= 0.3) AS keep
            FROM f
        """,
        "token_counts": f"""
            SELECT doc_id,
              CAST(len({toks}) AS INTEGER) AS tok_ws,
              CAST(len(regexp_extract_all(text, '{TOKEN_REGEX}')) AS INTEGER) AS tok_bpe
            FROM documents
        """,
        "lang_id": f"""
            WITH h AS (
              SELECT doc_id,
                {sw_hits('en')} AS en, {sw_hits('de')} AS de,
                {sw_hits('fr')} AS fr, {sw_hits('es')} AS es
              FROM documents)
            SELECT doc_id,
              CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
                   WHEN en = greatest(en, de, fr, es) THEN 'en'
                   WHEN de = greatest(en, de, fr, es) THEN 'de'
                   WHEN fr = greatest(en, de, fr, es) THEN 'fr'
                   ELSE 'es' END AS lang_guess
            FROM h
        """,
        # byte-fold feature over the poly-mode payload: ascii codes folded
        # into 16 position-mod buckets, L2-normalized; f0 = bucket0/norm.
        # Zero padding in the Spark fold adds 0 to every bucket sum, so the
        # unpadded DuckDB sums are identical.
        "multimodal_features": f"""
            WITH m AS (
              SELECT id,
                     'blob:' || CAST((id * 2654435761) % 2147483647 AS VARCHAR)
                     || ':' || repeat(CAST(((id + 13) * 1103515245 + 12345)
                                           % 2147483647 AS VARCHAR), 8) AS p
              FROM range(200) t(id)),
            s AS (SELECT id, {', '.join(
                f"list_sum(list_transform(string_split(p, ''), (x, i) -> "
                f"CASE WHEN (i - 1) % 16 = {k} THEN ascii(x) ELSE 0 END)) AS s{k}"
                for k in range(16))}
                  FROM m)
            SELECT id AS media_id,
                   CASE WHEN id % 3 = 0 THEN 'image'
                        WHEN id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS kind,
                   TRUE AS decode_ok,
                   -- CAST .. AS REAL replicates the float32 feature
                   -- storage on the Spark side (numpy astype(float32)) so
                   -- BOTH engines round the same quantized value — rounding
                   -- the exact double instead sits one ulp from a 4 dp
                   -- boundary for some payloads
                   round(CAST(CAST(CAST(s0 AS DOUBLE) / sqrt({' + '.join(
                       f"CAST(s{k} AS DOUBLE) * s{k}" for k in range(16))})
                       AS REAL) AS DOUBLE), 4) AS f0
            FROM s
        """,
        "doc_fingerprint": f"""
            WITH w AS (SELECT doc_id, {toks} AS toks FROM documents)
            SELECT doc_id,
              CASE WHEN len(toks) >= 5 THEN
                list_min([{shingle_hash} for i in range(0, len(toks) - 4)])
              ELSE
                list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(toks, w -> {word_hash.format(w='w')})),
                  (a, h) -> (a * 1000003 + h) % 2147483647)
              END AS fp
            FROM w
        """,
    }


if __name__ == "__main__":
    from beats_spark.session import get_spark

    s = get_spark("entry_smoke", master="local[8]")
    entry(s).show(10, truncate=False)
