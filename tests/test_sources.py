"""Sources (log-file input, kafka wiring) + misc processors."""

import gzip
import json

import pytest
from pyspark.sql import functions as F

from beats_spark.processors import apply_chain, build_chain, build_stage
from beats_spark.sources import kafka_reader_options, read_log_files


@pytest.fixture()
def logdir(tmp_path):
    a = tmp_path / "a.log"
    a.write_text("line one\nline two\nDEBUG noise\nline three\n")
    b = tmp_path / "b.log"
    b.write_text("ERROR start\n  at frame 1\n  at frame 2\nline after\n")
    (tmp_path / "c.txt").write_text("not a log\n")
    return tmp_path


def test_logfile_basic_envelope(spark, logdir):
    df = read_log_files(spark, str(logdir), glob="*.log")
    pdf = df.toPandas()
    assert set(pdf.columns) == {"message", "log"}
    assert len(pdf) == 8  # c.txt excluded by glob
    # per-file offsets dense from 0, in file order
    a = pdf[pdf["log"].map(lambda l: l["file"]["path"].endswith("a.log"))]
    rows = sorted((l["offset"], m) for l, m in zip(a["log"], a["message"]))
    assert [m for _, m in rows] == ["line one", "line two", "DEBUG noise", "line three"]


def test_logfile_include_exclude(spark, logdir):
    df = read_log_files(
        spark, str(logdir), glob="a.log",
        include_lines=["^line"], exclude_lines=["two"],
    )
    msgs = sorted(r["message"] for r in df.collect())
    assert msgs == ["line one", "line three"]


def test_logfile_multiline_stacktrace(spark, logdir):
    df = read_log_files(
        spark, str(logdir), glob="b.log",
        multiline={"pattern": r"^\s", "negate": False, "match": "after"},
    )
    msgs = sorted(r["message"] for r in df.collect())
    assert msgs == ["ERROR start\n  at frame 1\n  at frame 2", "line after"]


def test_logfile_ndjson(spark, tmp_path):
    p = tmp_path / "x.ndjson"
    p.write_text("\n".join(json.dumps({"k": i, "s": f"v{i}"}) for i in range(3)) + "\nBROKEN{\n")
    df = read_log_files(spark, str(p), json={"add_error_key": True},
                        json_schema="k int, s string")
    pdf = df.toPandas().sort_values("message").reset_index(drop=True)
    ok = pdf[pdf["json"].notna()]
    assert sorted(j["k"] for j in ok["json"]) == [0, 1, 2]
    bad = pdf[pdf["json"].isna()]
    assert len(bad) == 1
    assert bad.iloc[0]["error"]["message"].startswith("Error decoding")


def test_logfile_max_bytes(spark, tmp_path):
    p = tmp_path / "x.log"
    p.write_text("A" * 100 + "\nshort\n")
    df = read_log_files(spark, str(p), max_bytes=10)
    assert sorted(r["message"] for r in df.collect()) == ["A" * 10, "short"]


def test_kafka_options_and_frame():
    opts = kafka_reader_options({
        "hosts": ["k1:9092", "k2:9092"], "topics": ["t1", "t2"],
        "initial_offset": "newest", "group_id": "g", "max_batch_size": 500,
    })
    assert opts == {
        "kafka.bootstrap.servers": "k1:9092,k2:9092",
        "subscribe": "t1,t2",
        "startingOffsets": "latest",
        "kafka.group.id": "g",
        "maxOffsetsPerTrigger": "500",
    }


def test_decompress_gzip_field(spark):
    payload = gzip.compress(b"hello world")
    df = spark.createDataFrame([(bytearray(payload),), (bytearray(b"junk"),)],
                               "blob binary")
    out = apply_chain(df, build_chain([
        {"decompress_gzip_field": {"field": {"from": "blob", "to": "text"}}},
    ])).toPandas()
    vals = set(out["text"])
    assert "hello world" in vals and None in vals


def test_detect_mime_type(spark):
    df = spark.createDataFrame(
        [('{"a":1}',), ("<?xml version='1'?>",), ("plain",)], "message string"
    )
    out = apply_chain(df, build_chain([{"detect_mime_type": {"field": "message"}}])).toPandas()
    got = dict(zip(out["message"], out["mime_type"]))
    assert got['{"a":1}'] == "application/json"
    assert got["<?xml version='1'?>"] == "text/xml"
    assert got["plain"] is None


def test_extract_array_and_data_stream(spark):
    df = spark.createDataFrame([(["a", "b", "c"],)], "arr array<string>")
    stages = build_chain([
        {"extract_array": {"field": "arr", "mappings": {"first": 0, "last": 2}}},
        {"add_data_stream": {"dataset": "transcripts", "namespace": "prod"}},
    ])
    out = apply_chain(df, stages).toPandas().iloc[0]
    assert out["first"] == "a" and out["last"] == "c"
    assert out["data_stream"]["dataset"] == "transcripts"
    assert out["_meta_raw_index"] == "logs-transcripts-prod"


def test_add_formatted_index(spark):
    df = spark.createDataFrame([("c1", "2026-03-05 10:00:00")],
                               "conv_id string, ts_s string").select(
        "conv_id", F.to_timestamp("ts_s").alias("ts"))
    st = build_stage("add_formatted_index",
                     {"index": "tx-%{[conv_id]}-%{+yyyy.MM.dd}"})
    out = st.apply(df).toPandas().iloc[0]
    assert out["_meta_raw_index"] == "tx-c1-2026.03.05"


def test_timeseries_instance_deterministic(spark):
    df = spark.createDataFrame([("a", "x"), ("a", "x"), ("b", "x")],
                               "h string, m string")
    st = build_stage("timeseries_instance", {"fields": ["h", "m"]})
    out = st.apply(df).toPandas()
    inst = out["timeseries"].map(lambda s: s["instance"])
    assert inst[0] == inst[1] and inst[0] != inst[2]


def test_logfile_latin1_encoding(spark, tmp_path):
    """Non-UTF-8 charset decode (readfile/encode.go analogue): binaryFile +
    per-file Arrow-batched decode; envelope identical to the UTF-8 path."""
    p = tmp_path / "legacy.log"
    p.write_bytes("caf\xe9 au lait\nna\xefve r\xe9sum\xe9\n".encode("latin-1"))
    df = read_log_files(spark, str(tmp_path), glob="*.log", encoding="latin-1")
    pdf = df.toPandas()
    assert set(pdf.columns) == {"message", "log"}
    rows = sorted((l["offset"], m) for l, m in zip(pdf["log"], pdf["message"]))
    assert [m for _, m in rows] == ["caf\xe9 au lait", "na\xefve r\xe9sum\xe9"]
    assert pdf["log"].map(lambda l: l["file"]["path"].endswith("legacy.log")).all()


def test_logfile_latin1_with_filters_and_multiline(spark, tmp_path):
    p = tmp_path / "legacy.log"
    p.write_bytes(
        "ERROR d\xe9but\n  suite 1\n  suite 2\nINFO fin\n".encode("latin-1"))
    df = read_log_files(
        spark, str(tmp_path), glob="*.log", encoding="latin-1",
        multiline={"pattern": r"^\s", "match": "after"},
    )
    msgs = sorted(df.toPandas()["message"])
    assert msgs == ["ERROR d\xe9but\n  suite 1\n  suite 2", "INFO fin"]


def test_logfile_unknown_encoding_raises(spark, tmp_path):
    (tmp_path / "x.log").write_text("hi\n")
    import pytest as _pytest
    with _pytest.raises(LookupError):
        read_log_files(spark, str(tmp_path), encoding="no-such-charset")


# -- container logs (docker json-file / CRI) ---------------------------------

def test_container_docker_json(spark, tmp_path):
    """docker json-file: full lines pass through; chunks whose log lacks a
    trailing newline are partial and join with the following chunks
    (docker_json.go parseDockerJSONLog + the Next() append loop)."""
    from beats_spark.sources import read_container_logs

    p = tmp_path / "ctr.log"
    p.write_text(
        '{"log":"full line\\n","stream":"stdout","time":"2024-01-01T00:00:01Z"}\n'
        '{"log":"part one ","stream":"stdout","time":"2024-01-01T00:00:02Z"}\n'
        '{"log":"part two ","stream":"stdout","time":"2024-01-01T00:00:03Z"}\n'
        '{"log":"part three\\n","stream":"stdout","time":"2024-01-01T00:00:04Z"}\n'
        '{"log":"err line\\n","stream":"stderr","time":"2024-01-01T00:00:05Z"}\n'
        'not json at all\n'
    )
    out = read_container_logs(spark, str(tmp_path), glob="*.log").orderBy("ts")
    rows = out.collect()
    assert [r["message"] for r in rows] == [
        "full line", "part one part two part three", "err line"]
    assert [r["stream"] for r in rows] == ["stdout", "stdout", "stderr"]
    # joined event keeps the FIRST chunk's ts + offset
    assert rows[1]["ts"].second == 2 and rows[1]["log"]["offset"] == 1

    only_err = read_container_logs(
        spark, str(tmp_path), glob="*.log", stream="stderr").collect()
    assert [r["message"] for r in only_err] == ["err line"]


def test_container_cri_format(spark, tmp_path):
    """CRI: '<ts> <stream> <P|F> <content>'; P-tagged lines join with the
    following lines (parseCRILog:147-166)."""
    from beats_spark.sources import read_container_logs

    p = tmp_path / "cri.log"
    p.write_text(
        "2024-01-01T00:00:01.000000001Z stdout F single full\n"
        "2024-01-01T00:00:02.000000001Z stdout P partial start\n"
        "2024-01-01T00:00:03.000000001Z stdout F  end\n"
        "2024-01-01T00:00:04.000000001Z stderr F err content\n"
    )
    out = read_container_logs(spark, str(tmp_path), glob="*.log").orderBy("ts")
    rows = out.collect()
    assert [r["message"] for r in rows] == [
        "single full", "partial start end", "err content"]
    assert [r["stream"] for r in rows] == ["stdout", "stdout", "stderr"]


def test_container_auto_mixed(spark, tmp_path):
    """format=auto dispatches per line on the leading '{' (parseAuto)."""
    from beats_spark.sources import read_container_logs

    p = tmp_path / "mix.log"
    p.write_text(
        '{"log":"from docker\\n","stream":"stdout","time":"2024-01-01T00:00:01Z"}\n'
        "2024-01-01T00:00:02.000000001Z stdout F from cri\n"
    )
    out = read_container_logs(spark, str(tmp_path), glob="*.log").orderBy("ts")
    assert [r["message"] for r in out.collect()] == ["from docker", "from cri"]


def test_include_lines_any_semantics(spark, tmp_path):
    """include_lines keeps a line matching ANY pattern (MatchAny,
    harvester.go:497-514) — not the intersection."""
    (tmp_path / "a.log").write_text("ERR one\nWARN two\nINFO three\n")
    df = read_log_files(spark, str(tmp_path), glob="*.log",
                        include_lines=["^ERR", "^WARN"])
    assert sorted(r["message"] for r in df.collect()) == ["ERR one", "WARN two"]


def test_json_nested_schema_and_log_merge(spark, tmp_path):
    """Nested DDL types parse correctly, and a json 'log' object merges
    INTO the harvester envelope instead of colliding with it."""
    (tmp_path / "a.log").write_text(
        '{"k": 1, "m": {"x": 2}, "log": {"level": "warn"}}\n')
    df = read_log_files(
        spark, str(tmp_path), glob="*.log",
        json={"keys_under_root": True},
        json_schema="k int, m map<string,int>, log struct<level:string>",
    )
    row = df.collect()[0]
    assert row["k"] == 1 and row["m"]["x"] == 2
    assert row["log"]["level"] == "warn"
    assert row["log"]["file"]["path"].endswith("a.log")
    assert row["log"]["offset"] == 0


def test_logfile_filters_apply_to_joined_multiline_event(spark, tmp_path):
    """filebeat applies include/exclude to the COMBINED multiline event and
    limits bytes after joining (harvester.go:497-514, reader chain
    ... -> multiline -> limit): the whole stack trace is kept because its
    first line matches, and the joined event exceeds any per-line size."""
    p = tmp_path / "trace.log"
    p.write_text("ERROR boom\n  at frame 1\n  at frame 2\nok line\n")
    df = read_log_files(
        spark, str(tmp_path), glob="trace.log",
        multiline={"pattern": r"^\s", "match": "after"},
        include_lines=["ERROR"],
    )
    msgs = [r["message"] for r in df.collect()]
    assert msgs == ["ERROR boom\n  at frame 1\n  at frame 2"]
    # max_bytes truncates the JOINED event, not each raw line
    df2 = read_log_files(
        spark, str(tmp_path), glob="trace.log",
        multiline={"pattern": r"^\s", "match": "after"},
        max_bytes=12,
    )
    msgs2 = sorted(r["message"] for r in df2.collect())
    assert msgs2 == ["ERROR boom\n ", "ok line"]


def test_logfile_json_unknown_keys_raise(spark, tmp_path):
    p = tmp_path / "x.ndjson"
    p.write_text('{"k": 1}\n')
    with pytest.raises(ValueError, match="unsupported json keys"):
        read_log_files(spark, str(tmp_path), glob="x.ndjson",
                       json={"message_key": "log"}, json_schema="k int")


def test_kafka_scalar_hosts_and_key_with_hash():
    from beats_spark.sources.kafka import kafka_reader_options

    opts = kafka_reader_options({"hosts": "broker1:9092", "topics": "t"})
    assert opts["kafka.bootstrap.servers"] == "broker1:9092"


def test_logfile_json_parses_per_line_before_multiline(spark, tmp_path):
    """Reference chain order: line -> encode -> json -> multiline
    (harvester.go:694,700). With both configured, each raw line's JSON is
    parsed individually and the joined event keeps the FIRST line's parsed
    fields; feeding the joined blob to the JSON parser (the r3 regression)
    would fail parsing and tag every merged event with add_error_key."""
    p = tmp_path / "j.ndjson"
    p.write_text(
        '{"k": 1, "s": "head"}\n'
        '{"k": 2, "s": " cont"}\n'
        '{"k": 3, "s": "next"}\n'
    )
    df = read_log_files(
        spark, str(tmp_path), glob="j.ndjson",
        json={"add_error_key": True}, json_schema="k int, s string",
        multiline={"pattern": r'"s": " ', "match": "after"},
    )
    rows = sorted(df.collect(), key=lambda r: r["log"]["offset"])
    assert len(rows) == 2
    merged, single = rows[0], rows[1]
    assert merged["json"]["k"] == 1  # first line's parsed fields kept
    assert merged["json"]["s"] == "head"
    assert '"k": 2' in merged["message"]  # raw lines joined
    assert single["json"]["k"] == 3
    # every line parsed cleanly -> no add_error_key on the merged event
    assert merged["error"] is None and single["error"] is None
