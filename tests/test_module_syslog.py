"""Golden end-to-end port of a THIRD real filebeat module pipeline:
system/syslog.

Reference: filebeat/module/system/syslog/ingest/pipeline.yml — a
three-pattern grok (BSD syslog with host/program/pid, timestamp-only
fallback, ISO8601 dialect) with a custom GREEDYMULTILINE definition that
captures multiline-joined messages, the message→system.syslog.message→
message field swap, the year-less BSD date parse, and the related.hosts
append. The reference's date processor fills the missing year from ingest
wall-clock and honors `{{event.timezone}}` (the convert_timezone setting);
here the year comes from event.created (the deterministic analogue of
ingest time) and the timezone branch is out of scope (no event.timezone in
a batch table contract). Fixtures are paraphrased lines covering the same
shapes as the module's own corpus (darwin/suse/tz-offset logs: pid,
no-pid, double-space day pad, repeated-message fallback, ISO8601,
multiline payload, malformed)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from beats_spark.event import get_path
from beats_spark.processors import apply_chain, build_chain
from fn_stage import FnStage

SYSLOG_DEFS = {
    "IP": r"(?:%{IPV6}|(?:\d{1,3}\.){3}\d{1,3})",
    "SYSLOGHOST": "(?:%{IP}|%{HOSTNAME})",
    "POSINT": r"\b[1-9][0-9]*\b",
    # pipeline.yml's custom definition `(.|\n)*` — message bodies are
    # multiline-joined events
    "GREEDYMULTILINE": r"(?:.|\n)*",
}

SYSLOG_PATTERNS = [
    "%{SYSLOGTIMESTAMP:system.syslog.timestamp} "
    "%{SYSLOGHOST:host.hostname} %{DATA:process.name}"
    "(?:\\[%{POSINT:process.pid:long}\\])?: "
    "%{GREEDYMULTILINE:system.syslog.message}",
    "%{SYSLOGTIMESTAMP:system.syslog.timestamp} "
    "%{GREEDYMULTILINE:system.syslog.message}",
    "%{TIMESTAMP_ISO8601:system.syslog.timestamp} "
    "%{SYSLOGHOST:host.hostname} %{DATA:process.name}"
    "(?:\\[%{POSINT:process.pid:long}\\])?: "
    "%{GREEDYMULTILINE:system.syslog.message}",
]


def _syslog_date(df):
    """pipeline.yml's date processor as column algebra: BSD timestamps
    carry no year — the reference fills it from ingest time; event.created
    is the deterministic analogue. 'MMM  d' double-space day pads collapse
    first (the reference lists both formats)."""
    raw = get_path(df, "system.syslog.timestamp")
    norm = F.regexp_replace(raw, r"\s+", " ")
    year = F.year(get_path(df, "event.created")).cast("string")
    bsd = F.try_to_timestamp(F.concat(year, F.lit(" "), norm),
                             F.lit("yyyy MMM d HH:mm:ss"))
    return {"ts": F.coalesce(bsd, raw.try_cast("timestamp"))}


def _related_hosts(df):
    """append related.hosts when hostname is present and non-empty."""
    h = get_path(df, "host.hostname")
    return {"related.hosts": F.when(h.isNotNull() & (h != ""), F.array(h))}


def syslog_stages():
    head = build_chain([
        # set event.ingested = {{_ingest.timestamp}}: ingest wall-clock
        # metadata, out of scope as in the nginx/apache ports
        {"rename": {"fields": [{"from": "ts", "to": "event.created"}]}},
        {"grok": {
            "field": "message",
            "patterns": SYSLOG_PATTERNS,
            "pattern_definitions": SYSLOG_DEFS,
            "anchor": False,
            "null_empty_captures": True,
        }},
        {"drop_fields": {"fields": ["message"]}},
        {"rename": {"fields": [{"from": "system.syslog.message",
                                "to": "message"}],
                    "ignore_missing": True}},
    ])
    date = [FnStage(updates_fn=_syslog_date)]
    tail = build_chain([
        {"drop_fields": {"fields": ["system.syslog.timestamp"],
                         "ignore_missing": True}},
        {"add_fields": {"target": "event", "fields": {"kind": "event"}}},
    ])
    related = [FnStage(updates_fn=_related_hosts)]
    return head + date + tail + related


LINES = [
    # 0: BSD with program + pid
    "Mar 11 14:22:05 webhost systemd[1]: unit started cleanly",
    # 1: double-space day pad, no pid
    "Mar  1 03:04:05 dbhost kernel: out of memory warning",
    # 2: multiline-joined payload (the GREEDYMULTILINE definition)
    "Mar 11 14:25:33 apphost runner[42]: step one\n  step two",
    # 3: timestamp-only fallback (darwin 'last message repeated' shape)
    "Mar 12 09:01:02 --- last message repeated 3 times ---",
    # 4: ISO8601 dialect with offset
    "2025-03-13T08:30:11+02:00 cachehost nginx[7]: reload",
    # 5: malformed
    "totally not a syslog line",
]


@pytest.fixture(scope="module")
def parsed(spark):
    base = dt.datetime(2025, 6, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [(line, base) for line in LINES], "message string, ts timestamp")
    out = apply_chain(df, syslog_stages())
    rows = out.collect()
    return out, rows


def _g(row, path):
    cur = row
    for part in path.split("."):
        if cur is None:
            return None
        cur = cur[part]
    return cur


def test_bsd_with_pid(parsed):
    _, rows = parsed
    r = rows[0]
    assert _g(r, "host.hostname") == "webhost"
    assert _g(r, "process.name") == "systemd"
    assert _g(r, "process.pid") == 1
    assert r["message"] == "unit started cleanly"
    assert r["ts"] == dt.datetime(2025, 3, 11, 14, 22, 5)
    assert _g(r, "event.kind") == "event"
    assert _g(r, "related.hosts") == ["webhost"]


def test_double_space_day_no_pid(parsed):
    _, rows = parsed
    r = rows[1]
    assert _g(r, "process.name") == "kernel"
    assert _g(r, "process.pid") is None
    assert r["ts"] == dt.datetime(2025, 3, 1, 3, 4, 5)
    assert r["message"] == "out of memory warning"


def test_multiline_payload(parsed):
    _, rows = parsed
    r = rows[2]
    assert _g(r, "process.pid") == 42
    assert r["message"] == "step one\n  step two"


def test_timestamp_only_fallback(parsed):
    _, rows = parsed
    r = rows[3]
    assert _g(r, "host.hostname") is None
    assert _g(r, "process") is None
    assert r["message"] == "--- last message repeated 3 times ---"
    assert r["ts"] == dt.datetime(2025, 3, 12, 9, 1, 2)
    assert _g(r, "related.hosts") is None


def test_iso8601_dialect(parsed):
    _, rows = parsed
    r = rows[4]
    assert _g(r, "host.hostname") == "cachehost"
    assert _g(r, "process.name") == "nginx"
    assert _g(r, "process.pid") == 7
    # +02:00 → UTC
    assert r["ts"] == dt.datetime(2025, 3, 13, 6, 30, 11)


def test_malformed_tagged_not_dropped(parsed):
    _, rows = parsed
    r = rows[5]
    assert r["message"] is None  # original removed; no parsed message
    assert r["ts"] is None
    flags = r["log"]["flags"] if "log" in r.asDict() else []
    assert "grok_parsing_error" in (flags or [])


def test_no_python_in_plan(parsed):
    out, _ = parsed
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan
