"""Golden end-to-end port of a FOURTH real filebeat module pipeline:
mysql/slowlog.

Reference: filebeat/module/mysql/slowlog/ingest/pipeline.json — ONE giant
~50-optional-group grok (every Percona/MariaDB/MySQL metric line variant,
custom METRICSPACE/EXPLAIN/GREEDYMULTILINE definitions, repeated field
names across dialect-specific sites) — plus
filebeat/module/mysql/slowlog/config/slowlog.yml's multiline config
(events start at '# User@Host: ' or '# Time: ', negate+after) and
exclude_lines (the server-restart header joins into ONE multiline event
starting with the binary path, and '# Time:' events are dropped whole).
The two painless scripts (Yes/No → boolean; event.duration =
round(Query_time·1e6)·1000 ns) become column algebra; the date processor
(UNIX epoch from SET timestamp=...) becomes timestamp_seconds.

Exercises multiline + multi-site grok + numeric conversion JOINTLY, the
combination the r4 verdict called out. Fixtures are paraphrased events
covering the same shapes as the module's own corpus (mysql-5.7.22,
mariadb-10.3.13, percona-ubuntu-5.7.19[-innodb], mariadb-explain logs).

Documented static-typing divergences from ES's per-document dynamics:
``mysql.thread_id`` and ``mysql.slowlog.tmp_disk_tables`` have BOTH typed
and untyped capture sites in the reference pattern (so ES emits long for
'Id: 7234' corpora but string for MariaDB 'Thread_id: 37' corpora); a
DataFrame column has one static type, so a convert stage casts both to
long always.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from beats_spark.event import get_path, has_path
from beats_spark.processors import apply_chain, build_chain
from fn_stage import FnStage

MYSQL_DEFS = {
    "IP": r"(?:%{IPV6}|(?:\d{1,3}\.){3}\d{1,3})",
    "USER": r"[a-zA-Z0-9._-]+",
    "SPACE": r"\s*",
    # pipeline.json pattern_definitions, 1:1
    "GREEDYMULTILINE": "(.|\n)*",
    "METRICSPACE": "([ #\n]*)",
    "EXPLAIN": "(# explain:.*\n|#\\s*\n)*",
}

# pipeline.json:10 — the single ordered-optional-groups pattern, ported 1:1
MYSQL_PATTERN = (
    "^# User@Host: %{USER:user.name}(\\[%{USER:mysql.slowlog.current_user}\\])?"
    " @ %{HOSTNAME:source.domain}? \\[%{IP:source.ip}?\\]%{METRICSPACE}"
    "(Id:%{SPACE}%{NUMBER:mysql.thread_id:long}%{METRICSPACE})?"
    "(Thread_id:%{SPACE}%{NUMBER:mysql.thread_id}%{METRICSPACE})?"
    "(Schema:%{SPACE}%{WORD:mysql.slowlog.schema}?%{METRICSPACE})?"
    "(Last_errno: %{NUMBER:mysql.slowlog.last_errno:long}%{METRICSPACE})?"
    "(Killed: %{NUMBER:mysql.slowlog.killed:long}%{METRICSPACE})?"
    "(QC_hit: %{WORD:mysql.slowlog.query_cache_hit}%{METRICSPACE})?"
    "(Query_time: %{NUMBER:temp.duration:float}%{METRICSPACE})?"
    "(Lock_time: %{NUMBER:mysql.slowlog.lock_time.sec:float}%{METRICSPACE})?"
    "(Rows_sent: %{NUMBER:mysql.slowlog.rows_sent:long}%{METRICSPACE})?"
    "(Rows_examined: %{NUMBER:mysql.slowlog.rows_examined:long}%{METRICSPACE})?"
    "(Rows_affected: %{NUMBER:mysql.slowlog.rows_affected:long}%{METRICSPACE})?"
    "(Thread_id: %{NUMBER:mysql.thread_id}%{METRICSPACE})?"
    "(Errno: %{NUMBER:mysql.slowlog.last_errno:long}%{METRICSPACE})?"
    "(Killed: %{NUMBER:mysql.slowlog.killed:long}%{METRICSPACE})?"
    "(Bytes_received: %{NUMBER:mysql.slowlog.bytes_received:long}%{METRICSPACE})?"
    "(Bytes_sent: %{NUMBER:mysql.slowlog.bytes_sent:long}%{METRICSPACE})?"
    "(Read_first: %{NUMBER:mysql.slowlog.read_first:long}%{METRICSPACE})?"
    "(Read_last: %{NUMBER:mysql.slowlog.read_last:long}%{METRICSPACE})?"
    "(Read_key: %{NUMBER:mysql.slowlog.read_key:long}%{METRICSPACE})?"
    "(Read_next: %{NUMBER:mysql.slowlog.read_next:long}%{METRICSPACE})?"
    "(Read_prev: %{NUMBER:mysql.slowlog.read_prev:long}%{METRICSPACE})?"
    "(Read_rnd: %{NUMBER:mysql.slowlog.read_rnd:long}%{METRICSPACE})?"
    "(Read_rnd_next: %{NUMBER:mysql.slowlog.read_rnd_next:long}%{METRICSPACE})?"
    "(Sort_merge_passes: %{NUMBER:mysql.slowlog.sort_merge_passes:long}%{METRICSPACE})?"
    "(Sort_range_count: %{NUMBER:mysql.slowlog.sort_range_count:long}%{METRICSPACE})?"
    "(Sort_rows: %{NUMBER:mysql.slowlog.sort_rows:long}%{METRICSPACE})?"
    "(Sort_scan_count: %{NUMBER:mysql.slowlog.sort_scan_count:long}%{METRICSPACE})?"
    "(Created_tmp_disk_tables: %{NUMBER:mysql.slowlog.tmp_disk_tables:long}%{METRICSPACE})?"
    "(Created_tmp_tables: %{NUMBER:mysql.slowlog.tmp_tables:long}%{METRICSPACE})?"
    "(Tmp_tables: %{NUMBER:mysql.slowlog.tmp_tables:long}%{METRICSPACE})?"
    "(Tmp_disk_tables: %{NUMBER:mysql.slowlog.tmp_disk_tables}%{METRICSPACE})?"
    "(Tmp_table_sizes: %{NUMBER:mysql.slowlog.tmp_table_sizes:long}%{METRICSPACE})?"
    "(Start: %{TIMESTAMP_ISO8601:event.start}%{METRICSPACE})?"
    "(End: %{TIMESTAMP_ISO8601:event.end}%{METRICSPACE})?"
    "(InnoDB_trx_id: %{WORD:mysql.slowlog.innodb.trx_id}%{METRICSPACE})?"
    "(QC_Hit: %{WORD:mysql.slowlog.query_cache_hit}%{METRICSPACE})?"
    "(Full_scan: %{WORD:mysql.slowlog.full_scan}%{METRICSPACE})?"
    "(Full_join: %{WORD:mysql.slowlog.full_join}%{METRICSPACE})?"
    "(Tmp_table: %{WORD:mysql.slowlog.tmp_table}%{METRICSPACE})?"
    "(Tmp_table_on_disk: %{WORD:mysql.slowlog.tmp_table_on_disk}%{METRICSPACE})?"
    "(Filesort: %{WORD:mysql.slowlog.filesort}%{METRICSPACE})?"
    "(Filesort_on_disk: %{WORD:mysql.slowlog.filesort_on_disk}%{METRICSPACE})?"
    "(Merge_passes: %{NUMBER:mysql.slowlog.merge_passes:long}%{METRICSPACE})?"
    "(Priority_queue: %{WORD:mysql.slowlog.priority_queue}%{METRICSPACE})?"
    "(No InnoDB statistics available for this query%{METRICSPACE})?"
    "(InnoDB_IO_r_ops: %{NUMBER:mysql.slowlog.innodb.io_r_ops:long}%{METRICSPACE})?"
    "(InnoDB_IO_r_bytes: %{NUMBER:mysql.slowlog.innodb.io_r_bytes:long}%{METRICSPACE})?"
    "(InnoDB_IO_r_wait: %{NUMBER:mysql.slowlog.innodb.io_r_wait.sec:float}%{METRICSPACE})?"
    "(InnoDB_rec_lock_wait: %{NUMBER:mysql.slowlog.innodb.rec_lock_wait.sec:float}%{METRICSPACE})?"
    "(InnoDB_queue_wait: %{NUMBER:mysql.slowlog.innodb.queue_wait.sec:float}%{METRICSPACE})?"
    "(InnoDB_pages_distinct: %{NUMBER:mysql.slowlog.innodb.pages_distinct:long}%{METRICSPACE})?"
    "(Log_slow_rate_type: %{WORD:mysql.slowlog.log_slow_rate_type}%{METRICSPACE})?"
    "(Log_slow_rate_limit: %{NUMBER:mysql.slowlog.log_slow_rate_limit:long}%{METRICSPACE})?"
    "%{EXPLAIN}"
    "(use %{WORD:mysql.slowlog.schema};\n)?"
    "SET timestamp=%{NUMBER:mysql.slowlog.timestamp:long};\n"
    "%{GREEDYMULTILINE:mysql.slowlog.query}"
)

# slowlog.yml exclude_lines, applied to the JOINED event (reference order:
# multiline first, so the 3-line restart header drops as one event)
EXCLUDE = [r"^[\/\w\.]+, Version: .* started with:.*", r"^# Time:.*"]

BOOL_FIELDS = ["query_cache_hit", "tmp_table", "tmp_table_on_disk",
               "filesort", "filesort_on_disk", "priority_queue",
               "full_scan", "full_join"]


def _yes_no(df):
    """painless script #1: params.mapping Yes→true / No→false; any other
    non-null value maps to null (mapping.get miss)."""
    ups = {}
    for name in BOOL_FIELDS:
        p = f"mysql.slowlog.{name}"
        if has_path(df.schema, p):
            v = get_path(df, p)
            ups[p] = F.when(v == "Yes", F.lit(True)) \
                      .when(v == "No", F.lit(False))
    return ups


def _duration(df):
    """painless script #2: event.duration = Math.round(sec·1e6)·1000 ns."""
    d = get_path(df, "temp.duration")
    return {"event.duration": F.round(d * F.lit(1000000.0), 0)
            .cast("long") * F.lit(1000)}


def _unix_ts(df):
    """date processor, formats: [UNIX]."""
    return {"ts": F.timestamp_seconds(
        get_path(df, "mysql.slowlog.timestamp"))}


def mysql_slowlog_stages():
    head = build_chain([
        {"multiline": {"pattern": "^(# User@Host: |# Time: )",
                       "negate": True, "match": "after",
                       "field": "message",
                       "partition_by": ["file"], "order_by": ["line_no"]}},
    ])
    grok = build_chain([
        {"grok": {"field": "message", "pattern": MYSQL_PATTERN,
                  "pattern_definitions": MYSQL_DEFS, "anchor": False,
                  "null_empty_captures": True}},
        {"drop_fields": {"fields": ["message"]}},
        # static-type normalization for the mixed typed/untyped sites
        # (documented divergence, see module docstring)
        {"convert": {"fields": [
            {"from": "mysql.thread_id", "type": "long"},
            {"from": "mysql.slowlog.tmp_disk_tables", "type": "long"},
        ], "ignore_missing": True}},
    ])
    scripts = [FnStage(updates_fn=_yes_no), FnStage(updates_fn=_duration),
               FnStage(updates_fn=_unix_ts)]
    tail = build_chain([
        {"drop_fields": {"fields": ["temp", "mysql.slowlog.timestamp"],
                         "ignore_missing": True}},
        {"add_fields": {"target": "event", "fields": {"kind": "event"}}},
    ])
    return head + grok + scripts + tail


# paraphrased corpus — same shapes as the module's test logs
RAW_LINES = [
    # restart header: 3 lines, joins to ONE event, excluded whole
    "/usr/sbin/mysqld, Version: 5.7.22-0ubuntu0.1 (Ubuntu). started with:",
    "Tcp port: 3306  Unix socket: /var/run/mysqld/mysqld.sock",
    "Time\t\t    Id Command\tArgument",
    # '# Time:' event, excluded
    "# Time: 2018-08-07T16:27:47.169604+08:00",
    # [e0] mysql-5.7 shape: Id:, bare-ip host, single-line query
    "# User@Host: alice[alice] @  [203.0.113.10]  Id:  4321",
    "# Query_time: 12.000223  Lock_time: 0.000000 Rows_sent: 1  Rows_examined: 0",
    "SET timestamp=1533630467;",
    "select sleep(12);",
    # another excluded '# Time:' separator (mariadb short form)
    "# Time: 190324 16:03:00",
    # [e1] mariadb-10.3 shape: Thread_id/Schema/QC_hit, Yes/No block,
    # use-line, multiline query
    "# User@Host: root[root] @ localhost []",
    "# Thread_id: 42  Schema: sales  QC_hit: No",
    "# Query_time: 2.461578  Lock_time: 0.000196  Rows_sent: 10  Rows_examined: 31457",
    "# Rows_affected: 0  Bytes_sent: 319",
    "# Tmp_tables: 1  Tmp_disk_tables: 0  Tmp_table_sizes: 4026528",
    "# Full_scan: Yes  Full_join: No  Tmp_table: Yes  Tmp_table_on_disk: No",
    "# Filesort: Yes  Filesort_on_disk: No  Merge_passes: 0  Priority_queue: Yes",
    "use sales;",
    "SET timestamp=1553443380;",
    "SELECT last_name, MAX(salary) AS s FROM emp",
    "    GROUP BY last_name",
    "    LIMIT 10;",
    # [e2] percona-innodb shape: empty Schema + Last_errno/Killed, trx id,
    # QC_Hit capital, InnoDB_IO metrics, Log_slow_rate
    "# User@Host: svc[svc] @  [198.51.100.7]  Id: 14370752",
    "# Schema:   Last_errno: 3170  Killed: 0",
    "# Query_time: 153.883481  Lock_time: 0.024022  Rows_sent: 0  Rows_examined: 120309968  Rows_affected: 19198",
    "# Bytes_sent: 62  Tmp_tables: 0  Tmp_disk_tables: 0  Tmp_table_sizes: 0",
    "# InnoDB_trx_id: 69BB9C7F9",
    "# QC_Hit: No  Full_scan: No  Full_join: No  Tmp_table: No  Tmp_table_on_disk: No",
    "# Filesort: No  Filesort_on_disk: No  Merge_passes: 0",
    "#   InnoDB_IO_r_ops: 9744  InnoDB_IO_r_bytes: 79822848  InnoDB_IO_r_wait: 0.883446",
    "#   InnoDB_rec_lock_wait: 0.003038  InnoDB_queue_wait: 0.000000",
    "#   InnoDB_pages_distinct: 64872",
    "# Log_slow_rate_type: query  Log_slow_rate_limit: 100",
    "SET timestamp=1548052563;",
    "DELETE FROM events WHERE created < NOW() - INTERVAL 30 DAY;",
    # [e3] mariadb-explain shape: explain lines + bare-# lines (EXPLAIN def)
    "# User@Host: root[root] @ localhost []",
    "# Thread_id: 2  Schema: dbt3  QC_hit: No",
    "# Query_time: 5.524103  Lock_time: 0.000337  Rows_sent: 1  Rows_examined: 65633",
    "#",
    "# explain: id   select_type     table   type    key     rows    Extra",
    "# explain: 1    SIMPLE  nation  ref     n_name  1       Using where",
    "#",
    "SET timestamp=1384261412;",
    "select count(*) from customer where c_nationkey=7;",
    # [e4] malformed event (no SET timestamp line)
    "# User@Host: broken[broken] @ localhost []",
    "no timestamp here at all",
]


def _utc(epoch: int) -> dt.datetime:
    return dt.datetime.fromtimestamp(epoch, dt.timezone.utc) \
        .replace(tzinfo=None)


@pytest.fixture(scope="module")
def parsed(spark):
    df = spark.createDataFrame(
        [("f1", i, line) for i, line in enumerate(RAW_LINES)],
        "file string, line_no int, message string")
    out = apply_chain(df, mysql_slowlog_stages()[:1])  # multiline join
    for rx in EXCLUDE:
        out = out.filter(~F.coalesce(F.col("message").rlike(rx),
                                     F.lit(False)))
    out = apply_chain(out, mysql_slowlog_stages()[1:])
    rows = out.orderBy("line_no").collect()
    return out, rows


def _g(row, path):
    cur = row
    for part in path.split("."):
        if cur is None:
            return None
        cur = cur.asDict().get(part) if hasattr(cur, "asDict") else cur[part]
    return cur


def test_event_count_after_exclude(parsed):
    _, rows = parsed
    # header + two '# Time:' events excluded; five User@Host events remain
    assert len(rows) == 5


def test_mysql57_shape(parsed):
    _, rows = parsed
    r = rows[0]
    assert _g(r, "user.name") == "alice"
    assert _g(r, "mysql.slowlog.current_user") == "alice"
    assert _g(r, "source.ip") == "203.0.113.10"
    assert _g(r, "source.domain") is None
    assert _g(r, "mysql.thread_id") == 4321
    assert _g(r, "event.duration") == 12000223000
    assert _g(r, "mysql.slowlog.lock_time.sec") == 0.0
    assert _g(r, "mysql.slowlog.rows_sent") == 1
    assert _g(r, "mysql.slowlog.rows_examined") == 0
    assert _g(r, "mysql.slowlog.query") == "select sleep(12);"
    assert r["ts"] == _utc(1533630467)
    assert _g(r, "event.kind") == "event"


def test_mariadb_shape(parsed):
    _, rows = parsed
    r = rows[1]
    assert _g(r, "source.domain") == "localhost"
    assert _g(r, "source.ip") is None
    assert _g(r, "mysql.thread_id") == 42  # static-type divergence: long
    assert _g(r, "mysql.slowlog.schema") == "sales"
    assert _g(r, "mysql.slowlog.query_cache_hit") is False
    assert _g(r, "event.duration") == 2461578000
    assert _g(r, "mysql.slowlog.lock_time.sec") == pytest.approx(0.000196)
    assert _g(r, "mysql.slowlog.rows_sent") == 10
    assert _g(r, "mysql.slowlog.rows_examined") == 31457
    assert _g(r, "mysql.slowlog.rows_affected") == 0
    assert _g(r, "mysql.slowlog.bytes_sent") == 319
    assert _g(r, "mysql.slowlog.tmp_tables") == 1
    assert _g(r, "mysql.slowlog.tmp_disk_tables") == 0
    assert _g(r, "mysql.slowlog.tmp_table_sizes") == 4026528
    assert _g(r, "mysql.slowlog.full_scan") is True
    assert _g(r, "mysql.slowlog.full_join") is False
    assert _g(r, "mysql.slowlog.tmp_table") is True
    assert _g(r, "mysql.slowlog.tmp_table_on_disk") is False
    assert _g(r, "mysql.slowlog.filesort") is True
    assert _g(r, "mysql.slowlog.filesort_on_disk") is False
    assert _g(r, "mysql.slowlog.merge_passes") == 0
    assert _g(r, "mysql.slowlog.priority_queue") is True
    assert _g(r, "mysql.slowlog.query") == (
        "SELECT last_name, MAX(salary) AS s FROM emp\n"
        "    GROUP BY last_name\n    LIMIT 10;")
    assert r["ts"] == _utc(1553443380)


def test_percona_innodb_shape(parsed):
    _, rows = parsed
    r = rows[2]
    assert _g(r, "mysql.thread_id") == 14370752
    assert _g(r, "mysql.slowlog.schema") is None  # 'Schema:' empty
    assert _g(r, "mysql.slowlog.last_errno") == 3170
    assert _g(r, "mysql.slowlog.killed") == 0
    assert _g(r, "event.duration") == 153883481000
    assert _g(r, "mysql.slowlog.rows_affected") == 19198
    assert _g(r, "mysql.slowlog.innodb.trx_id") == "69BB9C7F9"
    assert _g(r, "mysql.slowlog.query_cache_hit") is False  # QC_Hit site
    assert _g(r, "mysql.slowlog.innodb.io_r_ops") == 9744
    assert _g(r, "mysql.slowlog.innodb.io_r_bytes") == 79822848
    assert _g(r, "mysql.slowlog.innodb.io_r_wait.sec") == pytest.approx(0.883446)
    assert _g(r, "mysql.slowlog.innodb.rec_lock_wait.sec") == pytest.approx(0.003038)
    assert _g(r, "mysql.slowlog.innodb.queue_wait.sec") == 0.0
    assert _g(r, "mysql.slowlog.innodb.pages_distinct") == 64872
    assert _g(r, "mysql.slowlog.log_slow_rate_type") == "query"
    assert _g(r, "mysql.slowlog.log_slow_rate_limit") == 100
    assert _g(r, "mysql.slowlog.query").startswith("DELETE FROM events")
    assert r["ts"] == _utc(1548052563)


def test_explain_lines_consumed(parsed):
    _, rows = parsed
    r = rows[3]
    assert _g(r, "mysql.slowlog.schema") == "dbt3"
    assert _g(r, "event.duration") == 5524103000
    # explain/bare-# lines are eaten by the EXPLAIN definition, never
    # leak into the query capture
    assert _g(r, "mysql.slowlog.query") == \
        "select count(*) from customer where c_nationkey=7;"
    assert r["ts"] == _utc(1384261412)


def test_malformed_event_flagged(parsed):
    _, rows = parsed
    r = rows[4]
    assert _g(r, "mysql.slowlog.query") is None
    assert r["ts"] is None
    flags = r["log"]["flags"] if "log" in r.asDict() else []
    assert "grok_parsing_error" in (flags or [])


def test_no_python_in_plan(parsed):
    out, _ = parsed
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan
