"""Golden port of a SIXTH real filebeat module pipeline: postgresql/log.

Reference: filebeat/module/postgresql/log/ingest/pipeline.yml — an outer
grok that captures the timestamp + timezone abbreviation and ONE separator
character, then dispatches to one of two sub-pipelines on it (ES
``pipeline.if: ctx.separator != ','``, here the if/then-else stage):

- pipeline-log.yml: the single large optional-group grok (pid, session
  line number, [user]@[db] and user@db dialects, level, sql_state_code,
  duration/statement/message alternatives, multiline GREEDYDATA spanning
  newline+tab continuations);
- pipeline-csv.yml: the 23-column csv processor (decode_csv_fields +
  positional mapping), the client_addr:port grok, session_start_time
  date, per-column converts, and the 4-pattern duration/query_step grok
  over the csv message column.

Shared tail: the ``yyyy-MM-dd HH:mm:ss[.SSS] zz`` date (timezone
ABBREVIATIONS like CEST parse through Spark's java.time 'zz'),
event.duration = round(ms·1e6) ns, the sql_state_code-driven
event.type info/error split, and the related.user append — all column
algebra, zero Python in the plan.

Fixtures are paraphrased events covering the same shapes as the module's
corpus (postgresql-10-default / -min-duration-statement text logs,
postgresql-11 csv logs).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from beats_spark.event import get_path, has_path
from beats_spark.processors import apply_chain, build_chain
from fn_stage import FnStage

_GREEDY_ML = "(.|\n|\t)*"

OUTER_DEFS = {
    "TIME": r"\d{2}:\d{2}:\d{2}(?:\.\d+)?",
    "DATETIME": "[-0-9]+ %{TIME} %{WORD:event.timezone}",
    "CHAR": ".",
    "GREEDYDATA": _GREEDY_ML,
}

LOG_DEFS = {
    "GREEDYDATA": _GREEDY_ML,
    "USERNAME": "[a-zA-Z0-9._-]+",
    "BASE16FLOAT": r"\b[0-9A-Fa-f]+(?:\.[0-9A-Fa-f]*)?\b",
    "SPACE": r"\s*",
    "POSTGRESQL_DB_NAME": r"[a-zA-Z0-9_]+[a-zA-Z0-9_\$]*",
    "POSTGRESQL_QUERY_STEP": "%{WORD:postgresql.log.query_step}"
                             "(?: <unnamed>| %{WORD:postgresql.log.query_name})?",
    "POSTGRESQL_ERROR": r"\b[A-Z0-9]{5}\b",
}

# pipeline-log.yml:7 — ported 1:1
LOG_PATTERN = (
    "^(\\[%{NUMBER:process.pid:long}"
    "(-%{BASE16FLOAT:postgresql.log.session_line_number:long})?\\] "
    "((\\[%{USERNAME:user.name}\\]@\\[%{POSTGRESQL_DB_NAME:postgresql.log.database}\\]"
    "|%{USERNAME:user.name}@%{POSTGRESQL_DB_NAME:postgresql.log.database}) )?)?"
    "%{WORD:log.level}:  (?:%{POSTGRESQL_ERROR:postgresql.log.sql_state_code}|%{SPACE})"
    "(duration: %{NUMBER:temp.duration:float} ms"
    "(  %{POSTGRESQL_QUERY_STEP}: %{GREEDYDATA:postgresql.log.query})?"
    "|statement: %{GREEDYDATA:postgresql.log.query}"
    "|: %{GREEDYDATA:message}"
    "|%{GREEDYDATA:message})"
)

# pipeline-csv.yml target_fields, 1:1 (positional)
CSV_FIELDS = [
    "user.name", "postgresql.log.database", "process.pid",
    "tempcsv.connection_from", "postgresql.log.session_id",
    "tempcsv.session_line_num", "postgresql.log.command_tag",
    "tempcsv.session_start_time", "postgresql.log.virtual_transaction_id",
    "postgresql.log.transaction_id", "log.level",
    "postgresql.log.sql_state_code", "tempcsv.message",
    "postgresql.log.detail", "postgresql.log.hint",
    "postgresql.internal_query", "tempcsv.internal_query_pos",
    "postgresql.log.context", "postgresql.log.query", "tempcsv.query_pos",
    "postgresql.log.location", "postgresql.log.application_name",
    "postgresql.log.backend_type",
]

CSV_MSG_DEFS = {
    "GREEDYDATA": _GREEDY_ML,
    "POSTGRESQL_QUERY_STEP":
        "(parse|bind|statement|fastpath function call|execute"
        "|execute fetch from)",
}

CSV_MSG_PATTERNS = [
    "^duration: %{NUMBER:temp.duration:float} ms$",
    "^duration: %{NUMBER:temp.duration:float} ms"
    "  %{POSTGRESQL_QUERY_STEP:postgresql.log.query_step}"
    " %{DATA:postgresql.log.query_name}: %{GREEDYDATA:message}$",
    "^duration: %{NUMBER:temp.duration:float} ms"
    "  %{POSTGRESQL_QUERY_STEP:postgresql.log.query_step}: "
    "%{GREEDYDATA:message}$",
    "^(%{POSTGRESQL_QUERY_STEP:postgresql.log.query_step}: )?"
    "%{GREEDYDATA:message}$",
]


def _csv_assign(df):
    """ES csv positional mapping: array slot i → CSV_FIELDS[i]; empty csv
    cells become missing fields (ES omits them from the doc), and a row
    with FEWER columns than targets leaves the tail unset (PG11 csv has no
    backend_type; ES csv simply stops) — hence try_element_at."""
    arr = get_path(df, "tempcsv.arr")
    return {
        path: F.nullif(F.try_element_at(arr, F.lit(i + 1)), F.lit(""))
        for i, path in enumerate(CSV_FIELDS)
    }


def _pg_date(df):
    """date with the module's two formats; 'zz' parses CEST/UTC-style
    abbreviations through java.time zone text."""
    raw = get_path(df, "postgresql.log.timestamp")
    return {"ts": F.coalesce(
        F.try_to_timestamp(raw, F.lit("yyyy-MM-dd HH:mm:ss.SSS zz")),
        F.try_to_timestamp(raw, F.lit("yyyy-MM-dd HH:mm:ss zz")))}


def _session_start(df):
    if not has_path(df.schema, "tempcsv.session_start_time"):
        return {}
    raw = get_path(df, "tempcsv.session_start_time")
    return {"postgresql.log.session_start_time": F.coalesce(
        F.try_to_timestamp(raw, F.lit("yyyy-MM-dd HH:mm:ss.SSS zz")),
        F.try_to_timestamp(raw, F.lit("yyyy-MM-dd HH:mm:ss zz")))}


def _duration(df):
    d = get_path(df, "temp.duration")
    return {"event.duration": F.round(d * F.lit(1000000.0), 0).cast("long")}


def _event_type(df):
    code = get_path(df, "postgresql.log.sql_state_code")
    return {"event.type": F.when(
        code.isNull() | code.rlike("^0[012].*"),
        F.array(F.lit("info"))).otherwise(F.array(F.lit("error")))}


def _related_user(df):
    u = get_path(df, "user.name")
    return {"related.user": F.when(u.isNotNull(), F.array(u))}


def pg_stages():
    from beats_spark.processors.base import IfThenElseStage

    head = build_chain([
        {"multiline": {"pattern": r"^\d{4}-\d{2}-\d{2} ", "negate": True,
                       "match": "after", "field": "message",
                       "partition_by": ["file"], "order_by": ["line_no"]}},
        {"grok": {"field": "message",
                  "pattern": "^%{DATETIME:postgresql.log.timestamp}"
                             "%{CHAR:separator}%{GREEDYDATA:raw_message}",
                  "pattern_definitions": OUTER_DEFS, "anchor": False,
                  "null_empty_captures": True}},
    ])
    # ES pipeline.if dispatch on the separator char; the WHOLE csv
    # sub-pipeline (decode + positional assignment + nested groks +
    # converts) lives in the else branch so it can never clobber the text
    # path's extractions with NULLs
    log_branch = build_chain([
        {"grok": {"field": "raw_message", "pattern": LOG_PATTERN,
                  "pattern_definitions": LOG_DEFS, "anchor": False,
                  "null_empty_captures": True}},
    ])
    csv_branch = (
        build_chain([
            {"decode_csv_fields": {"fields": {"raw_message": "tempcsv.arr"},
                                   "separator": ","}},
        ])
        + [FnStage(updates_fn=_csv_assign)]
        + build_chain([
            {"grok": {"field": "tempcsv.connection_from",
                      "pattern": "^%{DATA:postgresql.log.client_addr}"
                                 "(:%{NUMBER:postgresql.log.client_port:int})?$",
                      "anchor": False, "null_empty_captures": True,
                      "ignore_missing": True}},
            {"convert": {"fields": [
                {"from": "postgresql.log.session_line_number",
                 "type": "long"},
                {"from": "postgresql.log.transaction_id", "type": "long"},
            ], "ignore_missing": True}},
            {"grok": {"field": "tempcsv.message",
                      "patterns": CSV_MSG_PATTERNS,
                      "pattern_definitions": CSV_MSG_DEFS, "anchor": False,
                      "null_empty_captures": True, "ignore_missing": True}},
        ])
    )
    dispatch = [IfThenElseStage(
        cond_cfg={"not": {"equals": {"separator": ","}}},
        then_stages=log_branch,
        else_stages=csv_branch,
    )]
    tail = [FnStage(updates_fn=_session_start), FnStage(updates_fn=_pg_date),
            FnStage(updates_fn=_duration), FnStage(updates_fn=_event_type),
            FnStage(updates_fn=_related_user)] + build_chain([
        {"drop_fields": {"fields": ["separator", "raw_message", "tempcsv",
                                    "temp"],
                         "ignore_missing": True}},
        {"add_fields": {"target": "event", "fields": {"kind": "event"}}},
    ])
    return head + dispatch + tail


# csv: session_line_num slot feeds postgresql.log.session_line_number?
# No — the reference maps tempcsv.session_line_num and converts
# postgresql.log.session_line_num; keep the tempcsv name faithful and
# assert via the converted field only for the text path.

TEXT = [
    # [0] plain LOG, pid only
    "2020-04-15 12:02:55.244 CEST [23922] LOG:  database system was shut "
    "down at 2020-04-15 12:02:52 CEST",
    # [1] FATAL with pid
    "2020-04-15 12:04:45.416 CEST [24981] FATAL:  password authentication "
    "failed for user \"admin\"",
    # [2] DETAIL whose body continues on a tab-indented line (multiline)
    "2020-04-15 12:04:45.416 CEST [24981] DETAIL:  Role \"admin\" does not "
    "exist.",
    "\tConnection matched pg_hba.conf line 80: \"local all md5\"",
    # [3] duration + execute S_nn: query (min-duration corpus shape,
    # second-precision timestamp, no pid block)
    "2019-09-22 06:28:24 UTC LOG:  duration: 112.337 ms  execute S_59: "
    "UPDATE triggers SET state = $1 WHERE name = $2",
]

CSV = [
    # [4] shutdown: empty user/db/connection, quoted message
    '2021-01-04 00:04:50.554 UTC,,,27,,5ff25ba2.1b,1,,'
    '2021-01-04 00:04:50 UTC,,0,LOG,00000,'
    '"database system was shut down at 2021-01-03 20:01:08 UTC"'
    ',,,,,,,,,""',
    # [5] connection authorized: user/db/host:port
    '2021-01-04 00:05:06.086 UTC,"postgres","postgres",34,'
    '"172.24.0.1:42304",5ff25bb2.22,2,"authentication",'
    '2021-01-04 00:05:06 UTC,3/1,0,LOG,00000,'
    '"connection authorized: user=postgres database=postgres",,,,,,,,,""',
    # [6] duration + statement
    '2021-01-04 00:18:04.650 UTC,"postgres","postgres",54,'
    '"172.24.0.1:42608",5ff25ea4.36,9,"SELECT",2021-01-04 00:17:40 UTC,'
    '3/0,0,LOG,00000,"duration: 148.472 ms  statement: select '
    'generate_series(1, 1000000);",,,,,,,,,"psql"',
]


@pytest.fixture(scope="module")
def parsed(spark):
    lines = TEXT + CSV
    df = spark.createDataFrame(
        [("f1", i, line) for i, line in enumerate(lines)],
        "file string, line_no int, message string")
    out = apply_chain(df, pg_stages())
    rows = out.orderBy("line_no").collect()
    return out, rows


def _g(row, path):
    cur = row
    for part in path.split("."):
        if cur is None:
            return None
        cur = cur.asDict().get(part) if hasattr(cur, "asDict") else cur[part]
    return cur


def test_text_plain_log(parsed):
    _, rows = parsed
    r = rows[0]
    assert _g(r, "event.timezone") == "CEST"
    assert _g(r, "process.pid") == 23922
    assert _g(r, "log.level") == "LOG"
    assert r["message"] == ("database system was shut down at "
                            "2020-04-15 12:02:52 CEST")
    # CEST → UTC-2h
    assert r["ts"] == dt.datetime(2020, 4, 15, 10, 2, 55, 244000)
    assert _g(r, "event.type") == ["info"]
    assert _g(r, "event.kind") == "event"


def test_text_fatal(parsed):
    _, rows = parsed
    r = rows[1]
    assert _g(r, "log.level") == "FATAL"
    assert r["message"] == 'password authentication failed for user "admin"'
    assert _g(r, "event.type") == ["info"]  # no sql_state_code → info


def test_text_multiline_detail(parsed):
    _, rows = parsed
    r = rows[2]
    assert _g(r, "log.level") == "DETAIL"
    assert r["message"] == ('Role "admin" does not exist.\n'
                            '\tConnection matched pg_hba.conf line 80: '
                            '"local all md5"')


def test_text_duration_execute(parsed):
    _, rows = parsed
    r = rows[3]
    assert _g(r, "event.timezone") == "UTC"
    assert _g(r, "process.pid") is None  # no pid block in this dialect
    assert _g(r, "event.duration") == 112337000
    assert _g(r, "postgresql.log.query_step") == "execute"
    assert _g(r, "postgresql.log.query_name") == "S_59"
    assert _g(r, "postgresql.log.query") == \
        "UPDATE triggers SET state = $1 WHERE name = $2"
    assert r["ts"] == dt.datetime(2019, 9, 22, 6, 28, 24)


def test_csv_shutdown_empty_fields(parsed):
    _, rows = parsed
    r = rows[4]
    assert _g(r, "user.name") is None            # empty cell omitted
    assert _g(r, "postgresql.log.session_id") == "5ff25ba2.1b"
    assert _g(r, "log.level") == "LOG"
    assert _g(r, "postgresql.log.sql_state_code") == "00000"
    assert r["message"] == ("database system was shut down at "
                            "2021-01-03 20:01:08 UTC")
    assert r["ts"] == dt.datetime(2021, 1, 4, 0, 4, 50, 554000)
    assert _g(r, "event.type") == ["info"]


def test_csv_connection_authorized(parsed):
    _, rows = parsed
    r = rows[5]
    assert _g(r, "user.name") == "postgres"
    assert _g(r, "postgresql.log.database") == "postgres"
    assert _g(r, "postgresql.log.client_addr") == "172.24.0.1"
    assert _g(r, "postgresql.log.client_port") == 42304
    assert _g(r, "postgresql.log.command_tag") == "authentication"
    assert _g(r, "postgresql.log.virtual_transaction_id") == "3/1"
    assert _g(r, "postgresql.log.session_start_time") == \
        dt.datetime(2021, 1, 4, 0, 5, 6)
    assert _g(r, "related.user") == ["postgres"]


def test_csv_duration_statement(parsed):
    _, rows = parsed
    r = rows[6]
    assert _g(r, "event.duration") == 148472000
    assert _g(r, "postgresql.log.query_step") == "statement"
    assert r["message"] == "select generate_series(1, 1000000);"
    assert _g(r, "postgresql.log.application_name") == "psql"
    assert _g(r, "postgresql.log.transaction_id") == 0
    assert _g(r, "event.type") == ["info"]


def test_no_python_in_plan(parsed):
    out, _ = parsed
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan
