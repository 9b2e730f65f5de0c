"""The module-shaped processor chain and routes shared by the two pipeline
workloads, and the DuckDB reference that predicts their routing."""

from __future__ import annotations

from typing import Any

GEO_LOOKUP = "perfbench_geo"
TOOLS_LOOKUP = "perfbench_tools"

LOGFMT = ('level=%{level} caller=%{caller} msg="%{msg}" '
          "latency_ms=%{latency|integer}")
# the |ip key keeps this dissect on the Arrow/pandas UDF path
KVLINE = "src=%{ip|ip} user=%{user} action=%{action} status=%{status}"
ACCESS = ('%{IP:client_ip} - %{NOTSPACE:user} \\[%{DATA:time}\\] '
          '"%{WORD:method} %{NOTSPACE:path} HTTP/%{NUMBER:version}" '
          '%{INT:status:int} %{INT:bytes:int} "%{DATA:referrer}" "%{DATA:ua}"')

SINKS = {"search": "sink_search", "code": "sink_code",
         "browser": "sink_browser", "none": "sink_other"}
HTTP_ERRORS = "http_errors"
DEAD_LETTER = "dead_letter"


def processors() -> list[dict[str, Any]]:
    return [
        {"dissect": {"tokenizer": LOGFMT, "field": "text",
                     "target_prefix": "parsed", "ignore_failure": True,
                     "when": {"contains": {"text": "level="}}}},
        {"dissect": {"tokenizer": KVLINE, "field": "text",
                     "target_prefix": "source", "ignore_failure": True,
                     "when": {"contains": {"text": "src="}}}},
        {"grok": {"field": "text", "pattern": ACCESS, "target_prefix": "http",
                  "when": {"contains": {"text": "HTTP/"}}}},
        {"user_agent": {"field": "http.ua", "ignore_missing": True}},
        # no `when`: a conditional custom stage splits and unions the frame,
        # which would scan the source twice; non-strict so the other
        # formats' free text raises no flag
        {"kv": {"field": "text", "target": "kv", "strict": False,
                "include_keys": ["src", "user", "action", "status"]}},
        {"drop_event": {"when": {"equals": {"role": "system"}}}},
        {"fingerprint": {"fields": ["conv_id", "turn_idx", "text"],
                         "method": "sha256", "target_field": "fingerprint"}},
        {"enrich": {"lookup": TOOLS_LOOKUP, "on": "tool", "target": "tool_meta",
                    "default": {"tool_family": "unknown"}}},
        {"enrich_cidr": {"lookup": GEO_LOOKUP, "on": "source.ip",
                         "target": "source.geo"}},
        {"if": {"range": {"parsed.latency": {"gte": 400}}},
         "then": [{"add_tags": {"tags": ["slow"]}}]},
    ]


def routes() -> list[dict[str, Any]]:
    return [
        {"sink": HTTP_ERRORS, "when": {"range": {"http.status": {"gte": 500}}}},
        {"sink": "%{[tool]}", "mappings": SINKS,
         "when": {"not": {"has_fields": ["log.flags"]}}},
    ]


def config() -> dict[str, Any]:
    return {"processors": processors(), "output": {"routes": routes(),
                                                   "dead_letter": DEAD_LETTER}}


# The routing each row should get, written from the line formats the
# generator emits rather than from the chain: a row fails to parse when it
# carries a format's marker but not the whole format.
_FAILED = r"""(
  (contains(text, 'level=') AND NOT regexp_full_match(text,
     'level=\S+ caller=\S+ msg="[^"]*" latency_ms=\d+'))
  OR (contains(text, 'src=') AND NOT regexp_full_match(text,
     'src=[0-9.]+ user=\S+ action=\S+ status=\S+'))
  OR (contains(text, 'HTTP/') AND NOT regexp_full_match(text,
     '[0-9.]+ - \S+ \[[^\]]*\] "\w+ \S+ HTTP/[0-9.]+" \d+ \d+ "[^"]*" "[^"]*"'))
)"""
_STATUS = (r"TRY_CAST(regexp_extract(text, '^[0-9.]+ - \S+ \[[^\]]*\] "
           r"""\"\w+ \S+ HTTP/[0-9.]+\" (\d+) \d+ \"[^\"]*\" \"[^\"]*\"$', 1)"""
           " AS INTEGER)")


def reference_sql(source: str) -> str:
    """DuckDB query over ``source`` (a parquet glob) returning one row per
    sink with its expected count, plus the ``__dropped__`` pseudo-sink."""
    cases = " ".join(f"WHEN tool = '{t}' THEN '{s}'" for t, s in SINKS.items())
    return f"""
    SELECT sink, count(*) AS n FROM (
      SELECT CASE
        WHEN role = 'system' THEN '__dropped__'
        WHEN coalesce({_STATUS} >= 500, false) THEN '{HTTP_ERRORS}'
        WHEN NOT {_FAILED} THEN CASE {cases} ELSE '{DEAD_LETTER}' END
        ELSE '{DEAD_LETTER}' END AS sink
      FROM read_parquet('{source}')
    ) GROUP BY sink"""
