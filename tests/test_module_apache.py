"""Golden end-to-end port of a second REAL filebeat module pipeline:
apache access.

Reference: filebeat/module/apache/access/ingest/pipeline.yml — a different
processor mix from the nginx port: a FOUR-pattern grok (vhost+combined,
combined, "-" request, SSL request-log dialect; first match wins,
unanchored like ES ingest grok), uri_parts, the user_agent stage, two
geoip-shaped enrich_cidr joins, and the two painless scripts (tls.version
split, null-scrub) as pure column algebra — zero Python in the plan.
Fixtures are paraphrased lines covering the same shapes as the module's own
test corpus (test.log / test-vhost.log / ssl-request.log: combined with
referrer+UA, bare common, "-" request, trailing extra "-", hostname source,
vhost, SSL dialect, IPv6 source, malformed).
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from beats_spark.event import get_path
from beats_spark.processors import apply_chain, build_chain
from fn_stage import FnStage

# stock-grok shapes the pipeline relies on (IP covers v6+v4 in the public
# grok library; the builtin here is v4-only, so the module config supplies
# the full shape — exactly what pattern_definitions is for)
APACHE_DEFS = {
    "IP": r"(?:%{IPV6}|(?:\d{1,3}\.){3}\d{1,3})",
    "IPORHOST": "(?:%{IP}|%{HOSTNAME})",
    "HTTPDATE": r"\d{2}/[A-Z][a-z]{2}/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4}",
}

# pipeline.yml:9-27 — the four patterns, ported 1:1
APACHE_PATTERNS = [
    '%{IPORHOST:destination.domain} %{IPORHOST:source.ip} - '
    '%{DATA:user.name} \\[%{HTTPDATE:apache.access.time}\\] '
    '"(?:%{WORD:http.request.method} %{DATA:_tmp.url_orig} '
    'HTTP/%{NUMBER:http.version}|-)?" '
    '%{NUMBER:http.response.status_code:long} '
    '(?:%{NUMBER:http.response.body.bytes:long}|-)'
    '( "%{DATA:http.request.referrer}")?( "%{DATA:user_agent.original}")?',
    '%{IPORHOST:source.address} - %{DATA:user.name} '
    '\\[%{HTTPDATE:apache.access.time}\\] '
    '"(?:%{WORD:http.request.method} %{DATA:_tmp.url_orig} '
    'HTTP/%{NUMBER:http.version}|-)?" '
    '%{NUMBER:http.response.status_code:long} '
    '(?:%{NUMBER:http.response.body.bytes:long}|-)'
    '( "%{DATA:http.request.referrer}")?( "%{DATA:user_agent.original}")?',
    '%{IPORHOST:source.address} - %{DATA:user.name} '
    '\\[%{HTTPDATE:apache.access.time}\\] "-" '
    '%{NUMBER:http.response.status_code:long} -',
    '\\[%{HTTPDATE:apache.access.time}\\] %{IPORHOST:source.address} '
    '%{DATA:apache.access.ssl.protocol} %{DATA:apache.access.ssl.cipher} '
    '"%{WORD:http.request.method} %{DATA:_tmp.url_orig} '
    'HTTP/%{NUMBER:http.version}" '
    '(-|%{NUMBER:http.response.body.bytes:long})',
]


def _tls_version(df):
    """pipeline.yml's tls painless script as column algebra: lowercase the
    ssl protocol, split on 'v'; version gets '.0' appended when it has no
    dot (TLSv1.2 → 1.2 / tls, SSLv3 → 3.0 / ssl)."""
    proto = get_path(df, "apache.access.ssl.protocol")
    p = F.split(F.lower(proto), "v")
    ok = proto.isNotNull() & (F.size(p) == 2)
    p1 = F.get(p, 1)
    ver = F.when(p1.contains("."), p1).otherwise(F.concat(p1, F.lit(".0")))
    return {
        "tls.version": F.when(ok, ver).otherwise(get_path(df, "tls.version")),
        "tls.version_protocol": F.when(ok, F.get(p, 0)).otherwise(
            get_path(df, "tls.version_protocol")),
    }


def apache_access_stages():
    head = build_chain([
        # set event.ingested = {{_ingest.timestamp}} is ingest-node metadata
        # (wall clock at ingest) — out of scope like in the nginx port
        {"rename": {"fields": [{"from": "message",
                                "to": "event.original"}]}},
        {"grok": {
            "field": "event.original",
            "patterns": APACHE_PATTERNS,
            "pattern_definitions": APACHE_DEFS,
            "anchor": False,  # ES ingest grok substring-matches: the module
            # corpus has combined lines with a trailing extra '"-"' that the
            # pattern deliberately leaves unconsumed
            "null_empty_captures": True,
        }},
        {"uri_parts": {"field": "_tmp.url_orig", "keep_original": True}},
        {"copy_fields": {
            "fields": [{"from": "destination.domain", "to": "url.domain"}],
            "fail_on_error": False,
            "when": {"and": [{"not": {"has_fields": ["url.domain"]}},
                             {"has_fields": ["destination.domain"]}]},
        }},
        {"drop_fields": {"fields": ["_tmp"], "ignore_missing": True}},
        {"add_fields": {"target": "event",
                        "fields": {"kind": "event", "category": "web"}}},
        {"add_fields": {"target": "event", "fields": {"outcome": "success"},
                        "when": {"range": {"http.response.status_code":
                                           {"lt": 400}}}}},
        {"add_fields": {"target": "event", "fields": {"outcome": "failure"},
                        "when": {"range": {"http.response.status_code":
                                           {"gte": 400}}}}},
        {"grok": {
            "field": "source.address",
            "pattern": "(%{IP:source.ip}|%{HOSTNAME:source.domain})",
            "pattern_definitions": APACHE_DEFS,
            "null_empty_captures": True,
            "when": {"has_fields": ["source.address"]},
        }},
        {"rename": {"fields": [{"from": "ts", "to": "event.created"}]}},
        {"timestamp": {"field": "apache.access.time",
                       "layouts": ["dd/MMM/yyyy:H:m:s Z"],
                       "target_field": "ts", "ignore_failure": True}},
        {"drop_fields": {"fields": ["apache.access.time"],
                         "ignore_missing": True}},
        {"user_agent": {"field": "user_agent.original",
                        "ignore_missing": True}},
        {"enrich_cidr": {"lookup": "apache_geo", "on": "source.ip",
                         "target": "source.geo",
                         "fields": ["country_iso_code", "city_name"]}},
        {"enrich_cidr": {"lookup": "apache_geo", "on": "source.ip",
                         "target": "source.as",
                         "fields": ["asn", "organization_name"]}},
        {"rename": {"fields": [{"from": "source.as.asn",
                                "to": "source.as.number"}],
                    "ignore_missing": True}},
        {"rename": {"fields": [{"from": "source.as.organization_name",
                                "to": "source.as.organization.name"}],
                    "ignore_missing": True}},
        {"copy_fields": {
            "fields": [{"from": "apache.access.ssl.cipher",
                        "to": "tls.cipher"}],
            "fail_on_error": False,
            "when": {"has_fields": ["apache.access.ssl.cipher"]},
        }},
    ])
    return head + [FnStage(updates_fn=_tls_version)]


# paraphrased fixtures — same shapes as the module corpus, original content
LINES = [
    # 0: combined with referrer + UA (pattern 2)
    '198.51.100.30 - - [26/Dec/2025:16:22:13 +0000] "GET /hello HTTP/1.1" '
    '404 499 "-" "Mozilla/5.0 (Macintosh; Intel Mac OS X 10.12; rv:50.0) '
    'Gecko/20100101 Firefox/50.0"',
    # 1: bare common, named user, no referrer/UA
    '203.0.113.66 - alice [26/Dec/2025:16:16:29 +0200] '
    '"GET /favicon.ico HTTP/1.1" 404 209',
    # 2: "-" request, no bytes
    '198.51.100.7 - - [26/Dec/2025:16:16:48 +0200] "-" 408 -',
    # 3: trailing extra '"-"' the pattern leaves unconsumed (unanchored)
    '172.17.0.1 - - [29/May/2025:19:02:48 +0000] "GET /stringpatch '
    'HTTP/1.1" 404 612 "-" "Mozilla/5.0 (Windows NT 6.1; rv:15.0) '
    'Gecko/20120716 Firefox/15.0a2" "-"',
    # 4: hostname source → source.domain, curl UA
    'monitor-host - - [29/May/2025:19:02:48 +0000] "GET /status HTTP/1.1" '
    '200 612 "-" "curl/8.1.2" "-"',
    # 5: vhost + source ip (pattern 1)
    'cdn.example.test 198.51.100.20 - bob [13/Mar/2025:08:30:11 +0000] '
    '"GET /api/v1/items HTTP/1.1" 200 3210 "https://example.net/start" '
    '"curl/8.1"',
    # 6: SSL request-log dialect (pattern 4)
    '[10/Aug/2025:09:45:56 +0200] 203.0.113.77 TLSv1.2 '
    'ECDHE-RSA-AES128-GCM-SHA256 "GET /app/helper.php?cmd=get HTTP/1.1" '
    '1375',
    # 7: IPv6 source
    '::1 - - [26/Dec/2025:16:16:29 +0200] "GET /x HTTP/1.1" 404 209',
    # 8: malformed
    "definitely not an apache access line",
]

GEO_DIM_ROWS = [
    ("198.51.100.0/24", "AA", "Northtown", 64501, "ExampleNet"),
    ("203.0.113.0/24", "BB", "Southville", 64502, "DocRange"),
    ("203.0.113.64/26", "BB", "Southville Annex", 64503, "AnnexNet"),
]
GEO_DIM_SCHEMA = ("cidr string, country_iso_code string, city_name string, "
                  "asn long, organization_name string")


@pytest.fixture(scope="module")
def parsed(spark):
    from beats_spark.processors.enrich import register_lookup

    register_lookup(
        "apache_geo",
        lambda: spark.createDataFrame(GEO_DIM_ROWS, GEO_DIM_SCHEMA))
    base = dt.datetime(2025, 6, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [(line, base) for line in LINES], "message string, ts timestamp")
    out = apply_chain(df, apache_access_stages())
    rows = out.collect()
    return out, {r["event"]["original"]: r for r in rows
                 if r["event"] is not None and r["event"]["original"]}


def _g(row, path):
    cur = row
    for part in path.split("."):
        if cur is None:
            return None
        cur = cur[part]
    return cur


def test_combined_with_ua(parsed):
    _, rows = parsed
    r = rows[LINES[0]]
    assert _g(r, "source.address") == "198.51.100.30"
    assert _g(r, "source.ip") == "198.51.100.30"
    assert _g(r, "user.name") == "-"
    assert _g(r, "http.request.method") == "GET"
    assert _g(r, "http.version") == "1.1"
    assert _g(r, "http.response.status_code") == 404
    assert _g(r, "http.response.body.bytes") == 499
    assert _g(r, "http.request.referrer") == "-"
    assert _g(r, "url.path") == "/hello"
    assert _g(r, "url.original") == "/hello"
    assert _g(r, "event.outcome") == "failure"
    assert _g(r, "user_agent.name") == "Firefox"
    assert _g(r, "user_agent.version") == "50.0"
    assert _g(r, "user_agent.os.full") == "Mac OS X 10.12"
    assert _g(r, "user_agent.device.name") == "Mac"
    assert _g(r, "source.geo.city_name") == "Northtown"
    assert _g(r, "source.as.number") == 64501
    assert _g(r, "source.as.organization.name") == "ExampleNet"
    assert r["ts"] == dt.datetime(2025, 12, 26, 16, 22, 13)
    assert _g(r, "tls") is None


def test_bare_common_named_user(parsed):
    _, rows = parsed
    r = rows[LINES[1]]
    assert _g(r, "user.name") == "alice"
    assert _g(r, "http.request.referrer") is None
    assert _g(r, "user_agent") is None
    assert _g(r, "url.extension") == "ico"
    # .66 sits inside the nested /26 → longest prefix wins over the /24
    assert _g(r, "source.geo.city_name") == "Southville Annex"
    assert _g(r, "source.as.number") == 64503
    # +0200 → UTC
    assert r["ts"] == dt.datetime(2025, 12, 26, 14, 16, 29)


def test_dash_request(parsed):
    _, rows = parsed
    r = rows[LINES[2]]
    assert _g(r, "http.request.method") is None
    assert _g(r, "url") is None
    assert _g(r, "http.response.status_code") == 408
    assert _g(r, "http.response.body.bytes") is None
    assert _g(r, "event.outcome") == "failure"
    assert _g(r, "source.geo.city_name") == "Northtown"


def test_trailing_extra_dash_unconsumed(parsed):
    _, rows = parsed
    r = rows[LINES[3]]
    assert _g(r, "user_agent.name") == "Firefox Alpha"
    assert _g(r, "user_agent.version") == "15.0.a2"
    assert _g(r, "user_agent.os.full") == "Windows 7"
    assert _g(r, "source.ip") == "172.17.0.1"
    assert _g(r, "source.geo") is None  # private, uncovered by the dim


def test_hostname_source_becomes_domain(parsed):
    _, rows = parsed
    r = rows[LINES[4]]
    assert _g(r, "source.address") == "monitor-host"
    assert _g(r, "source.domain") == "monitor-host"
    assert _g(r, "source.ip") is None
    assert _g(r, "source.geo") is None
    assert _g(r, "event.outcome") == "success"
    assert _g(r, "user_agent.name") == "curl"
    assert _g(r, "user_agent.version") == "8.1.2"


def test_vhost_pattern(parsed):
    _, rows = parsed
    r = rows[LINES[5]]
    assert _g(r, "destination.domain") == "cdn.example.test"
    assert _g(r, "source.ip") == "198.51.100.20"
    assert _g(r, "user.name") == "bob"
    assert _g(r, "url.domain") == "cdn.example.test"
    assert _g(r, "url.path") == "/api/v1/items"
    assert _g(r, "http.request.referrer") == "https://example.net/start"
    assert _g(r, "source.geo.country_iso_code") == "AA"


def test_ssl_request_dialect(parsed):
    _, rows = parsed
    r = rows[LINES[6]]
    assert _g(r, "apache.access.ssl.protocol") == "TLSv1.2"
    assert _g(r, "tls.cipher") == "ECDHE-RSA-AES128-GCM-SHA256"
    assert _g(r, "tls.version") == "1.2"
    assert _g(r, "tls.version_protocol") == "tls"
    assert _g(r, "source.ip") == "203.0.113.77"
    assert _g(r, "source.geo.city_name") == "Southville Annex"
    assert _g(r, "http.request.method") == "GET"
    assert _g(r, "http.version") == "1.1"
    assert _g(r, "http.response.body.bytes") == 1375
    assert _g(r, "http.response.status_code") is None
    assert _g(r, "event.outcome") is None
    assert _g(r, "url.path") == "/app/helper.php"
    assert _g(r, "url.query") == "cmd=get"
    assert _g(r, "url.extension") == "php"
    assert r["ts"] == dt.datetime(2025, 8, 10, 7, 45, 56)


def test_ipv6_source(parsed):
    _, rows = parsed
    r = rows[LINES[7]]
    assert _g(r, "source.address") == "::1"
    assert _g(r, "source.ip") == "::1"
    assert _g(r, "source.domain") is None
    assert _g(r, "source.geo") is None  # v4-only dim


def test_malformed_line_tagged_not_dropped(parsed):
    _, rows = parsed
    r = rows[LINES[8]]
    assert _g(r, "source") is None
    assert r["ts"] is None
    flags = r["log"]["flags"] if "log" in r.asDict() else []
    assert "grok_parsing_error" in (flags or [])


def test_no_python_in_plan_and_broadcast_joins(parsed):
    out, _ = parsed
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan
    # small geoip dims now fold into the projection as constant map
    # literals (no join node); the event stream must still never shuffle
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
