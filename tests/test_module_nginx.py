"""Golden end-to-end port of a REAL filebeat module pipeline: nginx access.

Reference: filebeat/module/nginx/access/ingest/pipeline.yml — the grok →
uri_parts → split → first-public-ip script → date → set/append chain that
every nginx-module user runs. The chain below re-expresses that pipeline
1:1 on this package's processor surface (same grok pattern structure, same
derived fields); the two painless scripts (first public remote IP,
null-scrub) become pure column algebra — zero Python in the plan. The
fixtures are paraphrased access-log lines covering the same shapes as the
module's own test corpus (single IP, proxy ip-list, all-private list,
quoted CDN list with host prefix, 404, missing UA, malformed line).

The user_agent stage (pipeline.yml:123-125) runs the uap-core-shaped
regex dictionary; the two geoip stages (pipeline.yml:126-137: source.geo
+ the GeoLite2-ASN source.as) run as enrich_cidr longest-prefix broadcast
joins against a synthetic CIDR dim — the MaxMind DB itself cannot ship,
the join shape is what the pipeline declares.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from beats_spark.event import get_path, has_path
from beats_spark.processors import apply_chain, build_chain
from fn_stage import FnStage

# Pattern definitions mirrored from the module pipeline (public filebeat
# config surface; HTTPDATE spelled concretely — the stock grok library's
# definition resolves to the same shape).
NGINX_DEFS = {
    "NGINX_HOST": (
        "(?:%{IP:destination.ip}|%{NGINX_NOTSEPARATOR:destination.domain})"
        "(:%{NUMBER:destination.port:long})?"
    ),
    "NGINX_NOTSEPARATOR": "[^\\t ,:]+",
    "NGINX_ADDRESS_LIST": '(?:%{IP}|%{WORD})("?,?\\s*(?:%{IP}|%{WORD}))*',
    "HTTPDATE": r"\d{2}/[A-Z][a-z]{2}/\d{4}:\d{2}:\d{2}:\d{2} [+-]\d{4}",
}

ACCESS_PATTERN = (
    '(%{NGINX_HOST} )?"?'
    "(?:%{NGINX_ADDRESS_LIST:nginx.access.remote_ip_list}"
    "|%{NOTSPACE:source.address})"
    " - (-|%{DATA:user.name}) "
    '\\[%{HTTPDATE:nginx.access.time}\\] "%{DATA:nginx.access.info}" '
    "%{NUMBER:http.response.status_code:long} "
    "%{NUMBER:http.response.body.bytes:long} "
    '"(-|%{DATA:http.request.referrer})" "(-|%{DATA:user_agent.original})"'
)


def _first_public_ip(df):
    """pipeline.yml's painless script (select the first non-private IP from
    remote_ip_list, else the first entry) as column algebra."""
    lst = get_path(df, "nginx.access.remote_ip_list")

    def is_public(ip):
        b = F.split(ip, r"\.")
        b1 = F.get(b, 0).try_cast("int")
        b2 = F.get(b, 1).try_cast("int")
        private = (
            (b1 == 10) | (b1 == 127) | ((b1 == 192) & (b2 == 168))
            | ((b1 == 172) & (b2 >= 16) & (b2 <= 31))
        )
        # non-numeric tokens (WORD hostnames): isPrivate catches → false
        return F.coalesce(~private, F.lit(True))

    pick = F.coalesce(F.get(F.filter(lst, is_public), 0), F.get(lst, 0))
    return {
        "source.address": F.when(
            lst.isNotNull() & (F.size(lst) > 0), pick
        ).otherwise(get_path(df, "source.address"))
    }


def _related_fields(df):
    """pipeline.yml's conditional `append related.ip / related.user`."""
    ips = F.array_compact(F.array(
        get_path(df, "source.ip"), get_path(df, "destination.ip")))
    user = get_path(df, "user.name")
    return {
        "related.ip": F.when(F.size(ips) > 0, ips),
        "related.user": F.when(user.isNotNull(), F.array(user)),
    }


def nginx_access_stages():
    head = build_chain([
        {"rename": {"fields": [{"from": "ts", "to": "event.created"}]}},
        {"rename": {"fields": [{"from": "message", "to": "event.original"}]}},
        {"grok": {
            "field": "event.original",
            "pattern": ACCESS_PATTERN,
            "pattern_definitions": NGINX_DEFS,
            "null_empty_captures": True,
        }},
        {"grok": {
            "field": "nginx.access.info",
            "pattern": "%{WORD:http.request.method} %{NOTSPACE:_tmp.url_orig}"
                       " HTTP/%{NUMBER:http.version}",
            "null_empty_captures": True,
            "when": {"has_fields": ["nginx.access.info"]},
        }},
        {"uri_parts": {"field": "_tmp.url_orig", "keep_original": True}},
        {"copy_fields": {
            "fields": [{"from": "destination.domain", "to": "url.domain"}],
            "fail_on_error": False,
            "when": {"and": [{"not": {"has_fields": ["url.domain"]}},
                             {"has_fields": ["destination.domain"]}]},
        }},
        {"drop_fields": {"fields": ["nginx.access.info", "_tmp"],
                         "ignore_missing": True}},
        {"split": {"field": "nginx.access.remote_ip_list",
                   "separator": '"?,?\\s+', "ignore_missing": True}},
    ])
    script = [FnStage(updates_fn=_first_public_ip)]
    tail = build_chain([
        {"grok": {
            "field": "source.address",
            "pattern": "%{IP:source.ip}",
            "when": {"has_fields": ["source.address"]},
        }},
        {"timestamp": {"field": "nginx.access.time",
                       "layouts": ["dd/MMM/yyyy:H:m:s Z"],
                       "target_field": "ts", "ignore_failure": True}},
        {"drop_fields": {"fields": ["nginx.access.time"]}},
        {"add_fields": {"target": "event",
                        "fields": {"kind": "event", "category": ["web"],
                                   "type": ["access"]}}},
        {"add_fields": {"target": "event", "fields": {"outcome": "success"},
                        "when": {"range": {"http.response.status_code":
                                           {"lt": 400}}}}},
        {"add_fields": {"target": "event", "fields": {"outcome": "failure"},
                        "when": {"range": {"http.response.status_code":
                                           {"gte": 400}}}}},
    ])
    related = [FnStage(updates_fn=_related_fields)]
    # pipeline.yml:123-141 — user_agent, geoip(source.geo),
    # geoip GeoLite2-ASN(source.as) + the two as-field renames
    enrich = build_chain([
        {"user_agent": {"field": "user_agent.original",
                        "ignore_missing": True}},
        {"enrich_cidr": {"lookup": "nginx_geo", "on": "source.ip",
                         "target": "source.geo",
                         "fields": ["country_iso_code", "city_name"]}},
        {"enrich_cidr": {"lookup": "nginx_geo", "on": "source.ip",
                         "target": "source.as",
                         "fields": ["asn", "organization_name"]}},
        {"rename": {"fields": [{"from": "source.as.asn",
                                "to": "source.as.number"}],
                    "ignore_missing": True}},
        {"rename": {"fields": [{"from": "source.as.organization_name",
                                "to": "source.as.organization.name"}],
                    "ignore_missing": True}},
    ])
    return head + script + tail + related + enrich


# paraphrased fixture corpus — same shapes as the module's test logs,
# original content
LINES = [
    # 0: single IP, user present, html page, Firefox on Mac
    '198.51.100.7 - alice [11/Mar/2025:14:22:05 +0100] '
    '"GET /docs/intro.html HTTP/1.1" 200 1043 "-" '
    '"Mozilla/5.0 (Macintosh; Intel Mac OS X 10.12; rv:49.0) '
    'Gecko/20100101 Firefox/49.0"',
    # 1: proxy chain, private first, public in middle, referrer present,
    # Chrome on Windows 10
    '10.0.0.9, 203.0.113.50, 192.168.1.4 - - [11/Mar/2025:14:25:33 +0000] '
    '"GET /img/logo.png HTTP/1.1" 200 2326 "https://example.net/start" '
    '"Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 '
    '(KHTML, like Gecko) Chrome/70.0.3538.102 Safari/537.36"',
    # 2: all-private chain → falls back to first entry
    '10.1.2.3, 192.168.0.4 - - [11/Mar/2025:15:00:00 +0000] '
    '"GET / HTTP/1.1" 304 0 "-" "curl/8.1.2"',
    # 3: 404, POST with query string, no UA
    '192.0.2.88 - bob [12/Mar/2025:09:01:02 -0500] '
    '"POST /login?user=bob HTTP/1.0" 404 512 "-" "-"',
    # 4: host-prefixed (domain:port) + quoted CDN list + trailing real IP
    'cdn.example.test:8443 "10.5.7.9, 203.0.113.77" 198.51.100.20 - - '
    '[13/Mar/2025:08:30:11 +0000] "GET /api/v1/items HTTP/1.1" 200 3210 '
    '"-" "curl/8.1"',
    # 5: destination as IP:port, crawler UA
    '203.0.113.2:443 198.51.100.77 - - [14/Mar/2025:10:10:10 +0000] '
    '"GET /healthz HTTP/1.1" 200 15 "-" '
    '"Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)"',
    # 6: malformed
    "not an access log line at all",
]

# synthetic geoip dim: TEST-NET ranges with a nested /26 inside the
# 203.0.113.0/24 so the module run itself proves longest-prefix-wins
GEO_DIM_ROWS = [
    ("198.51.100.0/24", "AA", "Northtown", 64501, "ExampleNet"),
    ("203.0.113.0/24", "BB", "Southville", 64502, "DocRange"),
    ("203.0.113.64/26", "BB", "Southville Annex", 64503, "AnnexNet"),
    ("192.0.2.0/24", "CC", "Westfield", 64504, "TestNet"),
]
GEO_DIM_SCHEMA = ("cidr string, country_iso_code string, city_name string, "
                  "asn long, organization_name string")


@pytest.fixture(scope="module")
def parsed(spark):
    from beats_spark.processors.enrich import register_lookup

    register_lookup(
        "nginx_geo",
        lambda: spark.createDataFrame(GEO_DIM_ROWS, GEO_DIM_SCHEMA))
    base = dt.datetime(2025, 6, 1, 0, 0, 0)
    df = spark.createDataFrame(
        [(line, base) for line in LINES], "message string, ts timestamp")
    out = apply_chain(df, nginx_access_stages())
    rows = out.collect()
    return {r["event"]["original"]: r for r in rows}, out


def _g(row, path):
    cur = row
    for part in path.split("."):
        if cur is None:
            return None
        cur = cur[part]
    return cur


def test_single_ip_line(parsed):
    rows, _ = parsed
    r = rows[LINES[0]]
    assert _g(r, "nginx.access.remote_ip_list") == ["198.51.100.7"]
    assert _g(r, "source.address") == "198.51.100.7"
    assert _g(r, "source.ip") == "198.51.100.7"
    assert _g(r, "user.name") == "alice"
    assert _g(r, "http.request.method") == "GET"
    assert _g(r, "http.version") == "1.1"
    assert _g(r, "http.response.status_code") == 200
    assert _g(r, "http.response.body.bytes") == 1043
    assert _g(r, "http.request.referrer") is None
    assert _g(r, "user_agent.original") == (
        "Mozilla/5.0 (Macintosh; Intel Mac OS X 10.12; rv:49.0) "
        "Gecko/20100101 Firefox/49.0")
    # pipeline.yml:123-125 user_agent stage
    assert _g(r, "user_agent.name") == "Firefox"
    assert _g(r, "user_agent.version") == "49.0"
    assert _g(r, "user_agent.os.name") == "Mac OS X"
    assert _g(r, "user_agent.os.version") == "10.12"
    assert _g(r, "user_agent.os.full") == "Mac OS X 10.12"
    assert _g(r, "user_agent.device.name") == "Mac"
    # pipeline.yml:126-141 geoip + ASN stages (synthetic dim)
    assert _g(r, "source.geo.country_iso_code") == "AA"
    assert _g(r, "source.geo.city_name") == "Northtown"
    assert _g(r, "source.as.number") == 64501
    assert _g(r, "source.as.organization.name") == "ExampleNet"
    assert _g(r, "url.path") == "/docs/intro.html"
    assert _g(r, "url.extension") == "html"
    assert _g(r, "url.original") == "/docs/intro.html"
    # +0100 → UTC
    assert r["ts"] == dt.datetime(2025, 3, 11, 13, 22, 5)
    assert _g(r, "event.kind") == "event"
    assert _g(r, "event.category") == ["web"]
    assert _g(r, "event.type") == ["access"]
    assert _g(r, "event.outcome") == "success"
    assert _g(r, "event.created") == dt.datetime(2025, 6, 1, 0, 0, 0)
    assert _g(r, "related.ip") == ["198.51.100.7"]
    assert _g(r, "related.user") == ["alice"]


def test_proxy_chain_first_public_ip(parsed):
    rows, _ = parsed
    r = rows[LINES[1]]
    assert _g(r, "nginx.access.remote_ip_list") == [
        "10.0.0.9", "203.0.113.50", "192.168.1.4"]
    assert _g(r, "source.address") == "203.0.113.50"
    assert _g(r, "source.ip") == "203.0.113.50"
    assert _g(r, "user.name") is None
    assert _g(r, "http.request.referrer") == "https://example.net/start"
    assert _g(r, "url.path") == "/img/logo.png"
    assert _g(r, "url.extension") == "png"
    assert r["ts"] == dt.datetime(2025, 3, 11, 14, 25, 33)
    assert _g(r, "user_agent.name") == "Chrome"
    assert _g(r, "user_agent.version") == "70.0.3538.102"
    assert _g(r, "user_agent.os.full") == "Windows 10"
    assert _g(r, "user_agent.device.name") == "Other"
    # .50 is below the /26 split → the /24 row matches
    assert _g(r, "source.geo.city_name") == "Southville"
    assert _g(r, "source.as.number") == 64502


def test_all_private_chain_falls_back_to_first(parsed):
    rows, _ = parsed
    r = rows[LINES[2]]
    assert _g(r, "source.address") == "10.1.2.3"
    assert _g(r, "source.ip") == "10.1.2.3"
    assert _g(r, "url.path") == "/"
    assert _g(r, "url.extension") is None
    assert _g(r, "event.outcome") == "success"  # 304 < 400
    assert _g(r, "user_agent.name") == "curl"
    assert _g(r, "user_agent.version") == "8.1.2"
    # private source ip: no dim range covers it → geo stays null
    assert _g(r, "source.geo") is None


def test_404_post_query_no_ua(parsed):
    rows, _ = parsed
    r = rows[LINES[3]]
    assert _g(r, "http.request.method") == "POST"
    assert _g(r, "http.version") == "1.0"
    assert _g(r, "url.path") == "/login"
    assert _g(r, "url.query") == "user=bob"
    assert _g(r, "user_agent.original") is None
    assert _g(r, "user_agent.name") is None  # no UA string → no parse
    assert _g(r, "source.geo.country_iso_code") == "CC"
    assert _g(r, "event.outcome") == "failure"
    assert _g(r, "related.user") == ["bob"]
    # -0500 → UTC
    assert r["ts"] == dt.datetime(2025, 3, 12, 14, 1, 2)


def test_host_prefix_and_quoted_cdn_list(parsed):
    rows, _ = parsed
    r = rows[LINES[4]]
    assert _g(r, "destination.domain") == "cdn.example.test"
    assert _g(r, "destination.port") == 8443
    assert _g(r, "nginx.access.remote_ip_list") == [
        "10.5.7.9", "203.0.113.77", "198.51.100.20"]
    assert _g(r, "source.address") == "203.0.113.77"
    # set url.domain from destination.domain when url.domain is null
    assert _g(r, "url.domain") == "cdn.example.test"
    assert _g(r, "url.path") == "/api/v1/items"
    assert _g(r, "user_agent.name") == "curl"
    assert _g(r, "user_agent.version") == "8.1"
    # .77 falls inside the nested /26 → longest prefix wins over the /24
    assert _g(r, "source.geo.city_name") == "Southville Annex"
    assert _g(r, "source.as.number") == 64503
    assert _g(r, "source.as.organization.name") == "AnnexNet"


def test_destination_ip_variant(parsed):
    rows, _ = parsed
    r = rows[LINES[5]]
    assert _g(r, "destination.ip") == "203.0.113.2"
    assert _g(r, "destination.port") == 443
    assert _g(r, "source.ip") == "198.51.100.77"
    assert sorted(_g(r, "related.ip")) == ["198.51.100.77", "203.0.113.2"]
    assert _g(r, "user_agent.name") == "Googlebot"
    assert _g(r, "user_agent.device.name") == "Spider"
    assert _g(r, "source.geo.city_name") == "Northtown"


def test_malformed_line_tagged_not_dropped(parsed):
    rows, _ = parsed
    r = rows[LINES[6]]
    assert _g(r, "source.address") is None  # grok never matched
    assert _g(r, "source.ip") is None
    assert _g(r, "user_agent") is None
    assert _g(r, "source.geo") is None
    assert r["ts"] is None
    flags = r["log"]["flags"] if "log" in r.asDict() else []
    assert "grok_parsing_error" in (flags or [])


def test_no_python_in_plan(parsed):
    """The whole ported module chain must stay JVM-side: the reference's
    painless scripts become column algebra, not mapInPandas."""
    _, out = parsed
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan
    # the geoip-shaped enrich must never shuffle the event stream; with a
    # small dim it folds into the projection as constant map literals (no
    # join node at all), a large dim would show BroadcastHashJoin
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
