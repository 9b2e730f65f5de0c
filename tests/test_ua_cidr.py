"""user_agent (uap-core-shaped regex dictionary) and enrich_cidr
(longest-prefix CIDR broadcast join — the geoip join shape).

Reference consumers: filebeat/module/nginx/access/ingest/pipeline.yml:123-141
(user_agent + the two geoip stages). The nginx golden test drives both
inside the full module chain; this file pins the per-stage config surface
and edge shapes.
"""

import pytest
from pyspark.sql import functions as F

from beats_spark.event import get_path
from beats_spark.processors import apply_chain, build_chain
from beats_spark.processors.enrich import register_lookup

# (ua, name, version, os_name, os_version, os_full, device)
UA_CORPUS = [
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10.12; rv:49.0) "
     "Gecko/20100101 Firefox/49.0",
     "Firefox", "49.0", "Mac OS X", "10.12", "Mac OS X 10.12", "Mac"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/70.0.3538.102 Safari/537.36",
     "Chrome", "70.0.3538.102", "Windows", "10", "Windows 10", "Other"),
    ("Mozilla/5.0 (Windows NT 6.1; WOW64; Trident/7.0; rv:11.0) like Gecko",
     "IE", "11.0", "Windows", "7", "Windows 7", "Other"),
    ("Mozilla/4.0 (compatible; MSIE 8.0; Windows NT 5.1)",
     "IE", "8.0", "Windows", "XP", "Windows XP", "Other"),
    ("Mozilla/5.0 (iPhone; CPU iPhone OS 15_4 like Mac OS X) "
     "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/15.4 "
     "Mobile/15E148 Safari/604.1",
     "Mobile Safari", "15.4", "iOS", "15.4", "iOS 15.4", "iPhone"),
    ("Mozilla/5.0 (iPad; CPU OS 13_3 like Mac OS X) AppleWebKit/605.1.15 "
     "(KHTML, like Gecko) CriOS/87.0.4280.77 Mobile/15E148 Safari/604.1",
     "Chrome Mobile iOS", "87.0.4280.77", "iOS", "13.3", "iOS 13.3", "iPad"),
    ("Mozilla/5.0 (Linux; Android 12; Pixel 6) AppleWebKit/537.36 "
     "(KHTML, like Gecko) Chrome/99.0.4844.58 Mobile Safari/537.36",
     "Chrome Mobile", "99.0.4844.58", "Android", "12", "Android 12",
     "Pixel 6"),
    ("Mozilla/5.0 (Linux; Android 9; SM-G960F Build/PPR1.180610.011; wv) "
     "AppleWebKit/537.36 (KHTML, like Gecko) Version/4.0 "
     "Chrome/74.0.3729.157 Mobile Safari/537.36",
     "Chrome Mobile WebView", "74.0.3729.157", "Android", "9", "Android 9",
     "SM-G960F"),
    ("Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36 (KHTML, like "
     "Gecko) Chrome/91.0.4472.114 Safari/537.36",
     "Chrome", "91.0.4472.114", "Linux", None, "Linux", "Other"),
    ("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 "
     "(KHTML, like Gecko) Version/14.1.1 Safari/605.1.15",
     "Safari", "14.1.1", "Mac OS X", "10.15.7", "Mac OS X 10.15.7", "Mac"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, "
     "like Gecko) Chrome/91.0.4472.124 Safari/537.36 Edg/91.0.864.64",
     "Edge", "91.0.864.64", "Windows", "10", "Windows 10", "Other"),
    ("Opera/9.80 (Windows NT 6.1; WOW64) Presto/2.12.388 Version/12.18",
     "Opera", "12.18", "Windows", "7", "Windows 7", "Other"),
    ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, "
     "like Gecko) Chrome/74.0.3729.157 Safari/537.36 OPR/62.0.3331.66",
     "Opera", "62.0.3331.66", "Windows", "10", "Windows 10", "Other"),
    ("Mozilla/5.0 (compatible; Googlebot/2.1; "
     "+http://www.google.com/bot.html)",
     "Googlebot", "2.1", None, None, None, "Spider"),
    ("Mozilla/5.0 (compatible; bingbot/2.0; "
     "+http://www.bing.com/bingbot.htm)",
     "bingbot", "2.0", None, None, None, "Spider"),
    ("curl/7.64.1", "curl", "7.64.1", None, None, None, "Other"),
    ("python-requests/2.28.1", "Python Requests", "2.28.1",
     None, None, None, "Other"),
    ("Go-http-client/1.1", "Go-http-client", "1.1", None, None, None,
     "Other"),
    ("Wget/1.20.3 (linux-gnu)", "Wget", "1.20.3", "Linux", None, "Linux",
     "Other"),
    ("Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:109.0) Gecko/20100101 "
     "Firefox/115.0",
     "Firefox", "115.0", "Ubuntu", None, "Ubuntu", "Other"),
    ("SomeUnknownAgent/0.1", "Other", None, None, None, None, "Other"),
]


@pytest.fixture(scope="module")
def ua_parsed(spark):
    df = spark.createDataFrame(
        [(i, ua) for i, (ua, *_) in enumerate(UA_CORPUS)], "i long, ua string"
    )
    out = apply_chain(df, build_chain([
        {"user_agent": {"field": "ua", "target_field": "user_agent"}},
    ]))
    return {r["i"]: r for r in out.collect()}


def _p(row, path):
    cur = row
    for part in path.split("."):
        if cur is None:
            return None
        cur = cur[part]
    return cur


@pytest.mark.parametrize("i", range(len(UA_CORPUS)))
def test_ua_corpus(ua_parsed, i):
    ua, name, version, os_name, os_ver, os_full, device = UA_CORPUS[i]
    r = ua_parsed[i]
    got = (
        _p(r, "user_agent.name"), _p(r, "user_agent.version"),
        _p(r, "user_agent.os.name"), _p(r, "user_agent.os.version"),
        _p(r, "user_agent.os.full"), _p(r, "user_agent.device.name"),
    )
    assert got == (name, version, os_name, os_ver, os_full, device), ua
    assert _p(r, "user_agent.original") == ua


def test_ua_null_input_keeps_null_parent(spark):
    df = spark.createDataFrame([(None,)], "ua string")
    out = apply_chain(df, build_chain([{"user_agent": {"field": "ua"}}]))
    assert out.collect()[0]["user_agent"] is None


def test_ua_properties_subset(spark):
    df = spark.createDataFrame([("curl/7.1",)], "ua string")
    out = apply_chain(df, build_chain([
        {"user_agent": {"field": "ua", "properties": ["name"]}},
    ]))
    r = out.collect()[0]
    assert r["user_agent"].asDict() == {"name": "curl"}


def test_ua_missing_field(spark):
    df = spark.createDataFrame([("x",)], "other string")
    with pytest.raises(ValueError, match="missing field"):
        apply_chain(df, build_chain([{"user_agent": {"field": "ua"}}]))
    out = apply_chain(df, build_chain([
        {"user_agent": {"field": "ua", "ignore_missing": True}},
    ]))
    assert out.columns == ["other"]


def test_ua_config_validation(spark):
    with pytest.raises(ValueError, match="unknown config"):
        build_chain([{"user_agent": {"field": "ua", "bogus": 1}}])
    with pytest.raises(ValueError, match="unknown properties"):
        build_chain([{"user_agent": {"field": "ua", "properties": ["nm"]}}])


def test_ua_no_python_in_plan(spark):
    df = spark.createDataFrame([("curl/7.1",)], "ua string")
    out = apply_chain(df, build_chain([{"user_agent": {"field": "ua"}}]))
    plan = out._jdf.queryExecution().executedPlan().toString()
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


# ---------------------------------------------------------------------------
# enrich_cidr

CIDR_DIM = [
    ("10.0.0.0/8", "corp"),
    ("10.1.0.0/16", "lab"),
    ("10.1.2.0/24", "annex"),
    ("192.168.0.0/16", "home"),
    ("203.0.113.77", "host77"),          # bare address → /32
    ("2001:db8::/32", "docrange"),
    ("2001:db8:0:1::/64", "docsub"),
]


@pytest.fixture(scope="module")
def cidr_chain(spark):
    register_lookup(
        "test_geo",
        lambda: spark.createDataFrame(CIDR_DIM, "cidr string, region string"))
    return build_chain([
        {"enrich_cidr": {"lookup": "test_geo", "on": "ip", "target": "geo"}},
    ])


@pytest.mark.parametrize("ip,region", [
    ("10.200.1.1", "corp"),          # only the /8 covers it
    ("10.1.3.4", "lab"),             # /16 beats /8
    ("10.1.2.9", "annex"),           # /24 beats /16 and /8
    ("192.168.254.3", "home"),
    ("203.0.113.77", "host77"),      # bare-dim-row exact /32
    ("203.0.113.78", None),          # one off the /32 → no match
    ("172.16.0.1", None),            # uncovered
    ("2001:db8:ffff::1", "docrange"),
    ("2001:db8:0:1::5", "docsub"),   # /64 beats /32
    ("2001:dead::1", None),
    ("not-an-ip", None),
    (None, None),
])
def test_cidr_longest_prefix(spark, cidr_chain, ip, region):
    df = spark.createDataFrame([(ip,)], "ip string")
    r = apply_chain(df, cidr_chain).collect()[0]
    got = r["geo"]["region"] if r["geo"] is not None else None
    assert got == region


def test_cidr_fields_rename_map(spark):
    register_lookup(
        "test_geo2",
        lambda: spark.createDataFrame(
            [("10.0.0.0/8", "AA", "North")],
            "cidr string, iso string, city string"))
    df = spark.createDataFrame([("10.2.3.4",)], "ip string")
    out = apply_chain(df, build_chain([
        {"enrich_cidr": {"lookup": "test_geo2", "on": "ip",
                         "target": "source.geo",
                         "fields": {"iso": "country_iso_code"}}},
    ]))
    r = out.collect()[0]
    assert r["source"]["geo"].asDict() == {"country_iso_code": "AA"}


def test_cidr_first_wins_on_duplicate_key(spark):
    register_lookup(
        "test_geo3",
        lambda: spark.createDataFrame(
            [("10.0.0.0/8", "first"), ("10.0.0.0/8", "second")],
            "cidr string, region string"))
    df = spark.createDataFrame([("10.9.9.9",)], "ip string")
    out = apply_chain(df, build_chain([
        {"enrich_cidr": {"lookup": "test_geo3", "on": "ip",
                         "target": "geo"}},
    ]))
    assert out.count() == 1  # no row amplification from the dup dim row


def test_cidr_missing_field(spark, cidr_chain):
    df = spark.createDataFrame([("x",)], "other string")
    with pytest.raises(ValueError, match="missing field"):
        apply_chain(df, build_chain([
            {"enrich_cidr": {"lookup": "test_geo", "on": "ip",
                             "target": "geo"}},
        ]))
    out = apply_chain(df, build_chain([
        {"enrich_cidr": {"lookup": "test_geo", "on": "ip", "target": "geo",
                         "ignore_missing": True}},
    ]))
    assert out.columns == ["other"]


def test_cidr_config_validation(spark):
    with pytest.raises(ValueError, match="unknown config"):
        build_chain([{"enrich_cidr": {"lookup": "x", "on": "ip",
                                      "bogus": 1}}])
    df = spark.createDataFrame([("10.0.0.1",)], "ip string")
    with pytest.raises(ValueError, match="lookup or table"):
        apply_chain(df, build_chain([{"enrich_cidr": {"on": "ip"}}]))


def test_cidr_user_staging_columns_survive(spark, cidr_chain):
    """A user column named __cidr_hex must survive (free-name probe)."""
    df = spark.createDataFrame([("10.1.2.3", "keepme")],
                               "ip string, __cidr_hex string")
    r = apply_chain(df, cidr_chain).collect()[0]
    assert r["__cidr_hex"] == "keepme"
    assert r["geo"]["region"] == "annex"


def test_cidr_small_dim_plan_is_pure_projection(spark, cidr_chain):
    """A small dim folds into the plan as constant map literals: the event
    stream must see NO join, NO shuffle, NO Python — one projection."""
    df = spark.createDataFrame([("10.1.2.3",)], "ip string")
    out = apply_chain(df, cidr_chain)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Exchange" not in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


def test_cidr_large_dim_plan_is_broadcast_join(spark, monkeypatch):
    """Above the inline cap the event stream must never shuffle: broadcast
    hash joins only (O(1) probes — map literals are linear scans)."""
    from beats_spark.processors import enrich as enrich_mod

    monkeypatch.setattr(enrich_mod, "_INLINE_MAX_ENTRIES", 0)
    register_lookup(
        "test_geo_big",
        lambda: spark.createDataFrame(CIDR_DIM, "cidr string, region string"))
    chain = build_chain([
        {"enrich_cidr": {"lookup": "test_geo_big", "on": "ip",
                         "target": "geo"}},
    ])
    df = spark.createDataFrame([("10.1.2.3",)], "ip string")
    out = apply_chain(df, chain)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert marker not in plan


def test_cidr_inline_and_join_paths_agree(spark, monkeypatch):
    """The plan-inlined map-literal strategy and the broadcast-join
    strategy are physical alternatives of ONE operator — identical output
    on a corpus spanning both families, misses, invalid and NULL ips."""
    from beats_spark.processors import enrich as enrich_mod

    ips = [(ip,) for ip, _ in [
        ("10.200.1.1", "corp"), ("10.1.3.4", "lab"), ("10.1.2.9", "annex"),
        ("192.168.254.3", "home"), ("203.0.113.77", "host77"),
        ("203.0.113.78", None), ("172.16.0.1", None),
        ("2001:db8:ffff::1", "docrange"), ("2001:db8:0:1::5", "docsub"),
        ("2001:dead::1", None), ("not-an-ip", None), (None, None),
    ]]
    df = spark.createDataFrame(ips, "ip string")
    register_lookup(
        "test_geo_both",
        lambda: spark.createDataFrame(CIDR_DIM, "cidr string, region string"))
    cfg = [{"enrich_cidr": {"lookup": "test_geo_both", "on": "ip",
                            "target": "geo"}}]
    outs = []
    for cap in (256, 0):
        monkeypatch.setattr(enrich_mod, "_INLINE_MAX_ENTRIES", cap)
        outs.append(sorted(
            ((r["ip"] or "", r["geo"]["region"] if r["geo"] is not None
              else None) for r in apply_chain(df, build_chain(cfg)).collect()),
            key=lambda t: (t[0], t[1] or "")))
    assert outs[0] == outs[1]


IP_TORTURE = [
    "10.1.2.3", "0.0.0.0", "255.255.255.255", "256.1.2.3", "1.2.3",
    "1.2.3.4.5", "999.1.2.3", "::", "::1", "2001:db8::1",
    "2001:db8:0:1::ffff", "fe80::1%eth0", "2001:db8::1::2", ":::",
    ":1:2:3:4:5:6:7", "1:2:3:4:5:6:7:", "1:2:3:4:5:6:7:8",
    "1:2:3:4:5:6:7:8:9", "::ffff:1.2.3.4", "::ffff:999.1.2.3",
    "::ffff:1.2.3.999", "0:0:0:0:0:0:0:0", "abcd:ef01::", "ABCD::",
    " 10.1.2.3 ", "", "not an ip", None, "12345::", "1::2:3:4:5:6:7",
    "::ffff:300.1.2.3", "1.2.3.04", "01:2::",
    "2001:0db8:0000:0001:0000:0000:0000:0001",
]


def test_stage_ip_hex_parity_with_ip_bytes(spark):
    """ip_hex must be value-identical to F.hex(_ip_bytes(ip)) — the previous
    oracle-pinned parser, kept in tests/ip_reference.py — on a torture
    corpus: compression, embedded v4 tails, shape violations, whitespace,
    NULL."""
    from ip_reference import _ip_bytes

    from beats_spark.conditions import ip_hex

    df = spark.createDataFrame([(c,) for c in IP_TORTURE], "ip string")
    out = df.select("ip", ip_hex(F.col("ip")).alias("new"),
                    F.hex(_ip_bytes(F.col("ip"))).alias("old"))
    bad = out.filter(~F.col("new").eqNullSafe(F.col("old"))).collect()
    assert not bad, bad


def test_cidr_match_parity_with_reference(spark):
    """cidr_match over ip_hex equals the previous per-family matcher, its
    NULL read as false: the torture corpus plus in- and out-of-range
    addresses × every named network, /0, /17, /33 and bare hosts."""
    from ip_reference import _cidr_match

    from beats_spark.conditions import (NAMED_NETWORKS, cidr_key, cidr_match,
                                        ip_hex)

    # the named networks hold the /128s; "10.1.200.7/17" has host bits
    cidrs = sorted({c for cs in NAMED_NETWORKS.values() for c in cs} | {
        "0.0.0.0/0", "::/0", "10.1.200.7/17", "2001:db8:8000::/33",
        "10.1.2.3", "2001:db8::1"})
    ips = IP_TORTURE + [
        "10.1.130.1", "10.1.127.255", "172.31.255.255", "172.32.0.1",
        "192.168.7.7", "224.0.0.1", "169.254.1.1", "127.0.0.1", "fd12::1",
        "fc00::1", "ff02::fb", "fe80::1234", "febf::1", "fec0::1",
        "2001:db8:8000::1", "2001:db8:7fff::1", "::ffff:192.168.1.1",
    ]
    df = spark.createDataFrame([(c,) for c in ips], "ip string")
    bad = []
    for c in cidrs:  # one query per CIDR: the reference trees are large
        new = cidr_match(ip_hex(F.col("ip")), cidr_key(c))
        old = F.coalesce(_cidr_match(F.col("ip"), c), F.lit(False))
        bad += [(c, r["ip"]) for r in
                df.filter(~new.eqNullSafe(old)).select("ip").collect()]
    assert not bad, bad


def test_cidr_table_path_variant(spark, tmp_path):
    p = str(tmp_path / "dim")
    spark.createDataFrame(CIDR_DIM, "cidr string, region string") \
        .write.parquet(p)
    df = spark.createDataFrame([("10.1.2.3",)], "ip string")
    out = apply_chain(df, build_chain([
        {"enrich_cidr": {"table": p, "on": "ip", "target": "geo"}},
    ]))
    assert out.collect()[0]["geo"]["region"] == "annex"


def test_streaming_user_agent_and_cidr_parity(spark, tmp_path):
    """Both new enrichments are stateless column algebra, so the SAME chain
    applies to a readStream frame (enrich_cidr's joins are stream-static
    broadcasts; the dim collect happens at plan build). availableNow output
    must equal the batch transform row-for-row."""
    register_lookup(
        "stream_geo",
        lambda: spark.createDataFrame(
            [("10.0.0.0/8", "corp"), ("203.0.113.0/24", "doc")],
            "cidr string, region string"))
    chain = build_chain([
        {"user_agent": {"field": "ua", "ignore_missing": True}},
        {"enrich_cidr": {"lookup": "stream_geo", "on": "ip",
                         "target": "geo"}},
    ])
    rows = [
        ("curl/8.1.2", "10.1.2.3"),
        ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
         "(KHTML, like Gecko) Chrome/99.0.4844.58 Safari/537.36",
         "203.0.113.9"),
        (None, "8.8.8.8"),
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, "ua string, ip string") \
        .coalesce(1).write.parquet(src)

    def flat(df):
        return df.select(
            "ip",
            F.col("user_agent.name").alias("ua_name"),
            F.col("geo.region").alias("region"))

    out = str(tmp_path / "out")
    stream = spark.readStream.schema("ua string, ip string").parquet(src)
    q = (flat(apply_chain(stream, chain))
         .writeStream.format("parquet").option("path", out)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    try:
        assert q.awaitTermination(300), "streaming query timed out"
    finally:
        q.stop()

    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(map(tuple,
                      flat(apply_chain(spark.read.parquet(src),
                                       chain)).collect()))
    assert got == want
    assert ("10.1.2.3", "curl", "corp") in got
    assert ("8.8.8.8", None, None) in got
