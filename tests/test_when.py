"""``when`` on the join, window and mapInPandas stages: one pass, the same rows.

Each stage below once ran under ``when`` by splitting its input and
unioning the halves back. They now run in one pass; the differential test
holds them to the split-and-union oracle (``when_reference.split_union``) on
a corpus whose condition is true, false and NULL. The plan tests pin the
single pass: one ``FileScan`` of the source per stage, one call of the
lookup provider.
"""

import datetime
import json

import pytest
from pyspark.sql import functions as F

from beats_spark.processors import apply_chain, build_chain, build_stage
from beats_spark.processors.enrich import register_lookup
from when_reference import split_union

WHEN = {"equals": {"role": "x"}}

SCHEMA = (
    "id long, role string, text string, line string, tool string, "
    "domain string, ts timestamp, "
    "source struct<ip: string, port: int>, "
    "destination struct<ip: string, port: int>, "
    "network struct<transport: string>, meta struct<a: string, b: string>"
)

TEXTS = ["a=1 b=2", "junk", None, "k=v"]
LINES = ["<34>Oct 11 22:14:15 host su[12]: 'su root' failed",
         "<165>1 2003-10-11T22:14:15.003Z h app 7 ID47 - hello",
         "not syslog", None]
DOMAINS = ["www.example.co.uk", "foo.github.io", None, "uk", "a.b.example.com"]
IPS = ["10.1.2.3", "10.9.9.9", "2001:db8::1", "192.168.0.1", "bogus", None]


def _corpus(spark):
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    for i in range(30):
        rows.append((
            i, ["x", "y", None][i % 3], TEXTS[i % 4], LINES[i % 4],
            ["search", "code", "search", "mcp"][i % 4],
            DOMAINS[i % 5],
            None if i % 7 == 0 else t0 + datetime.timedelta(seconds=i),
            None if i % 11 == 5 else (IPS[i % 6], 1000 + i),
            (IPS[(i + 2) % 6], 80),
            (["tcp", "udp", None][i % 3],),
            None if i % 5 == 4 else (f"a{i}", f"b{i}"),
        ))
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture(scope="module")
def corpus(spark):
    register_lookup("when_tools", lambda: spark.createDataFrame(
        [("search", "web"), ("code", "dev")], "tool string, family string"))
    register_lookup("when_geo", lambda: spark.createDataFrame(
        [("10.0.0.0/8", "lan"), ("10.1.0.0/16", "lab"),
         ("2001:db8::/32", "doc"), ("0.0.0.0/0", "any")],
        "cidr string, zone string"))
    return _corpus(spark).cache()


def _shout_fn():
    # nested, so the workers get it by value, not as an import of this module
    def shout(pdf):
        out = pdf[["id", "text"]].copy()
        out["shout"] = pdf["text"].str.upper()
        return out
    return shout


STAGES = [
    ("kv", {"field": "text"}),
    ("syslog", {"field": "line"}),
    ("community_id", {}),
    ("enrich", {"lookup": "when_tools", "on": "tool", "target": "tool_meta",
                "default": {"family": "other"}}),
    ("enrich_cidr", {"lookup": "when_geo", "on": "source.ip",
                     "target": "source.geo"}),
    ("registered_domain", {"field": "domain", "target_field": "rd"}),
    ("include_fields", {"fields": ["id", "meta.a", "network.iana"]}),
    ("script", {"fn": _shout_fn(), "schema": "id long, text string, shout string"}),
    ("rate_limit", {"limit": "2/m", "fields": ["tool"]}),
]
IDS = [name for name, _ in STAGES]


def _rows(df) -> list[str]:
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True,
                             default=str) for r in df.collect())


def _when(name, cfg):
    return build_stage(name, {**cfg, "when": WHEN})


@pytest.mark.parametrize("name,cfg", STAGES, ids=IDS)
def test_when_equals_split_union(spark, corpus, name, cfg):
    got = _when(name, cfg).apply(corpus)
    want = split_union(name, cfg, corpus, WHEN)
    assert sorted(got.columns) == sorted(want.columns)
    assert _rows(got) == _rows(want)


def test_enrich_cidr_join_strategy_equals_split_union(spark, corpus,
                                                      monkeypatch):
    from beats_spark.processors import enrich

    monkeypatch.setattr(enrich, "_INLINE_MAX_ENTRIES", 0)
    cfg = dict(STAGES[IDS.index("enrich_cidr")][1])
    got = _when("enrich_cidr", cfg).apply(corpus)
    assert "BroadcastHashJoin" in got._jdf.queryExecution().executedPlan().toString()
    assert _rows(got) == _rows(split_union("enrich_cidr", cfg, corpus, WHEN))


def test_when_skipped_rows_keep_old_target(spark, corpus):
    """A row the condition skips keeps the value it had, not ``default``."""
    df = corpus.withColumn("tool_meta", F.struct(F.lit("old").alias("family")))
    out = _when("enrich", STAGES[IDS.index("enrich")][1]).apply(df)
    fam = {r["id"]: r["tool_meta"]["family"] for r in out.collect()}
    roles = {r["id"]: r["role"] for r in corpus.collect()}
    assert {fam[i] for i in fam if roles[i] != "x"} == {"old"}
    assert "old" not in {fam[i] for i in fam if roles[i] == "x"}


@pytest.fixture(scope="module")
def parquet_src(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("when") / "src")
    _corpus(spark).write.parquet(path)
    return path


@pytest.mark.parametrize("name,cfg", STAGES, ids=IDS)
def test_when_scans_source_once(spark, corpus, parquet_src, name, cfg):
    """Under ``when`` every stage reads its parquet source once — no split
    and union; registered_domain's own self-join reads it twice."""
    out = _when(name, cfg).apply(spark.read.parquet(parquet_src))
    plan = out._jdf.queryExecution().executedPlan().toString()
    scans = 2 if name == "registered_domain" else 1
    assert plan.count("FileScan") == scans and "Union" not in plan, plan


def test_enrich_cidr_under_when_calls_lookup_once(spark, corpus):
    calls = []

    def provider():
        calls.append(1)
        return spark.createDataFrame([("10.0.0.0/8", "lan")],
                                     "cidr string, zone string")

    register_lookup("when_counted_geo", provider)
    apply_chain(corpus, build_chain([{"enrich_cidr": {
        "lookup": "when_counted_geo", "on": "source.ip", "target": "geo",
        "when": WHEN}}])).collect()
    assert len(calls) == 1


@pytest.mark.parametrize("chain", [
    [{"multiline": {"pattern": "^ ", "field": "text", "when": WHEN}}],
    [{"if": WHEN, "then": [{"multiline": {"pattern": "^ ", "field": "text"}}]}],
], ids=["when", "if_then"])
def test_multiline_refuses_a_condition(spark, corpus, chain):
    with pytest.raises(ValueError, match="multiline: takes no condition"):
        apply_chain(corpus, build_chain(chain))


def test_samples_input_passes_up_through_when_and_if():
    sampling = {"decode_json_fields": {"fields": ["raw"]}}
    typed = {"decode_json_fields": {"fields": ["raw"], "schema": "k int"}}
    assert build_chain([sampling])[0].samples_input
    assert not build_chain([typed])[0].samples_input
    assert build_chain([{"decode_json_fields": {
        "fields": ["raw"], "when": WHEN}}])[0].samples_input
    assert build_chain([{"if": WHEN, "then": [typed],
                         "else": [sampling]}])[0].samples_input
    assert not build_chain([{"if": WHEN, "then": [typed]}])[0].samples_input


def test_enrich_rejects_unknown_config_keys():
    with pytest.raises(ValueError, match=r"enrich: unknown config keys \['bogus'\]"):
        build_stage("enrich", {"lookup": "when_tools", "on": "tool",
                               "bogus": 1})


@pytest.mark.parametrize("name,cfg", [
    ("enrich", {"lookup": "no_such_lookup", "on": "tool"}),
    ("enrich_cidr", {"lookup": "no_such_lookup", "on": "source.ip"}),
], ids=["enrich", "enrich_cidr"])
def test_unregistered_lookup_names_the_registered_ones(spark, corpus, name, cfg):
    with pytest.raises(ValueError, match=rf"{name}: unknown lookup "
                       r"'no_such_lookup' \(registered: \[.*'when_tools'"):
        build_stage(name, cfg).apply(corpus)
