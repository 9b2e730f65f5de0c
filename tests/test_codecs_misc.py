"""decode_xml, constant-metadata processors, and dead-letter routing
semantics."""

import pytest
from pyspark.sql import functions as F

from beats_spark.catalog import ParquetCatalog
from beats_spark.pipeline import Pipeline, PipelineConfig
from beats_spark.processors import apply_chain, build_chain, build_stage


def test_decode_xml(spark):
    df = spark.createDataFrame(
        [('<event id="7"><src ip="1.2.3.4"/><msg>hello</msg></event>',),
         ("not xml",)],
        "message string",
    )
    out = apply_chain(df, build_chain([{"decode_xml": {}}])).toPandas()
    got = {m: x for m, x in zip(out["message"], out["xml"])}
    parsed = got['<event id="7"><src ip="1.2.3.4"/><msg>hello</msg></event>']
    assert parsed["id"] == "7"
    assert parsed["src.ip"] == "1.2.3.4"
    assert parsed["msg"] == "hello"
    assert got["not xml"] is None


def test_constant_metadata_processors(spark):
    df = spark.createDataFrame([(1,)], "x int")
    stages = build_chain([
        {"add_host_metadata": {"name": "node-1"}},
        {"add_observer_metadata": {"type": "pipeline"}},
        {"add_cloud_metadata": {"facts": {"provider": "aws",
                                          "region": "us-east-1"}}},
        {"add_locale": {"format": "abbreviation"}},
    ])
    row = apply_chain(df, stages).toPandas().iloc[0]
    assert row["host"]["name"] == "node-1"
    assert row["observer"]["type"] == "pipeline"
    assert row["cloud"]["region"] == "us-east-1"
    assert row["event"]["timezone"] == "UTC"


def test_dead_letter_routing(spark, tmp_path):
    """Rows no rule claims (null selector result) land in the dead_letter
    table — the ES non_indexable_policy dead_letter_index analogue."""
    df = spark.createDataFrame(
        [("c1", 0, "a", "search"), ("c2", 1, "b", None)],
        "conv_id string, turn_idx int, text string, tool string",
    )
    cfg = PipelineConfig(
        processors=[],
        routes=[{"sink": "s_%{[tool]}", "when": {"has_fields": ["tool"]}}],
    )
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    res = Pipeline(spark, cfg, cat).run(df, run_id="dl")
    assert res.sinks == {"s_search": 1, "dead_letter": 1}
    dead = cat.read("dead_letter").toPandas()
    assert list(dead["conv_id"]) == ["c2"]


def test_urldecode(spark):
    df = spark.createDataFrame([("a%20b%2Fc",), ("plain",)], "u string")
    out = apply_chain(df, build_chain([
        {"urldecode": {"fields": [{"from": "u", "to": "d"}]}},
    ])).toPandas()
    got = dict(zip(out["u"], out["d"]))
    assert got["a%20b%2Fc"] == "a b/c"
    assert got["plain"] == "plain"


def test_add_network_direction(spark):
    df = spark.createDataFrame(
        [("10.0.0.5", "8.8.8.8"), ("8.8.8.8", "10.0.0.5"),
         ("10.0.0.1", "192.168.1.9"), ("1.1.1.1", "8.8.4.4")],
        "src string, dst string",
    )
    st = build_stage("add_network_direction",
                     {"source": "src", "destination": "dst",
                      "internal_networks": ["private"]})
    out = st.apply(df).toPandas()
    got = {(r["src"], r["dst"]): r["network"]["direction"]
           for _, r in out.iterrows()}
    assert got[("10.0.0.5", "8.8.8.8")] == "outbound"
    assert got[("8.8.8.8", "10.0.0.5")] == "inbound"
    assert got[("10.0.0.1", "192.168.1.9")] == "internal"
    assert got[("1.1.1.1", "8.8.4.4")] == "external"


@pytest.mark.parametrize("nets", [["privat"], ["10.0.0.0/33"]])
def test_add_network_direction_rejects_bad_networks_at_build(nets):
    with pytest.raises(ValueError, match="add_network_direction"):
        build_chain([{"add_network_direction": {"internal_networks": nets}}])


def test_decode_csv_quote_aware(spark):
    df = spark.createDataFrame(
        [('a,"b,c",d',), ('x,"he said ""hi""",z',), ("p,q,r",)], "line string"
    )
    out = apply_chain(df, build_chain([
        {"decode_csv_fields": {"fields": {"line": "cells"}}},
    ])).toPandas()
    got = {r["line"]: list(r["cells"]) for _, r in out.iterrows()}
    assert got['a,"b,c",d'] == ["a", "b,c", "d"]
    assert got['x,"he said ""hi""",z'] == ["x", 'he said "hi"', "z"]
    assert got["p,q,r"] == ["p", "q", "r"]


def test_timestamp_test_samples_validate(spark):
    df = spark.createDataFrame([("2026-01-02 03:04:05",)], "t string")
    ok = build_chain([{"timestamp": {"field": "t", "target_field": "p",
                                     "layouts": ["2006-01-02 15:04:05"],
                                     "test": ["2025-12-31 23:59:59"]}}])
    assert apply_chain(df, ok).select("p").first()["p"] is not None
    bad = build_chain([{"timestamp": {"field": "t", "target_field": "p",
                                      "layouts": ["2006-01-02 15:04:05"],
                                      "test": ["31/12/2025"]}}])
    with pytest.raises(ValueError, match="test sample"):
        apply_chain(df, bad).collect()


def test_fanout_sink_names_with_special_chars(spark, tmp_path):
    """Sink names with characters Spark escapes in partition dirs (: space
    #) must still adopt correctly into catalog tables."""
    df = spark.createDataFrame(
        [("c1", 0, "a", "evt:login"), ("c2", 1, "b", "evt 2"),
         ("c3", 2, "c", "evt#x")],
        "conv_id string, turn_idx int, text string, tool string",
    )
    cfg = PipelineConfig(processors=[], routes=[{"sink": "idx-%{[tool]}"}])
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    res = Pipeline(spark, cfg, cat).run(df, run_id="esc")
    assert res.sinks == {"idx-evt:login": 1, "idx-evt 2": 1, "idx-evt#x": 1}
    for s in res.sinks:
        assert cat.read(s).count() == 1
