"""Plan once, replay per batch: a Pipeline plans its chain once per key
(input schema, lookup registrations, session conf) and replays the recorded
frame ops on later inputs; a batch then runs only its staging write as
Spark jobs."""

import datetime as dt
import uuid

import pytest
from pyspark.sql import functions as F

import beats_spark.pipeline as pipeline_mod
from beats_spark.catalog import ParquetCatalog
from beats_spark.pipeline import Pipeline, PipelineConfig, fixture_config
from beats_spark.processors.enrich import register_lookup
from beats_spark.testdata import transcripts_from_events

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture
def builds(monkeypatch):
    """How many times a Pipeline built its chain (a replay builds none)."""
    calls = []
    real = pipeline_mod.apply_chain

    def counting(df, stages):
        calls.append(1)
        return real(df, stages)

    monkeypatch.setattr(pipeline_mod, "apply_chain", counting)
    return calls


@pytest.fixture(scope="module")
def batches(spark):
    """Two batches of different turns, each with an ``ip`` field."""
    df = transcripts_from_events(spark, SF_DIR).withColumn(
        "ip", F.concat(F.lit("10.0."), (F.col("turn_idx") % 3).cast("string"),
                       F.lit(".7")))
    half = F.abs(F.hash("conv_id")) % 2
    return [df.filter(half == i).cache() for i in (0, 1)]


def _rows(df) -> list[str]:
    return sorted(r[0] for r in df.select(F.to_json(F.struct("*"))).collect())


def _enriched_config(spark) -> PipelineConfig:
    register_lookup("replay_tools", lambda: spark.createDataFrame(
        [("search", "web"), ("code", "dev")], "tool string, family string"))
    register_lookup("replay_geo", lambda: spark.createDataFrame(
        [("10.0.0.0/16", "lan"), ("10.0.1.0/24", "lab")],
        "cidr string, zone string"))
    cfg = fixture_config()
    cfg.processors = cfg.processors + [
        {"enrich": {"lookup": "replay_tools", "on": "tool", "target": "tool_meta",
                    "default": {"family": "unknown"}}},
        {"enrich_cidr": {"lookup": "replay_geo", "on": "ip", "target": "geo"}},
    ]
    return cfg


def test_replayed_batches_equal_fresh_pipelines(spark, batches, tmp_path,
                                                builds):
    """Two batches through one Pipeline (the second replays the first's
    plan) land the same sinks, counts and rows as a fresh Pipeline per
    batch."""
    cfg = _enriched_config(spark)
    shared_cat = ParquetCatalog(spark, str(tmp_path / "shared"))
    fresh_cat = ParquetCatalog(spark, str(tmp_path / "fresh"))
    shared = Pipeline(spark, cfg, shared_cat)
    got = [shared.run(b, run_id=f"b{i}") for i, b in enumerate(batches)]
    assert len(builds) == 1
    want = [Pipeline(spark, cfg, fresh_cat).run(b, run_id=f"b{i}")
            for i, b in enumerate(batches)]
    assert len(builds) == 3
    for g, w in zip(got, want):
        assert (g.sinks, g.events_in, g.events_dropped) == (
            w.sinks, w.events_in, w.events_dropped)
    assert got[0].sinks != got[1].sinks
    for sink in want[0].sinks:
        assert _rows(shared_cat.read(sink)) == _rows(fresh_cat.read(sink))
    enriched = shared_cat.read("sink_search").select("tool_meta.family", "geo.zone")
    assert {tuple(r) for r in enriched.distinct().collect()} == {
        ("web", "lan"), ("web", "lab")}


def test_unreplayable_chain_builds_per_input(spark, builds):
    """A schema-less decode_json_fields samples its input while the chain is
    built, so its chain is not replayed: a second batch with a new JSON
    shape decodes to that shape."""
    pipe = Pipeline(spark, PipelineConfig(
        processors=[{"decode_json_fields": {"fields": ["raw"]}}],
        routes=[{"sink": "s"}]))
    first = pipe.transform(spark.createDataFrame([('{"a": 1}',)], "raw string"))
    second = pipe.transform(spark.createDataFrame([('{"b": "x"}',)], "raw string"))
    assert first.schema["raw"].dataType.fieldNames() == ["a"]
    assert second.schema["raw"].dataType.fieldNames() == ["b"]
    assert second.collect()[0]["raw"]["b"] == "x"
    assert len(builds) == 2


def test_register_lookup_replans(spark, builds):
    """Re-registering a lookup re-plans the chain: the new dim's values show
    up. Without it, the same input replays the kept plan."""
    register_lookup("replan_tools", lambda: spark.createDataFrame(
        [("search", "web")], "tool string, family string"))
    pipe = Pipeline(spark, PipelineConfig(
        processors=[{"enrich": {"lookup": "replan_tools", "on": "tool",
                                "target": "meta"}}],
        routes=[{"sink": "s"}]))
    src = spark.createDataFrame([("search",)], "tool string")
    family = lambda: pipe.transform(src).collect()[0]["meta"]["family"]  # noqa: E731
    assert family() == "web"
    assert family() == "web"
    assert len(builds) == 1
    register_lookup("replan_tools", lambda: spark.createDataFrame(
        [("search", "websearch")], "tool string, family string"))
    assert family() == "websearch"
    assert len(builds) == 2


def test_time_zone_change_replans(spark, builds):
    """The fingerprint of a timestamp renders UTC wall time by shifting by
    the session time zone the build reads; a time-zone change re-plans, so
    the fingerprint stays that of a fresh build (a replayed UTC plan would
    render New York wall time)."""
    pipe = Pipeline(spark, PipelineConfig(
        processors=[{"fingerprint": {"fields": ["ts"], "method": "md5"}}],
        routes=[{"sink": "s"}]))
    src = spark.createDataFrame([(dt.datetime(2024, 1, 1, 12, 0, 0),)],
                                "ts timestamp")
    fp = lambda p: p.transform(src).collect()[0]["fingerprint"]  # noqa: E731
    utc = fp(pipe)
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        ny = fp(pipe)
        fresh = fp(Pipeline(spark, pipe.config))
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert ny == fresh == utc
    assert len(builds) == 3


def test_schema_change_replans(spark, builds):
    """An input with another schema re-plans: a field the first batch lacked
    enters the fingerprint of the second, as in a fresh build."""
    cfg = PipelineConfig(
        processors=[{"fingerprint": {"fields": ["a", "b"], "method": "md5",
                                     "ignore_missing": True}}],
        routes=[{"sink": "s"}])
    pipe = Pipeline(spark, cfg)
    one = spark.createDataFrame([("x",)], "a string")
    two = spark.createDataFrame([("x", "y")], "a string, b string")
    for src in (one, two):
        got = pipe.transform(src).collect()[0]["fingerprint"]
        assert got == Pipeline(spark, cfg).transform(src).collect()[0]["fingerprint"]
    assert len(builds) == 4
    assert (pipe.transform(one).collect()[0]["fingerprint"]
            != pipe.transform(two).collect()[0]["fingerprint"])


def _jobs(spark, fn) -> tuple[int, object]:
    """Spark jobs that ``fn`` starts, counted under a fresh job group."""
    sc = spark.sparkContext
    group = f"run-{uuid.uuid4()}"
    sc.setJobGroup(group, "run_incremental")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def test_later_run_incremental_jobs(spark, batches, tmp_path, builds):
    """A later micro-batch runs two Spark jobs: the schema read of its new
    source snapshot and the staging write. The plan is replayed, and the
    lineage done-set, the re-aggregation and the metrics and lineage
    commits run none."""
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, fixture_config(), cat)
    cat.append(batches[0], "transcripts")
    pipe.run_incremental("transcripts")
    cat.append(batches[1], "transcripts")
    jobs, res = _jobs(spark, lambda: pipe.run_incremental("transcripts"))
    assert res.events_in == batches[1].count()
    assert len(builds) == 1
    assert jobs == 2


def test_benchmark_shaped_chain_records_few_ops(spark, monkeypatch):
    """The plan a Pipeline records for a benchmark-shaped chain (two
    dissects, grok, user_agent, kv, drop_event, fingerprint, enrich,
    enrich_cidr, if/then, routes) has at most 26 live frame ops: each
    stage's write set ends in one projection, with no drop of its own (the
    replay pays one eager analysis per op; 37 when every stage dropped its
    temps itself)."""
    tapes = []

    class Recording(pipeline_mod.Tape):
        def __init__(self):
            super().__init__()
            tapes.append(self)

    monkeypatch.setattr(pipeline_mod, "Tape", Recording)
    register_lookup("ops_tools", lambda: spark.createDataFrame(
        [("search", "retrieval", "cheap")],
        "tool string, tool_family string, tool_cost_class string"))
    register_lookup("ops_geo", lambda: spark.createDataFrame(
        [("10.0.0.0/16", "DE", None)] + [
            (f"10.1.{k}.0/24", "US", f"city-{k}") for k in range(200)],
        "cidr string, country_iso_code string, city_name string"))
    access = ('%{IP:client_ip} - %{NOTSPACE:user} \\[%{DATA:time}\\] '
              '"%{WORD:method} %{NOTSPACE:path} HTTP/%{NUMBER:version}" '
              '%{INT:status:int} %{INT:bytes:int} "%{DATA:referrer}" "%{DATA:ua}"')
    cfg = PipelineConfig(processors=[
        {"dissect": {"tokenizer": 'level=%{level} caller=%{caller} msg="%{msg}" '
                                  "latency_ms=%{latency|integer}",
                     "field": "text", "target_prefix": "parsed",
                     "ignore_failure": True,
                     "when": {"contains": {"text": "level="}}}},
        {"dissect": {"tokenizer": "src=%{ip|ip} user=%{user} action=%{action} "
                                  "status=%{status}",
                     "field": "text", "target_prefix": "source",
                     "ignore_failure": True,
                     "when": {"contains": {"text": "src="}}}},
        {"grok": {"field": "text", "pattern": access, "target_prefix": "http",
                  "when": {"contains": {"text": "HTTP/"}}}},
        {"user_agent": {"field": "http.ua", "ignore_missing": True}},
        {"kv": {"field": "text", "target": "kv", "strict": False,
                "include_keys": ["src", "user", "action", "status"]}},
        {"drop_event": {"when": {"equals": {"role": "system"}}}},
        {"fingerprint": {"fields": ["conv_id", "turn_idx", "text"],
                         "method": "sha256", "target_field": "fingerprint"}},
        {"enrich": {"lookup": "ops_tools", "on": "tool", "target": "tool_meta",
                    "default": {"tool_family": "unknown"}}},
        {"enrich_cidr": {"lookup": "ops_geo", "on": "source.ip",
                         "target": "source.geo"}},
        {"if": {"range": {"parsed.latency": {"gte": 400}}},
         "then": [{"add_tags": {"tags": ["slow"]}}]},
    ], routes=[{"sink": "http_errors",
                "when": {"range": {"http.status": {"gte": 500}}}},
               {"sink": "%{[tool]}"}])
    df = spark.createDataFrame(
        [("c1", 0, "user", "level=info caller=a.py:1 msg=\"ok\" latency_ms=500",
          "search", dt.datetime(2025, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp")
    Pipeline(spark, cfg).transform(df)
    (tape,) = tapes
    assert tape.out is not None  # replayable
    ops = [tape.ops[k - 1][1] for k in tape.live()[1:]]
    assert len(ops) <= 26, ops
    assert "drop" not in ops
