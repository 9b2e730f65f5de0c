"""End-to-end pipeline tests: fan-out counts vs a pandas oracle, per-turn
text equality under (conv_id, turn_idx) ordering, and checkpoint/resume
idempotence (the FIXTURES.md §4/§5 golden flow)."""

import glob
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F, types as T

from beats_spark.catalog import ParquetCatalog
from beats_spark.pipeline import (
    LINEAGE_TABLE,
    METRICS_TABLE,
    Pipeline,
    PipelineConfig,
    fixture_config,
)
from beats_spark.schema import PID_COL
from beats_spark.testdata import synthesize_transcripts, transcripts_from_events
from dissect_reference import expected, run_stage

SF_DIR = "/root/testdata/sf0.001"


def oracle_routes(pdf: pd.DataFrame) -> pd.Series:
    """Pure-pandas oracle for the fixture pipeline's routing."""
    kept = pdf[pdf["role"] != "system"]
    mapping = {"search": "sink_search", "code": "sink_code",
               "browser": "sink_browser", "none": "sink_other"}
    return kept["tool"].map(mapping).fillna("sink_other")


@pytest.fixture(scope="module")
def transcripts(spark):
    return transcripts_from_events(spark, SF_DIR).cache()


@pytest.mark.parametrize("route,match", [
    ({"sink": "x", "when": {"network": {"ip": "privat"}}}, "privat"),
    ({"sink": "x", "when": {"bogus": {}}}, "unknown condition kind"),
    ({"when": {"equals": {"a": 1}}}, "sink/index/topic"),
], ids=["bad_network", "unknown_kind", "no_sink"])
def test_bad_route_is_rejected_when_the_pipeline_is_built(route, match):
    """A route the selector cannot compile fails in ``Pipeline()``, as a
    bad processor does in ``build_chain``, not at the first transform."""
    with pytest.raises(ValueError, match=match):
        Pipeline(None, PipelineConfig(processors=[], routes=[route]))


def test_transform_counts_match_pandas_oracle(spark, transcripts):
    pipe = Pipeline(spark, fixture_config())
    got = {
        r["_sink"]: r["cnt"]
        for r in pipe.transform(transcripts)
        .groupBy("_sink").agg(F.count("*").alias("cnt")).collect()
    }
    want = oracle_routes(transcripts.toPandas()).value_counts().to_dict()
    assert got == want


def test_parse_and_tags(spark, transcripts):
    pipe = Pipeline(spark, fixture_config())
    out = pipe.transform(transcripts)
    pdf = out.toPandas()
    # malformed rows: parse failed → null fields + dissect failure flag
    bad = pdf[pdf["text"].str.startswith("MALFORMED")]
    assert len(bad) > 0
    assert bad["parsed"].map(lambda s: s is None or s["level"] is None).all()
    # well-formed rows: parsed fields match a regex oracle
    ok = pdf[~pdf["text"].str.startswith("MALFORMED")]
    rx = re.compile(r'^level=(\S+) caller=(\S+) msg="([^"]*)" latency_ms=(\d+)$')
    for _, row in ok.head(50).iterrows():
        m = rx.match(row["text"])
        assert m
        assert row["parsed"]["level"] == m.group(1)
        assert row["parsed"]["origin"] == m.group(2)  # renamed caller→origin
        assert row["parsed"]["msg"] == m.group(3)
        assert row["parsed"]["latency"] == int(m.group(4))
        want_slow = int(m.group(4)) >= 100
        assert (row["tags"] is not None and "slow" in list(row["tags"])) == want_slow


def test_run_fanout_and_metrics(spark, transcripts, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, fixture_config(), cat)
    res = pipe.run(transcripts, run_id="r1")

    want = oracle_routes(transcripts.toPandas()).value_counts().to_dict()
    assert res.sinks == want
    assert res.events_in == transcripts.count()
    assert res.events_dropped == res.events_in - sum(want.values())

    # sink tables hold exactly the routed rows; text preserved per-turn
    for sink, n in want.items():
        tbl = cat.read(sink)
        assert tbl.count() == n
    m = cat.read(METRICS_TABLE).toPandas()
    assert m[m["sink"].notna()]["events_routed"].sum() == sum(want.values())
    assert m[m["sink"].isna()]["events_in"].sum() == res.events_in
    assert m[m["sink"].isna()]["events_dropped"].sum() == res.events_dropped


def test_text_equality_stable_ordering(spark, transcripts, tmp_path):
    """Per-turn text equality under stable (conv_id, turn_idx) ordering —
    the BASELINE.json per-row invariant."""
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, fixture_config(), cat)
    pipe.run(transcripts, run_id="r1")
    sinks = ["sink_search", "sink_code", "sink_browser", "sink_other"]
    got = (
        cat.read(sinks[0]).select("conv_id", "turn_idx", "text")
        .unionByName(cat.read(sinks[1]).select("conv_id", "turn_idx", "text"))
        .unionByName(cat.read(sinks[2]).select("conv_id", "turn_idx", "text"))
        .unionByName(cat.read(sinks[3]).select("conv_id", "turn_idx", "text"))
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    want = (
        transcripts.filter(F.col("role") != "system")
        .select("conv_id", "turn_idx", "text")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got.reset_index(drop=True),
                                  want.reset_index(drop=True))


def test_checkpoint_resume_idempotent(spark, transcripts, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    # source lands in two snapshots
    half1 = transcripts.filter(F.col("conv_id") < "conv-000007")
    half2 = transcripts.filter(F.col("conv_id") >= "conv-000007")
    cat.append(half1, "transcripts")
    pipe = Pipeline(spark, fixture_config(), cat)

    r1 = pipe.run_incremental("transcripts", run_id="r1")
    assert not r1.skipped and len(r1.snapshot_ids) == 1
    # no new data → no-op, nothing double-appended
    r2 = pipe.run_incremental("transcripts", run_id="r2")
    assert r2.skipped and r2.events_in == 0

    cat.append(half2, "transcripts")
    r3 = pipe.run_incremental("transcripts", run_id="r3")
    assert not r3.skipped and len(r3.snapshot_ids) == 1

    # total routed across both runs == single-shot oracle
    want = oracle_routes(transcripts.toPandas()).value_counts().to_dict()
    got = {s: cat.read(s).count() for s in want}
    assert got == want
    lineage = cat.read(LINEAGE_TABLE).toPandas()
    assert set(lineage["run_id"]) == {"r1", "r3"}
    assert len(lineage) == 2


def test_synthesize_transcripts_deterministic(spark):
    a = synthesize_transcripts(spark, n_turns=2000, n_convs=50, partitions=4)
    b = synthesize_transcripts(spark, n_turns=2000, n_convs=50, partitions=13)
    pa = a.orderBy("conv_id", "turn_idx").toPandas()
    pb = b.orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(pa, pb)
    assert pa["conv_id"].nunique() == 50
    # hot key skew present
    assert (pa["conv_id"] == "conv-000000").mean() > 0.15
    # turn_idx dense per conv
    g = pa.groupby("conv_id")["turn_idx"]
    assert (g.min() == 0).all()
    assert (g.max() + 1 == g.count()).all()


def test_dissect_transcripts_match_scan_exact(spark, transcripts):
    """Every transcript row parses to what the reference scanner and the
    type rules give."""
    tok = ('level=%{level} caller=%{caller} msg="%{msg}" '
           'latency_ms=%{latency|integer}')
    texts = [r["text"] for r in transcripts.select("text").collect()]
    got = run_stage(spark, tok, texts)
    assert not all(failed for _, failed in got)
    assert got == [(expected(tok, s), expected(tok, s) is None) for s in texts]


def test_crash_recovery_rollback(spark, transcripts, tmp_path):
    """A run that died between sink commits and its lineage commit must be
    detectable and removable, after which resume reprocesses cleanly with
    no double-append (the WAP/branch transaction analogue)."""
    from beats_spark.catalog import ParquetCatalog as PC

    cat = PC(spark, str(tmp_path / "wh"))
    cat.append(transcripts, "transcripts")
    pipe = Pipeline(spark, fixture_config(), cat)

    # simulate the crash: run the fan-out but strip the lineage commit
    real_append = cat.append

    def dying_append(df, table, run_id=None):
        if table == LINEAGE_TABLE:
            raise RuntimeError("crash before lineage commit")
        return real_append(df, table, run_id=run_id)

    cat.append = dying_append
    src_snap = cat.snapshots("transcripts")[0].snapshot_id
    with pytest.raises(RuntimeError):
        pipe.run(cat.read("transcripts"), run_id="crashed",
                 source_snapshots=[src_snap])
    cat.append = real_append

    # sinks hold the orphan data; lineage does not know the run
    assert "crashed" in cat.incomplete_runs()
    removed = cat.rollback_run("crashed")
    assert sum(removed.values()) > 0
    assert cat.incomplete_runs() == set()

    # clean resume: counts equal the single-shot oracle, nothing doubled
    r = pipe.run_incremental("transcripts", run_id="retry")
    want = oracle_routes(transcripts.toPandas()).value_counts().to_dict()
    assert r.sinks == want
    assert {s: cat.read(s).count() for s in want} == want


def test_dissect_jvm_append_parity(spark):
    """Append (+key / +key/N ordinal), typed and trailing keys equal the
    reference scanner."""
    texts = ["john smith BOB 12 X", "a b C 7 Y", "nomatch"]
    tok = "%{+name} %{+name} %{flag} %{n|integer} %{tail}"
    got = run_stage(spark, tok, texts)
    assert got == [(expected(tok, s), expected(tok, s) is None) for s in texts]
    assert got[0][0] == {"name": "john smith", "flag": "BOB", "n": 12,
                         "tail": "X"}


def test_dissect_jvm_append_ordinal_parity(spark):
    tok = "%{+name/2} %{+name/1}"
    [(got, _)] = run_stage(spark, tok, ["b a"])
    assert got == expected(tok, "b a")
    assert got == {"name": "a b"}  # ordinal reorders the appends


def test_cluster_by_orders_files(spark, transcripts, tmp_path):
    """cluster_by sorts rows within each written file so parquet row-group
    stats prune (conv_id, turn_idx) range reads."""
    cfg = fixture_config()
    cfg.cluster_by = ["conv_id", "turn_idx"]
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    Pipeline(spark, cfg, cat).run(transcripts.repartition(2), run_id="c")
    import glob as g
    files = g.glob(str(tmp_path / "wh" / "sink_search" / "data" / "*" / "*.parquet"))
    assert files
    import pandas as pd_
    for f in files:
        pdf = pd_.read_parquet(f)[["conv_id", "turn_idx"]]
        assert pdf.equals(pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))


def test_direct_run_commits_lineage(spark, transcripts, tmp_path):
    """Every run commits a lineage row (NULL snapshot_id for direct runs) so
    incomplete_runs() never misclassifies a committed direct run as crashed —
    a rollback after such a misclassification would delete valid sink data."""
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, fixture_config(), cat)
    pipe.run(transcripts, run_id="direct1")
    assert cat.incomplete_runs() == set()
    row = (cat.read(LINEAGE_TABLE)
           .filter(F.col("run_id") == "direct1").collect())
    assert len(row) == 1 and row[0]["snapshot_id"] is None
    # and rollback_run on a completed run id is therefore never triggered by
    # the incomplete_runs() recovery loop; the sink data stays
    assert cat.read("sink_search").count() > 0


def test_staging_leftover_is_cleared_on_retry(spark, transcripts, tmp_path):
    """A crash between the staging write and adoption leaves _staging_<run>;
    a retried run with the same run_id (e.g. a replayed streaming batch) must
    clear it and succeed instead of failing forever with path-exists."""
    import os
    wh = str(tmp_path / "wh")
    cat = ParquetCatalog(spark, wh)
    staging = os.path.join(wh, "_staging_replay7")
    os.makedirs(staging)
    with open(os.path.join(staging, "_SUCCESS"), "w"):
        pass
    pipe = Pipeline(spark, fixture_config(), cat)
    r = pipe.run(transcripts, run_id="replay7")
    assert sum(r.sinks.values()) > 0
    assert not os.path.exists(staging)


@pytest.mark.parametrize("drop_all", [False, True])
def test_run_reads_no_hidden_path(spark, transcripts, tmp_path, monkeypatch,
                                  drop_all):
    """run() counts what landed from the data files of the landed
    ``_sink=<x>`` directories, read with pyarrow, and never reads a hidden
    path: not Spark's ``_SUCCESS`` marker or ``.crc`` files, and not the
    ``_staging_<run>`` dir through Spark (which treats a basename starting
    with ``.``, or with ``_`` and no ``=``, as hidden). A run that dropped
    every row reads nothing back."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import DataFrameReader

    spark_read, arrow_read = [], []
    real_spark, real_arrow = DataFrameReader.parquet, pq.read_table

    def spark_spy(self, *paths, **k):
        spark_read.extend(paths)
        return real_spark(self, *paths, **k)

    def arrow_spy(source, *a, **k):
        arrow_read.append(source)
        return real_arrow(source, *a, **k)

    monkeypatch.setattr(DataFrameReader, "parquet", spark_spy)
    monkeypatch.setattr(pq, "read_table", arrow_spy)
    cfg = fixture_config()
    if drop_all:
        cfg = PipelineConfig(
            processors=[{"drop_event": {"when": {"has_fields": ["conv_id"]}}}],
            routes=[{"sink": "s_%{[role]}"}])
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    res = Pipeline(spark, cfg, cat).run(transcripts, run_id="hidden")
    names = [os.path.basename(os.path.normpath(p)) for p in spark_read]
    assert [n for n in names if n.startswith(".")
            or (n.startswith("_") and "=" not in n)] == []
    assert [p for p in spark_read if "_staging_hidden" in p] == []
    staged = [p for p in arrow_read if "_staging_hidden" in p]
    assert [p for p in staged
            if os.path.basename(p).startswith(("_", "."))] == []
    assert ({os.path.basename(os.path.dirname(p)) for p in staged}
            == {f"_sink={s}" for s in res.sinks})
    assert (res.sinks == {}) == drop_all


def test_escaped_sink_names_are_counted_decoded(spark, transcripts, tmp_path):
    """Spark escapes a sink name in its ``_sink=<x>`` staging dir (``:`` is
    ``%3A``); the counts of what landed, and the tables adopted, carry the
    decoded name."""
    cfg = PipelineConfig(routes=[{"sink": "s:%{[role]}"}])
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    res = Pipeline(spark, cfg, cat).run(transcripts, run_id="escaped")
    want = {f"s:{r['role']}": r["count"]
            for r in transcripts.groupBy("role").count().collect()}
    assert res.sinks == want
    assert {s: cat.read(s).count() for s in want} == want


def test_resume_reads_lineage_written_by_spark(spark, transcripts, tmp_path):
    """The done-set of run_incremental reads lineage snapshots with pyarrow,
    whichever writer made them: a snapshot marked done by a Spark-written
    lineage file is skipped."""
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    done = cat.append(transcripts, "transcripts").snapshot_id
    cat.append(spark.createDataFrame(
        [("old", "transcripts", done, 0.0)], COMMIT_DDL[LINEAGE_TABLE]),
        LINEAGE_TABLE, run_id="old")
    pipe = Pipeline(spark, fixture_config(), cat)
    assert pipe.run_incremental("transcripts").skipped
    fresh = cat.append(transcripts.limit(10), "transcripts").snapshot_id
    assert pipe.run_incremental("transcripts").snapshot_ids == [fresh]
    assert pipe.run_incremental("transcripts").skipped


def test_rollback_removes_staging_dir(spark, tmp_path):
    import os
    wh = str(tmp_path / "wh")
    cat = ParquetCatalog(spark, wh)
    staging = os.path.join(wh, "_staging_dead")
    os.makedirs(staging)
    cat.rollback_run("dead")
    assert not os.path.exists(staging)


def test_all_rows_dropped_run_commits_empty(spark, transcripts, tmp_path):
    """drop_event removing every row must still commit metrics + lineage
    (events_dropped == events_in), not crash on schema inference of an
    empty staging dir."""
    cfg = PipelineConfig(
        processors=[{"drop_event": {"when": {"has_fields": ["conv_id"]}}}],
        routes=[{"sink": "s_%{[role]}"}],
    )
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    r = Pipeline(spark, cfg, cat).run(transcripts, run_id="all-dropped")
    assert r.sinks == {}
    assert r.events_in == transcripts.count()
    assert r.events_dropped == r.events_in
    m = cat.read(METRICS_TABLE).filter(F.col("run_id") == "all-dropped")
    agg = m.agg(F.sum("events_in").alias("i"),
                F.sum("events_dropped").alias("d")).collect()[0]
    assert agg["i"] == r.events_in and agg["d"] == r.events_in
    assert cat.incomplete_runs() == set()


def test_run_incremental_rolls_back_crashed_run(spark, transcripts, tmp_path):
    """A run that crashed between sink adoption and its lineage commit must
    be rolled back by the NEXT resume, not double-appended."""
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    cat.append(transcripts, "transcripts")
    pipe = Pipeline(spark, fixture_config(), cat)
    src_snap = cat.snapshots("transcripts")[0].snapshot_id

    real_append = cat.append

    def dying_append(df, table, run_id=None):
        if table == LINEAGE_TABLE:
            raise RuntimeError("crash before lineage commit")
        return real_append(df, table, run_id=run_id)

    cat.append = dying_append
    with pytest.raises(RuntimeError):
        pipe.run(cat.read("transcripts"), run_id="crashed",
                 source_snapshots=[src_snap])
    cat.append = real_append

    r = pipe.run_incremental("transcripts", run_id="retry")
    want = oracle_routes(transcripts.toPandas()).value_counts().to_dict()
    assert r.sinks == want
    # exactly ONE copy in every sink — the crashed run's orphans are gone
    assert {s: cat.read(s).count() for s in want} == want


def test_run_and_run_incremental_without_catalog_raise_value_error(
        spark, transcripts):
    """Both entry points refuse a catalog-less pipeline with the same
    ValueError (an ``assert`` would vanish under ``python -O``)."""
    pipe = Pipeline(spark, fixture_config())
    with pytest.raises(ValueError, match="needs a catalog"):
        pipe.run(transcripts)
    with pytest.raises(ValueError, match="needs a catalog"):
        pipe.run_incremental("transcripts")


def test_run_scans_input_exactly_once(spark, transcripts, tmp_path):
    """The production run() path must read its input ONCE: lineage counters
    ride the staging write via df.observe, not a separate pre-count job.
    Measured directly — an accumulator counts every row that crosses a
    pass-through stage injected at the source; 2x the input means a second
    scan (the r4 read-amplification finding)."""
    rows_seen = spark.sparkContext.accumulator(0)
    schema = transcripts.schema

    def passthrough(it):
        for pdf in it:
            rows_seen.add(len(pdf))
            yield pdf

    src = transcripts.mapInPandas(passthrough, schema)
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    res = Pipeline(spark, fixture_config(), cat).run(src, run_id="onescan")
    n = transcripts.count()
    assert res.events_in == n
    assert rows_seen.value == n, (
        f"input scanned {rows_seen.value / n:.2f}x (expected exactly 1x)"
    )
    # and the metrics table still balances: in == routed + dropped
    m = cat.read(METRICS_TABLE).filter(F.col("run_id") == "onescan").toPandas()
    assert m[m["sink"].isna()]["events_in"].sum() == n
    assert (m[m["sink"].isna()]["events_dropped"].sum()
            + m[m["sink"].notna()]["events_routed"].sum()) == n


def test_events_in_correct_with_plan_time_sampling_stage(spark, transcripts,
                                                         tmp_path):
    """PySpark Observation captures only the FIRST action on its node; a
    schema-less decode_json_fields runs a limit(1) sampling collect DURING
    transform(), which would freeze events_in at the sample job's partial
    count (often 1). run() must detect the consumed observation and fall
    back to a real count (r5 review finding)."""
    src = transcripts.withColumn(
        "raw", F.concat(F.lit('{"k":'), F.col("turn_idx").cast("string"),
                        F.lit("}")))
    cfg = PipelineConfig(
        processors=[
            {"decode_json_fields": {"fields": ["raw"]}},  # no schema → sample
            {"drop_event": {"when": {"equals": {"role": "system"}}}},
        ],
        routes=[{"sink": "s_%{[tool]}"}],
    )
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    res = Pipeline(spark, cfg, cat).run(src, run_id="sampled")
    n = transcripts.count()
    assert res.events_in == n
    assert sum(res.sinks.values()) + res.events_dropped == n


def test_events_in_correct_with_sampling_stage_inside_if(spark, transcripts,
                                                        tmp_path):
    """A sampling stage nested in if/then also marks its chain: run() pays
    the count job and events_in stays exact."""
    src = transcripts.withColumn(
        "raw", F.concat(F.lit('{"k":'), F.col("turn_idx").cast("string"),
                        F.lit("}")))
    cfg = PipelineConfig(
        processors=[
            {"if": {"has_fields": ["raw"]},
             "then": [{"decode_json_fields": {"fields": ["raw"]}}]},
            {"drop_event": {"when": {"equals": {"role": "system"}}}},
        ],
        routes=[{"sink": "s_%{[tool]}"}],
    )
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    res = Pipeline(spark, cfg, cat).run(src, run_id="sampled_if")
    n = transcripts.count()
    assert res.events_in == n
    assert sum(res.sinks.values()) + res.events_dropped == n


def test_run_with_when_on_frame_stages_scans_input_exactly_once(
        spark, transcripts, tmp_path):
    """``when`` on the join, window and mapInPandas stages keeps run() at
    one read of its input (none splits its frame and unions it back), and
    events_in stays exact."""
    from beats_spark.processors.enrich import register_lookup

    register_lookup("once_tools", lambda: spark.createDataFrame(
        [("search", "web")], "tool string, family string"))
    register_lookup("once_geo", lambda: spark.createDataFrame(
        [("10.0.0.0/8", "lan")], "cidr string, zone string"))
    base = transcripts.withColumn("ip", F.concat(
        F.lit("10.0.0."), (F.col("turn_idx") % 250).cast("string")))
    rows_seen = spark.sparkContext.accumulator(0)

    def passthrough(it):
        for pdf in it:
            rows_seen.add(len(pdf))
            yield pdf

    when = {"equals": {"role": "user"}}
    cfg = PipelineConfig(
        processors=[
            {"kv": {"field": "text", "strict": False, "when": when}},
            {"syslog": {"field": "text", "when": when}},
            {"community_id": {"fields": {"source_ip": "ip",
                                         "destination_ip": "ip"},
                              "when": when}},
            {"enrich": {"lookup": "once_tools", "on": "tool",
                        "target": "tool_meta", "when": when}},
            {"enrich_cidr": {"lookup": "once_geo", "on": "ip",
                             "target": "geo", "when": when}},
            {"include_fields": {"fields": ["conv_id", "turn_idx", "role",
                                           "text", "tool", "ip", "kv"],
                                "when": when}},
            {"script": {"fn": lambda pdf: pdf, "when": when}},
            {"rate_limit": {"limit": "2/s", "fields": ["conv_id"],
                            "when": when}},
        ],
        routes=[{"sink": "s_%{[tool]}"}],
    )
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    res = Pipeline(spark, cfg, cat).run(
        base.mapInPandas(passthrough, base.schema), run_id="when_onescan")
    n = transcripts.count()
    assert res.events_in == n
    assert rows_seen.value == n, (
        f"input scanned {rows_seen.value / n:.2f}x (expected exactly 1x)"
    )
    assert sum(res.sinks.values()) + res.events_dropped == n


def test_catalog_read_unknown_snapshot_raises(spark, transcripts, tmp_path):
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    s = cat.append(transcripts, "t")
    with pytest.raises(ValueError, match="unknown snapshot"):
        cat.read("t", [s.snapshot_id, "bogus"])


@pytest.fixture(scope="module")
def layouts(spark, transcripts, tmp_path_factory):
    """The fixture transcripts as one parquet file and as four."""
    root = tmp_path_factory.mktemp("layouts")
    one, four = str(root / "one"), str(root / "four")
    transcripts.coalesce(1).write.parquet(one)
    transcripts.repartition(4).write.parquet(four)
    return one, four


def test_spread_and_unspread_layouts_commit_the_same_run(spark, layouts,
                                                         tmp_path):
    """The same rows as one file (spread over the task slots) and as four
    (not spread) land the same sink rows and commit the same counters,
    per-sink metrics and lineage. Each layout's metrics rows equal its
    landed rows per ``_pid``, which stays the scan partition: one value for
    the one-file source, four for the four-file one."""
    runs = []
    for i, src in enumerate(layouts):
        cat = ParquetCatalog(spark, str(tmp_path / f"wh{i}"))
        res = Pipeline(spark, fixture_config(), cat).run(
            spark.read.parquet(src), run_id="same")
        m = cat.read(METRICS_TABLE).toPandas()
        routed = m[m["sink"].notna()]
        per_pid = dict(zip(zip(routed["sink"], routed["partition_id"]),
                           routed["events_routed"]))
        landed = {(s, r[PID_COL]): r["count"] for s in res.sinks
                  for r in cat.read(s).groupBy(PID_COL).count().collect()}
        assert per_pid == landed
        run_row = m[m["sink"].isna()]
        runs.append({
            "res": (res.sinks, res.events_in, res.events_dropped),
            "rows": {s: cat.read(s).drop(PID_COL)
                     .orderBy("conv_id", "turn_idx").collect()
                     for s in res.sinks},
            "pids": len({p for _, p in per_pid}),
            "run_row": run_row[["partition_id", "events_in",
                                "events_dropped", "events_routed"]]
            .values.tolist(),
            "lineage": cat.read(LINEAGE_TABLE)
            .select("run_id", "source_table", "snapshot_id").collect(),
        })
    one, four = runs
    assert (one["pids"], four["pids"]) == (1, 4)
    for key in ("res", "rows", "run_row", "lineage"):
        assert one[key] == four[key], key


COMMIT_DDL = {
    METRICS_TABLE: "run_id string, partition_id int, sink string, "
                   "events_in long, events_dropped long, events_routed long",
    LINEAGE_TABLE: "run_id string, source_table string, snapshot_id string, "
                   "committed_at double",
}


def test_commit_frames_are_one_file_with_the_ddl_schema(spark, transcripts,
                                                        tmp_path):
    """Every metrics and lineage snapshot a run commits is one parquet file
    with the commit schema; the NULL sink of the run row (partition -1) and
    the NULL snapshot_id of a direct run survive the round trip."""
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    cat.append(transcripts, "transcripts")
    pipe = Pipeline(spark, fixture_config(), cat)
    inc = pipe.run_incremental("transcripts", run_id="inc")
    pipe.run(transcripts, run_id="direct")
    assert cat.incomplete_runs() == set()
    for table, ddl in COMMIT_DDL.items():
        snaps = cat.snapshots(table)
        assert [s.run_id for s in snaps] == ["inc", "direct"]
        for s in snaps:
            assert len(glob.glob(f"{s.path}/*.parquet")) == 1, s.path
        assert cat.read(table).schema == T.DataType.fromDDL(ddl)
    m = cat.read(METRICS_TABLE).filter(F.col("partition_id") == -1).collect()
    assert sorted(r["run_id"] for r in m) == ["direct", "inc"]
    assert all(r["sink"] is None for r in m)
    lineage = {r["run_id"]: r["snapshot_id"]
               for r in cat.read(LINEAGE_TABLE).collect()}
    assert lineage == {"inc": inc.snapshot_ids[0], "direct": None}
