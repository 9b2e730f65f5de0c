"""CLI (package/ingest/run) + streaming runner tests."""

import json
import subprocess
import sys
import time

import pytest
from pyspark.sql import functions as F

from beats_spark.catalog import ParquetCatalog
from beats_spark.pipeline import Pipeline, fixture_config
from beats_spark.streaming.runner import run_stream, windowed_counts
from beats_spark.testdata import synthesize_transcripts


def test_cli_end_to_end(spark, tmp_path):
    """package → ingest → run → resume-noop, via the argparse entry (in
    subprocess for package; in-process for spark commands to reuse the JVM)."""
    from beats_spark import cli

    out = subprocess.run(
        [sys.executable, "-m", "beats_spark.cli", "package",
         "--out", str(tmp_path / "bs.zip")],
        capture_output=True, text=True, cwd="/root/repo",
    )
    assert out.returncode == 0 and out.stdout.strip().endswith("bs.zip")

    src = tmp_path / "in"
    synthesize_transcripts(spark, 2000, 50).write.parquet(str(src))
    wh = str(tmp_path / "wh")
    cfgp = tmp_path / "cfg.json"
    from dataclasses import asdict
    cfg = fixture_config()
    cfgp.write_text(json.dumps({
        "processors": cfg.processors, "output": {"routes": cfg.routes},
    }))

    import io
    from contextlib import redirect_stdout

    def run_cli(*argv):
        buf = io.StringIO()
        with redirect_stdout(buf):
            cli.main(list(argv))
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    r = run_cli("ingest", "--input", str(src), "--warehouse", wh)
    assert r["rows"] == 2000
    r = run_cli("run", "--config", str(cfgp), "--warehouse", wh,
                "--run-id", "cli1")
    assert r["events_in"] == 2000 and not r["skipped"]
    assert sum(r["sinks"].values()) == 2000 - r["events_dropped"]
    r2 = run_cli("run", "--config", str(cfgp), "--warehouse", wh)
    assert r2["skipped"]


def test_streaming_foreachbatch_fanout(spark, tmp_path):
    """availableNow stream over parquet → identical fan-out as batch."""
    src = tmp_path / "stream_in"
    tdf = synthesize_transcripts(spark, 3000, 60)
    tdf.write.parquet(str(src))
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, fixture_config(), cat)

    stream = spark.readStream.schema(
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    ).parquet(str(src))
    q = run_stream(pipe, stream, checkpoint=str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    want = pipe.transform(tdf).groupBy("_sink").count().collect()
    for r in want:
        assert cat.read(r["_sink"]).count() == r["count"]
    # metrics landed with stream run ids
    m = cat.read("pipeline_metrics").toPandas()
    assert m["run_id"].str.startswith("stream-").all()


def test_streaming_windowed_counts_and_dedup(spark, tmp_path):
    tdf = synthesize_transcripts(spark, 1000, 20)
    routed = Pipeline(spark, fixture_config()).transform(tdf)
    # batch execution of the streaming aggregation plan (same expressions)
    wc = windowed_counts(routed).toPandas()
    assert (wc["events_routed"] > 0).all()
    assert wc.groupby("_sink")["events_routed"].sum().sum() == routed.count()


def test_streaming_replay_after_partial_commit_is_exactly_once(spark, tmp_path):
    """A micro-batch that crashed between sink adoption and the lineage
    commit must not double-append when foreachBatch replays it: the handler
    rolls the partial run back first."""
    from beats_spark.pipeline import LINEAGE_TABLE

    tdf = synthesize_transcripts(spark, 500, 10)
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, fixture_config(), cat)

    # simulate the crashed first attempt of batch 0: sinks committed,
    # lineage commit lost. Run ids are scoped by checkpoint identity.
    import hashlib as _hl
    ckpt = str(tmp_path / "ckpt")
    rid0 = f"stream-{_hl.sha256(ckpt.encode()).hexdigest()[:8]}-00000000"
    real_append = cat.append

    def dying_append(df, table, run_id=None):
        if table == LINEAGE_TABLE:
            raise RuntimeError("crash before lineage commit")
        return real_append(df, table, run_id=run_id)

    cat.append = dying_append
    with pytest.raises(RuntimeError):
        pipe.run(tdf, run_id=rid0,
                 source_snapshots=[rid0], source_table="_stream")
    cat.append = real_append
    orphans = sum(cat.read(s).count() for s in cat.tables()
                  if s.startswith("sink_"))
    assert orphans > 0  # partial data exists

    # replay: a fresh checkpointed stream over the same rows reuses batch
    # id 0 -> run_id stream-00000000; the handler must roll back the
    # partial attempt, leaving exactly one copy
    src_dir = tmp_path / "src"
    tdf.write.parquet(str(src_dir))
    sdf = spark.readStream.schema(tdf.schema).parquet(str(src_dir))
    q = run_stream(pipe, sdf, checkpoint=ckpt)
    q.awaitTermination(120)

    want = pipe.transform(tdf).groupBy("_sink").count().collect()
    for r in want:
        assert cat.read(r["_sink"]).count() == r["count"], r["_sink"]


def test_streaming_soak_crash_restart_exactly_once(spark, tmp_path):
    """Soak: four micro-batches driven one file at a time, a crash induced
    mid-stream AFTER sink adoption but BEFORE the lineage commit of batch
    2, then a restart on the same checkpoint and a late fourth batch. The
    replayed batch must roll back its partial attempt; every sink count
    must equal the one-shot batch transform at the end — exactly-once
    across crash + restart + resume."""
    from beats_spark.pipeline import LINEAGE_TABLE

    chunks = [synthesize_transcripts(spark, n, k)
              for n, k in ((400, 8), (500, 10), (300, 6))]
    src = tmp_path / "src"
    for c in chunks:
        c.coalesce(1).write.mode("append").parquet(str(src))

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    pipe = Pipeline(spark, fixture_config(), cat)
    ckpt = str(tmp_path / "ckpt")

    def stream_df():
        return (spark.readStream.schema(chunks[0].schema)
                .option("maxFilesPerTrigger", 1).parquet(str(src)))

    # crash exactly once, on the THIRD batch's lineage commit (the sinks
    # for that batch are already adopted at that point)
    lineage_appends = [0]
    real_append = cat.append

    def dying_append(df, table, run_id=None):
        if table == LINEAGE_TABLE:
            lineage_appends[0] += 1
            if lineage_appends[0] == 3:
                raise RuntimeError("induced crash before lineage commit")
        return real_append(df, table, run_id=run_id)

    cat.append = dying_append
    q = run_stream(pipe, stream_df(), checkpoint=ckpt)
    with pytest.raises(Exception):
        q.awaitTermination(180)
        if q.exception() is not None:
            raise RuntimeError(q.exception().desc)
    cat.append = real_append

    # two batches committed, one partial
    committed = {r["run_id"] for r in cat.read(LINEAGE_TABLE)
                 .select("run_id").distinct().collect()}
    assert len(committed) == 2

    # restart on the same checkpoint: batch 2 replays (rollback + rerun)
    q = run_stream(pipe, stream_df(), checkpoint=ckpt)
    q.awaitTermination(180)
    assert q.exception() is None

    # late fourth chunk, third stream run on the same checkpoint
    late = synthesize_transcripts(spark, 450, 9)
    late.coalesce(1).write.mode("append").parquet(str(src))
    q = run_stream(pipe, stream_df(), checkpoint=ckpt)
    q.awaitTermination(180)
    assert q.exception() is None

    all_rows = chunks[0]
    for c in chunks[1:] + [late]:
        all_rows = all_rows.unionByName(c)
    want = pipe.transform(all_rows).groupBy("_sink").count().collect()
    assert want, "fixture config routed nothing"
    for r in want:
        assert cat.read(r["_sink"]).count() == r["count"], r["_sink"]

    # one lineage run per micro-batch, all scoped to this checkpoint
    runs = sorted(r["run_id"] for r in cat.read(LINEAGE_TABLE)
                  .select("run_id").distinct().collect())
    assert len(runs) == 4
    assert all(r.startswith("stream-") for r in runs)


def test_streaming_batches_scan_input_once(spark, tmp_path):
    """Every micro-batch inherits the single-pass lineage fix: the batch
    frame is read exactly once per run() (observe counters ride the
    staging write), measured with an accumulator-instrumented
    pass-through injected between the stream source and run()."""
    src = tmp_path / "stream_in1"
    tdf = synthesize_transcripts(spark, 2000, 40)
    tdf.write.parquet(str(src))
    cat = ParquetCatalog(spark, str(tmp_path / "wh1"))
    rows_seen = spark.sparkContext.accumulator(0)

    class CountingPipeline(Pipeline):
        def run(self, df, **kw):
            schema = df.schema

            def passthrough(it):
                for pdf in it:
                    rows_seen.add(len(pdf))
                    yield pdf

            return super().run(df.mapInPandas(passthrough, schema), **kw)

    pipe = CountingPipeline(spark, fixture_config(), cat)
    stream = spark.readStream.schema(tdf.schema).parquet(str(src))
    q = run_stream(pipe, stream, checkpoint=str(tmp_path / "ckpt1"))
    q.awaitTermination(120)

    n = tdf.count()
    m = cat.read("pipeline_metrics").toPandas()
    assert m[m["sink"].isna()]["events_in"].sum() == n
    assert rows_seen.value == n, (
        f"stream input scanned {rows_seen.value / n:.2f}x across batches "
        "(expected exactly 1x)"
    )
