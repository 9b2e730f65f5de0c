"""bench.py: every timed item is materialized through the noop sink (never
``count()``), the final line round-trips through ``json.loads`` with the
keys its readers parse, and the harness reads exactly two
environment variables."""

import json
import re
import types
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame, DataFrameWriter

import bench
from beats_spark.testdata import transcripts_from_events

WORDS = "spark scan join merge table window batch stream filter query".split()


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    """A tiny sf dir shaped like the test data: events, documents and
    embeddings."""
    d = tmp_path_factory.mktemp("sf")
    n = 300
    t0 = datetime(2024, 1, 1)
    pq.write_table(pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([t0 + timedelta(seconds=7 * i) for i in range(n)],
                       pa.timestamp("us")),
        "user_id": pa.array([i % 11 for i in range(n)], pa.int64()),
        "event_type": [("click", "view", "purchase", "error", "signup")[i % 5]
                       for i in range(n)],
        "value": [round(i * 1.37 % 200, 2) for i in range(n)],
        "props": [f'{{"k": {i % 90}}}' for i in range(n)],
    }), d / "events.parquet")
    texts = [" ".join(WORDS[(i * j + j) % len(WORDS)] for j in range(12 + i % 5))
             for i in range(60)]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(60), pa.int64()),
        "text": texts,
        "lang": [("en", "de")[i % 2] for i in range(60)],
        "source": [f"src{i % 3}" for i in range(60)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), d / "documents.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(40), pa.int64()),
        "embedding": pa.array([[float((i * 7 + j * 3) % 11 - 5) for j in range(8)]
                               for i in range(40)], pa.list_(pa.float32())),
        "label": pa.array([i % 4 for i in range(40)], pa.int32()),
    }), d / "embeddings.parquet")
    return str(d)


@pytest.fixture
def writer_formats(monkeypatch):
    """The formats every DataFrameWriter is given; ``count()`` raises."""
    seen = []
    real_format = DataFrameWriter.format

    def spy(self, source):
        seen.append(source)
        return real_format(self, source)

    def no_count(self):
        raise AssertionError("timed through count()")

    monkeypatch.setattr(DataFrameWriter, "format", spy)
    monkeypatch.setattr(DataFrame, "count", no_count)
    return seen


def test_timed_runs_warmup_then_reps_and_reports_the_median(monkeypatch):
    clock = iter([0.0, 1.0, 10.0, 15.0, 20.0, 22.0])  # reps of 1, 5 and 2 s
    monkeypatch.setattr(bench, "time",
                        types.SimpleNamespace(perf_counter=lambda: next(clock)))
    calls = []
    sec, out = bench.timed(lambda: calls.append(1) or len(calls))
    assert (bench.WARMUPS, bench.REPS) == (1, 3)
    assert len(calls) == 4 and out == 4
    assert sec == 2.0


def test_timed_writes_a_dataframe_to_noop(spark, writer_formats):
    sec, _ = bench.timed(lambda: spark.range(5))
    assert sec >= 0
    assert writer_formats == ["noop"] * (bench.WARMUPS + bench.REPS)


def test_every_headline_query_times_through_noop(spark, sf_dir, writer_formats,
                                                 monkeypatch):
    """Each of the 15 plans is built and handed to a noop write; the write
    itself is skipped (``timed`` runs a real one above) to keep this fast."""
    saved = []
    monkeypatch.setattr(DataFrameWriter, "save", lambda self: saved.append(1))
    monkeypatch.setattr(bench, "WARMUPS", 0)
    monkeypatch.setattr(bench, "REPS", 1)
    times = bench.headline(spark, sf_dir)
    assert list(times) == bench.HEADLINE and len(times) == 15
    assert all(isinstance(t, float) and t >= 0 for t in times.values())
    assert writer_formats == ["noop"] * 15 and len(saved) == 15


def test_e2e_run_commits_into_a_throwaway_catalog(spark, sf_dir):
    res = bench.e2e_run(spark, transcripts_from_events(spark, sf_dir))
    assert res.events_in == 300
    assert 0 < sum(res.sinks.values()) == res.events_in - res.events_dropped


def test_final_line_round_trips_with_the_kept_keys(monkeypatch):
    def fake_worker(cmd, **kw):
        cores = int(cmd[cmd.index("--worker") + 1])
        sec = 8.0 / cores
        line = json.dumps({"cores": cores, "sec": sec,
                           "throughput": bench.SCALING_TURNS / sec})
        return types.SimpleNamespace(stdout="noise\n" + line + "\n")

    monkeypatch.setattr(bench, "CPUS", 4)
    monkeypatch.setattr(bench.subprocess, "run", fake_worker)
    scale = bench.scaling("unused")
    got = json.loads(bench.final_line({"dissect_parse": 0.5}, 3.0, 1234, "0.1",
                                      "nproc 4", scale))
    assert set(got) == {"metric", "value", "unit", "queries", "sf", "e2e_rows",
                        "throughput_turns_per_sec", "host", "scaling"}
    assert (got["value"], got["sf"], got["e2e_rows"], got["host"]) == (
        3.0, 0.1, 1234, "nproc 4")
    assert got["queries"] == {"dissect_parse": 0.5, "pipeline_e2e_fanout": 3.0}
    sc = got["scaling"]
    assert {"cores_n", "cores_4n", "turns", "sec_n", "sec_4n", "throughput_n",
            "throughput_4n", "efficiency"} <= set(sc)
    assert (sc["cores_n"], sc["cores_4n"], sc["efficiency"]) == (1, 4, 1.0)
    assert sorted(sc["levels"], key=int) == ["1", "2", "4"]
    assert got["throughput_turns_per_sec"] == sc["throughput_4n"]


def test_bench_reads_only_two_env_vars():
    with open(bench.__file__) as f:
        src = f.read()
    assert re.findall(r'os\.environ\.get\("(\w+)"', src) == [
        "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS"]
    assert src.count("environ") == 2 and "getenv" not in src
