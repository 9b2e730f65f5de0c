"""Self-tests of the benchmark's own machinery. Run with
``python -m pytest perfbench/tests -q``; no Spark session is started."""

from __future__ import annotations

import filecmp
import os
import re

import pytest

import check
import eventlog
import gen
from spans import Span, self_times

HERE = os.path.dirname(os.path.abspath(__file__))


def _files(path):
    return sorted(os.listdir(path))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for d in ("a", "b"):
        gen.write_transcripts(str(tmp_path / d / "t"), seed=7, n=3_000, files=3)
        gen.write_corpus(str(tmp_path / d / "c"), seed=7, mult=2, files=2)
    for sub in ("t", "c/documents", "c/embeddings"):
        a, b = tmp_path / "a" / sub, tmp_path / "b" / sub
        assert _files(a) == _files(b)
        match, mismatch, errors = filecmp.cmpfiles(a, b, _files(a), shallow=False)
        assert not mismatch and not errors


_WELL_FORMED = re.compile(
    r'level=\S+ caller=\S+ msg="[^"]*" latency_ms=\d+'
    r"|src=[0-9.]+ user=\S+ action=\S+ status=\S+"
    r'|[0-9.]+ - \S+ \[[^\]]*\] "\w+ \S+ HTTP/[0-9.]+" \d+ \d+ "[^"]*" "[^"]*"')


def _shares(t):
    rows = t.to_pylist()
    n = len(rows)
    return {
        "system": sum(r["role"] == "system" for r in rows) / n,
        "malformed": sum(not _WELL_FORMED.fullmatch(r["text"]) for r in rows) / n,
        "unknown_tool": sum(r["tool"] == "mcp-custom" for r in rows) / n,
        "hot": sum(r["conv_id"] == "conv-000000" for r in rows) / n,
    }


def test_other_seed_gives_other_rows_with_the_same_shares():
    a, b = gen.transcripts(1, 20_000), gen.transcripts(2, 20_000)
    assert a.column("text").to_pylist() != b.column("text").to_pylist()
    want = {"system": gen.SYSTEM_SHARE, "malformed": gen.MALFORMED_SHARE,
            "unknown_tool": gen.UNKNOWN_TOOL_SHARE, "hot": gen.HOT_SHARE}
    sa, sb = _shares(a), _shares(b)
    for k, share in want.items():
        # binomial standard error at n=20k is below 0.004 for every share
        assert sa[k] == pytest.approx(share, abs=0.012), k
        assert sb[k] == pytest.approx(share, abs=0.012), k


def test_corpus_has_the_shape_of_sf01():
    docs, vecs = {}, {}
    for seed in (1, 2):
        d, e = gen.corpus(seed, 1)
        docs[seed], vecs[seed] = d.column("text").to_pylist(), e.column("embedding").to_pylist()
        lens = [len(t.split()) for t in docs[seed] if not t.endswith(" " + gen.DUP_TOKEN)]
        assert (min(lens), max(lens)) == gen.DOC_TOKENS
        assert {w for t in docs[seed] for w in t.split()} == set(gen.VOCAB) | {gen.DUP_TOKEN}
        dups = sum(t.endswith(" " + gen.DUP_TOKEN) for t in docs[seed]) / gen.N_DOCS
        assert dups == pytest.approx(gen.DUP_SHARE, abs=0.01)
        assert {len(v) for v in vecs[seed]} == {gen.DIM}
        assert sum(x * x for x in vecs[seed][0]) == pytest.approx(1.0, abs=1e-5)
    assert docs[1] != docs[2] and vecs[1] != vecs[2]


def test_self_time_subtracts_the_union_of_child_intervals():
    spans = [
        Span(0, None, "root", 0, 0.0, 10.0),
        Span(1, 0, "a", 0, 1.0, 4.0),
        Span(2, 0, "b", 0, 3.0, 5.0),     # overlaps a: counted once
        Span(3, 0, "c", 0, 9.0, 12.0),    # runs past the parent: clipped
        Span(4, 1, "a.x", 0, 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 - 1.0) - (10.0 - 9.0))
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[4] == pytest.approx(0.5)


def test_event_log_reader_on_a_recorded_log():
    log = eventlog.read(os.path.join(HERE, "data", "tiny_eventlog.json"))
    assert [(j.id, j.description, j.execution_id, j.stages) for j in log.jobs] == [
        (0, "phase.a#3", 0, [0]), (1, "phase.a#3", 0, [1, 2]), (2, None, 1, [3])]
    # stage 1 was skipped (its shuffle output was reused): no tasks, no entry
    assert sorted(log.stages) == [0, 2, 3]
    agg = eventlog.totals(log, log.jobs[:2])
    assert agg["tasks"] == 3
    assert agg["executor_run_s"] == pytest.approx(0.229 + 0.229 + 0.095)
    assert agg["executor_cpu_s"] == pytest.approx((159848504 + 60675552 + 75446595) / 1e9)
    assert agg["gc_s"] == pytest.approx(0.026)
    assert agg["shuffle_write_bytes"] == 364
    assert agg["task_skew"] == pytest.approx(1.0)
    write = eventlog.totals(log, log.jobs[2:])
    assert write["output_bytes"] == 998
    assert write["task_skew"] == pytest.approx(0.601 / ((0.601 + 0.587) / 2))
    assert "InsertIntoHadoopFsRelationCommand" in log.plans[1]


def test_scan_count_reads_scan_detail_blocks():
    plan = ("== Physical Plan ==\n* Project (2)\n+- Scan parquet  (1)\n\n\n"
            "(1) Scan parquet \nOutput [1]: [a#1]\n"
            "Location: InMemoryFileIndex [file:/w/transcripts/data/0001]\n\n"
            "(2) Project [codegen id : 1]\nInput [1]: [a#1]\n")
    assert eventlog.scans(plan, "/transcripts/data/") == 1
    assert eventlog.scans(plan, "/lineage/") == 0
    # an adaptive plan also lists its initial plan, whose scan node may carry
    # another id: only the plan that ran counts
    adaptive = plan.replace(
        "+- Scan parquet  (1)\n",
        "+- Scan parquet  (1)\n+- == Initial Plan ==\n   Scan parquet  (3)\n"
    ) + "\n(3) Scan parquet \nLocation: InMemoryFileIndex [file:/w/transcripts/data/0001]\n"
    assert eventlog.scans(adaptive, "/transcripts/data/") == 1


def test_xxh64_matches_the_reference_vectors():
    # published XXH64 test vectors, returned as signed 64-bit values
    def signed(x):
        return x - (1 << 64) if x >> 63 else x
    assert check.xxh64(b"", 0) == signed(0xEF46DB3751D8E999)
    assert check.xxh64(b"a", 0) == signed(0xD24EC4F1A98C6E5B)
    assert check.xxh64(b"abc", 0) == signed(0x44BC2CF5AD770999)


def test_plan_health_counts_the_plan_that_ran():
    plan = ("== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- == Current Plan ==\n"
            "   Execute InsertIntoHadoopFsRelationCommand (6)\n"
            "   +- * BroadcastHashJoin LeftOuter BuildRight (5)\n"
            "      :- ArrowEvalPython (2)\n      :  +- Scan parquet  (1)\n"
            "      +- BroadcastQueryStage (4)\n         +- BroadcastExchange (3)\n"
            "+- == Initial Plan ==\n   Execute InsertIntoHadoopFsRelationCommand (8)\n"
            "   +- BroadcastHashJoin LeftOuter BuildRight (7)\n"
            "      :- ArrowEvalPython (2)\n\n\n"
            "(5) BroadcastHashJoin [codegen id : 2]\n\n(3) BroadcastExchange\n")
    assert eventlog.plan_health(plan) == {
        "codegen_stages": 1, "python_nodes": 1, "broadcast_joins": 1, "exchanges": 0}
