"""Plan-quality regression tests: the physical plans we'd want at 100 TB.

These pin the Catalyst properties the scale story depends on:
- predicate pushdown + column pruning reach the parquet scan,
- enrich compiles to a broadcast hash join (map-side, no shuffle of facts),
- dissect, in every configuration, and fingerprint, for every method and
  encoding, keep the pipeline out of Python,
- the condition language compiles into ONE filter (pushable),
- salted repartition spreads the hot conversation,
- a scan that would leave task slots idle gets one round-robin exchange,
  and no other input does,
- the user_agent stage and the chains that carry it compile inside
  whole-stage codegen (a fallback to the interpreter fails the test),
- the IP-address stages keep a small analyzed plan.
"""

import glob
import os
import re

import pytest
from pyspark.sql import DataFrameWriter, functions as F

from beats_spark.catalog import ParquetCatalog
from beats_spark.pipeline import Pipeline, PipelineConfig, fixture_config
from beats_spark.testdata import synthesize_transcripts, tools_lookup_df

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def tdir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("plans") / "transcripts"
    synthesize_transcripts(spark, 20_000, 200).write.parquet(str(d))
    return str(d)


def test_filter_pushdown_and_pruning(spark, tdir):
    df = (
        spark.read.parquet(tdir)
        .filter(F.col("role") == "user")
        .select("conv_id", "text")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(role), EqualTo(role,user)]" in plan
    # pruned read schema: only the needed columns reach the scan
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" in read_schema and "conv_id" in read_schema
    assert "latency" not in read_schema and "ts" not in read_schema


def test_conditions_compile_to_pushable_filter(spark, tdir):
    from beats_spark.conditions import compile_condition

    df = spark.read.parquet(tdir)
    cond = compile_condition(df, {
        "and": [{"equals": {"role": "user"}},
                {"range": {"turn_idx": {"gte": 1, "lt": 50}}}]
    })
    plan = plan_of(df.filter(cond).select("conv_id"))
    # all three conjuncts reached the parquet scan as pushed filters
    assert "EqualTo(role,user)" in plan
    assert "GreaterThanOrEqual(turn_idx,1)" in plan
    # plan toString elides long filter lists ("LessTh...") — prefix is enough
    assert "LessTh" in plan


def test_enrich_is_broadcast_join(spark, tdir):
    from beats_spark.processors import build_stage
    from beats_spark.processors.enrich import register_lookup

    register_lookup("tools", lambda: tools_lookup_df(spark))
    df = spark.read.parquet(tdir)
    out = build_stage("enrich", {"lookup": "tools", "on": "tool",
                                 "target": "tool_meta"}).apply(df)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_jvm_pipeline_has_no_python(spark, tdir):
    pipe = Pipeline(spark, fixture_config())
    out = pipe.transform(spark.read.parquet(tdir))
    plan = plan_of(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "*(1)" in plan  # the WholeStageCodegen stage marker


@pytest.mark.parametrize("tokenizer,extra", [
    ("%{a} %{b}", {}),
    ("%{a} %{b->} %{+c/2} %{+c/1} %{d#2}", {}),
    ("%{a},%{b}", {"trim_values": "all", "trim_chars": " []"}),
    ("%{ip|ip} %{rest}", {}),
    ("%{b|boolean} %{rest}", {}),
    ("%{?k}=%{&k}", {}),
], ids=["static", "append_ordinal", "trim", "ip", "boolean", "dynamic"])
def test_dissect_plan_has_no_python(spark, tdir, tokenizer, extra):
    _assert_stage_has_no_python(spark, tdir, "dissect", {
        "tokenizer": tokenizer, "field": "text", "target_prefix": "p",
        "ignore_failure": True, **extra,
    })


@pytest.mark.parametrize("encoding", ["hex", "base32", "base64"])
@pytest.mark.parametrize("method", ["md5", "sha1", "sha256", "sha384",
                                    "sha512", "xxhash"])
def test_fingerprint_plan_has_no_python(spark, tdir, method, encoding):
    _assert_stage_has_no_python(spark, tdir, "fingerprint", {
        "fields": ["conv_id", "turn_idx", "text"], "method": method,
        "encoding": encoding,
    })


def _assert_stage_has_no_python(spark, tdir, processor, config) -> None:
    from beats_spark.processors import build_stage

    st = build_stage(processor, config)
    plan = plan_of(st.apply(spark.read.parquet(tdir)))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


@pytest.fixture
def no_codegen_fallback(spark):
    """Make a whole-stage codegen compile failure raise instead of silently
    running the plan in the interpreter."""
    key = "spark.sql.codegen.fallback"
    old = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    yield
    spark.conf.set(key, old)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_user_agent_stays_in_codegen(spark, no_codegen_fallback):
    from beats_spark.processors import apply_chain, build_chain
    from test_ua_cidr import UA_CORPUS

    df = spark.createDataFrame([(r[0],) for r in UA_CORPUS], "ua string")
    _noop(apply_chain(df, build_chain([{"user_agent": {"field": "ua"}}])))


def test_benchmark_shaped_chain_stays_in_codegen(spark, no_codegen_fallback):
    """dissect logfmt, dissect with an ``|ip`` key, grok on an access line,
    user_agent and kv, over one line of each format."""
    from beats_spark.processors import apply_chain, build_chain

    lines = [
        'level=info caller=a.py:1 msg="ok" latency_ms=12',
        "src=10.0.0.1 user=bob action=read status=ok",
        '10.0.0.2 - bob [11/Mar/2025:14:22:05 +0000] "GET / HTTP/1.1" 200 5 '
        '"-" "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 '
        '(KHTML, like Gecko) Chrome/70.0.3538.102 Safari/537.36"',
    ]
    access = ('%{IP:client_ip} - %{NOTSPACE:user} \\[%{DATA:time}\\] '
              '"%{WORD:method} %{NOTSPACE:path} HTTP/%{NUMBER:version}" '
              '%{INT:status:int} %{INT:bytes:int} "%{DATA:referrer}" '
              '"%{DATA:ua}"')
    chain = build_chain([
        {"dissect": {"tokenizer": 'level=%{level} caller=%{caller} '
                                  'msg="%{msg}" latency_ms=%{latency|integer}',
                     "field": "text", "target_prefix": "parsed",
                     "ignore_failure": True,
                     "when": {"contains": {"text": "level="}}}},
        {"dissect": {"tokenizer": "src=%{ip|ip} user=%{user} "
                                  "action=%{action} status=%{status}",
                     "field": "text", "target_prefix": "source",
                     "ignore_failure": True,
                     "when": {"contains": {"text": "src="}}}},
        {"grok": {"field": "text", "pattern": access, "target_prefix": "http",
                  "when": {"contains": {"text": "HTTP/"}}}},
        {"user_agent": {"field": "http.ua", "ignore_missing": True}},
        {"kv": {"field": "text", "target": "kv", "strict": False,
                "include_keys": ["src", "user", "action", "status"]}},
    ])
    df = spark.createDataFrame([(x,) for x in lines], "text string")
    _noop(apply_chain(df, chain))


def _module_chain(spark, name: str):
    """The golden module port ``name`` applied to its fixture lines."""
    import datetime as dt
    import importlib

    from beats_spark.processors import apply_chain
    from beats_spark.processors.enrich import register_lookup

    m = importlib.import_module(f"test_module_{name}")
    ts = dt.datetime(2025, 6, 1)
    if name in ("nginx", "apache"):
        register_lookup(f"{name}_geo", lambda: spark.createDataFrame(
            m.GEO_DIM_ROWS, m.GEO_DIM_SCHEMA))
        df = spark.createDataFrame([(x, ts) for x in m.LINES],
                                   "message string, ts timestamp")
        return apply_chain(df, getattr(m, f"{name}_access_stages")())
    if name == "syslog":
        df = spark.createDataFrame([(x, ts) for x in m.LINES],
                                   "message string, ts timestamp")
        return apply_chain(df, m.syslog_stages())
    if name == "auditd":
        df = spark.createDataFrame([(x,) for x in m.LINES], "message string")
        return apply_chain(df, m.auditd_stages())
    lines = m.RAW_LINES if name == "mysql" else m.TEXT + m.CSV
    df = spark.createDataFrame([("f1", i, x) for i, x in enumerate(lines)],
                               "file string, line_no int, message string")
    if name == "postgresql":
        return apply_chain(df, m.pg_stages())
    stages = m.mysql_slowlog_stages()
    out = apply_chain(df, stages[:1])  # multiline join, then excludes
    for rx in m.EXCLUDE:
        out = out.filter(~F.coalesce(F.col("message").rlike(rx), F.lit(False)))
    return apply_chain(out, stages[1:])


@pytest.mark.parametrize("name", ["nginx", "apache", "syslog", "mysql",
                                  "auditd", "postgresql"])
def test_module_chain_stays_in_codegen(spark, no_codegen_fallback, name):
    """Every golden module port compiles inside whole-stage codegen; the
    apache one shares a method between a four-pattern grok and user_agent."""
    _noop(_module_chain(spark, name))


@pytest.mark.parametrize("stage", [
    {"network": {"ip": "private"}},
    {"add_network_direction": {"source": "ip", "destination": "ip2"}},
])
def test_ip_stages_keep_a_small_analyzed_plan(spark, stage):
    """The IP address is parsed once per use (bound by a one-element
    transform), not re-inlined per compared word: the analyzed plan of a
    ``network: private`` condition and of ``add_network_direction`` stays
    under 50 k characters (was 183 k and 1.1 M)."""
    from beats_spark.conditions import compile_condition
    from beats_spark.processors import apply_chain, build_chain

    df = spark.createDataFrame([("10.1.2.3", "2001:db8::1")],
                               "ip string, ip2 string")
    if "network" in stage:
        out = df.withColumn("m", compile_condition(df, stage))
    else:
        out = apply_chain(df, build_chain([stage]))
    assert len(out._jdf.queryExecution().analyzed().toString()) < 50_000


def test_salting_spreads_hot_conversation(spark, tdir):
    """20% of rows share conv-000000; salted repartition must spread them
    across many partitions (the skew story for hot conv_ids)."""
    cfg = PipelineConfig(processors=[], routes=[{"sink": "x"}],
                         salt_column="conv_id", salt_buckets=16,
                         repartition=16)
    pipe = Pipeline(spark, cfg)
    out = pipe.transform(spark.read.parquet(tdir))
    dist = (
        out.filter(F.col("conv_id") == "conv-000000")
        .withColumn("p", F.spark_partition_id())
        .groupBy("p").count().collect()
    )
    assert len(dist) >= 8  # hot key occupies many partitions, not one
    counts = [r["count"] for r in dist]
    assert max(counts) < sum(counts) * 0.5


def test_unsalted_hot_key_is_skewed(spark, tdir):
    """Control: plain repartition BY conv_id alone lands the hot key in ONE
    partition — the failure mode salting exists to fix."""
    df = spark.read.parquet(tdir).repartition(16, F.col("conv_id"))
    dist = (
        df.filter(F.col("conv_id") == "conv-000000")
        .withColumn("p", F.spark_partition_id())
        .groupBy("p").count().collect()
    )
    assert len(dist) == 1


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    """The same 4 000 turns as one parquet file and as four."""
    df = synthesize_transcripts(spark, 4_000, 40)
    root = tmp_path_factory.mktemp("layouts")
    one, four = str(root / "one"), str(root / "four")
    df.coalesce(1).write.parquet(one)
    df.repartition(4).write.parquet(four)
    assert [len(glob.glob(f"{d}/*.parquet")) for d in (one, four)] == [1, 4]
    return one, four


def _staging_run(spark, monkeypatch, tmp_path, cfg, src):
    """Run ``cfg`` on ``src``; return the exchanges in the executed plan of
    the frame the staging write wrote, that plan, and the task (partition)
    numbers in the names of the files the write left in the sinks."""
    plans = []
    real = DataFrameWriter.parquet

    def spy(self, path, *a, **k):
        if "_staging_" in path:
            plans.append(plan_of(self._df))
        return real(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    wh = tmp_path / "wh"
    res = Pipeline(spark, cfg, ParquetCatalog(spark, str(wh))).run(src)
    tasks = {int(os.path.basename(f)[5:10])
             for s in res.sinks
             for f in glob.glob(f"{wh}/{s}/data/*/part-*.parquet")}
    [plan] = plans
    return re.findall(r"\bExchange (\w+)", plan), plan, tasks


def test_narrow_scan_is_spread_over_task_slots(spark, layouts, monkeypatch,
                                               tmp_path):
    """A one-file source is one scan task; the staging write deals its rows
    round-robin over every slot with one exchange and runs one task per
    slot."""
    slots = spark.sparkContext.defaultParallelism
    exchanges, plan, tasks = _staging_run(spark, monkeypatch, tmp_path,
                                          fixture_config(),
                                          spark.read.parquet(layouts[0]))
    assert exchanges == ["RoundRobinPartitioning"]
    assert f"RoundRobinPartitioning({slots})" in plan
    assert tasks == set(range(slots))


@pytest.mark.parametrize("case", ["four_files", "salted", "repartition",
                                  "create_data_frame"])
def test_spread_only_when_scan_leaves_slots_idle(spark, layouts, monkeypatch,
                                                 tmp_path, case):
    """No spread for a source of at least ``defaultParallelism`` files, for
    a config that repartitions already, or for a frame with no input
    files."""
    cfg = fixture_config()
    src = spark.read.parquet(layouts[0])
    want = []
    if case == "four_files":
        src = spark.read.parquet(layouts[1])
    elif case == "salted":
        cfg.salt_column, cfg.salt_buckets = "conv_id", 4
        want = ["hashpartitioning"]
    elif case == "repartition":
        cfg.repartition = 3
        want = ["RoundRobinPartitioning"]
    else:
        src = spark.createDataFrame(src.collect(), src.schema)
    exchanges, plan, _ = _staging_run(spark, monkeypatch, tmp_path, cfg, src)
    assert exchanges == want
    if case == "repartition":
        assert "RoundRobinPartitioning(3)" in plan


def test_topk_is_take_ordered(spark):
    """cosine_topk's orderBy().limit(k) must compile to TakeOrderedAndProject
    (per-partition heaps), never a global Sort."""
    from beats_spark.ml.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = [0.1] * 64
    plan = plan_of(cosine_topk(emb, q, k=5))
    assert "TakeOrderedAndProject" in plan


def test_syslog_is_pure_jvm(spark):
    from beats_spark.processors import apply_chain, build_chain

    df = spark.createDataFrame(
        [("<34>Oct 11 22:14:15 h su[1]: m",)], "message string")
    out = apply_chain(df, build_chain([{"syslog": {}}]))
    plan = plan_of(out)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_container_reader_is_pure_jvm(spark, tmp_path):
    from beats_spark.sources import read_container_logs

    (tmp_path / "c.log").write_text(
        '{"log":"x\\n","stream":"stdout","time":"2024-01-01T00:00:01Z"}\n')
    plan = plan_of(read_container_logs(spark, str(tmp_path), glob="*.log"))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_minhash_candidates_checkpointed_no_python(spark):
    """The candidate generation must complete eagerly with the banded
    frame cached only transiently (no persisted DataFrames leak from the
    operator), and the returned verification plan must consume the
    materialized id-pairs (ExistingRDD scan), never Python."""
    from beats_spark.ml.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"w{i} a b c d e f g h") for i in range(30)],
        "doc_id int, text string")
    jvm_cache = spark._jsparkSession.sharedState().cacheManager()
    # count cached entries via the public surface: lookupCachedData on the
    # banded plan would need the frame; instead compare global emptiness
    # deltas (other suites may hold their own cached fixtures)
    was_empty = jvm_cache.isEmpty()
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=0.9)
    plan = plan_of(pairs)
    assert "ExistingRDD" in plan            # checkpointed candidate pairs
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # the operator's transient banded cache was dropped before returning:
    # it must not have changed the cache-manager state it found
    assert jvm_cache.isEmpty() == was_empty
    pairs.count()


def test_processors_write_fields_only_through_event():
    """Only event.py writes nested fields: no processor module calls
    Column.withField or hand-rolls the keep-old idiom
    ``F.when(c, new).otherwise(<old value>)`` — ``Fields.set``/``apply``
    take ``where=`` for that."""
    import pathlib
    import re

    import beats_spark.processors as procs

    bad = re.compile(r"\.withField\(|\.otherwise\((get_path|f\.get)\(")
    root = pathlib.Path(procs.__file__).parent
    hits = [f"{p.name}:{i}: {line.strip()}"
            for p in sorted(root.glob("*.py"))
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if bad.search(line)]
    assert hits == []


def test_library_uses_no_rdd():
    """Production code stays on the DataFrame API: no ``.rdd`` under
    ``beats_spark/``."""
    import pathlib
    import re

    import beats_spark

    root = pathlib.Path(beats_spark.__file__).parent
    hits = [f"{p.relative_to(root)}:{i}: {line.strip()}"
            for p in sorted(root.rglob("*.py"))
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if re.search(r"\.rdd\b", line)]
    assert hits == []


def _grep_library(pattern: str, sub: str = "") -> list[str]:
    import pathlib
    import re

    import beats_spark

    root = pathlib.Path(beats_spark.__file__).parent / sub
    return [f"{p.relative_to(root)}:{i}: {line.strip()}"
            for p in sorted(root.rglob("*.py"))
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if re.search(pattern, line)]


def test_processors_have_one_when_path():
    """No stage splits its frame under ``when`` and unions it back: no
    ``custom`` hook and no union under ``beats_spark/processors/``."""
    assert _grep_library(r"def custom\b|_apply_custom_cond|unionByName\(|\.union\(",
                         "processors") == []


def test_processors_name_temps_through_one_allocator():
    """Every temp column a processor stages is named by ``event.free_name``
    (through ``Fields.temp``/``temps``) and left out by ``Fields.apply``:
    no processor module probes for a free name itself, spells a fixed
    ``"__…"`` name, or drops columns from a frame on its own."""
    assert _grep_library(r"""["']__\w|\bwhile\b.*\b(taken|existing)\b"""
                         r"|(?<!\bf)\.drop\(", "processors") == []


def test_library_uses_no_private_py4j_handles():
    """Production code reaches the JVM only through the public API."""
    assert _grep_library(r"\._(jo|jdf|jvm|jsc)\b") == []


# Public defs kept although nothing outside tests names them.
REACHABLE_ANYWAY = {
    # the production catalog of the paper; it needs the Iceberg runtime
    # jar, which the parquet-catalog tests and benchmark run without
    "IcebergCatalog",
}


def test_every_public_def_is_reached():
    """Every public top-level function or class under ``beats_spark/``
    is named (a ``Name``, an ``Attribute`` or an import alias) outside its
    own definition somewhere in the library, the entry queries, the bench,
    ``perfbench/`` or ``tools/``; ``@register(...)`` processors are
    reached by config. Library surface only tests call is dead code."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    lib = repo / "beats_spark"
    files = [*sorted(lib.rglob("*.py")), repo / "__spark_entry__.py",
             repo / "bench.py", *(repo / "perfbench").rglob("*.py"),
             *(repo / "tools").rglob("*.py")]

    def named(node) -> set[str]:
        out = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
            elif isinstance(n, ast.alias):
                out.add(n.name.rsplit(".", 1)[-1])
        return out

    def registered(d) -> bool:
        return any(isinstance(x, ast.Call)
                   and getattr(x.func, "id", None) == "register"
                   for x in d.decorator_list)

    # names used by each top-level statement of each file
    uses = [(path, stmt, named(stmt)) for path in files
            for stmt in ast.parse(path.read_text()).body]
    unreached = []
    for path, d, _ in uses:
        if (path.is_relative_to(lib)
                and isinstance(d, (ast.FunctionDef, ast.ClassDef))
                and not d.name.startswith("_") and not registered(d)
                and d.name not in REACHABLE_ANYWAY
                and not any(d.name in names for _, stmt, names in uses
                            if stmt is not d)):
            unreached.append(f"{path.relative_to(repo)}:{d.lineno} {d.name}")
    assert unreached == [], "\n".join(unreached)
