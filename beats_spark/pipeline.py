"""The pipeline: config → composed DataFrame plan → fan-out run.

Replaces the reference's harvester → processor chain → publisher → output
path (filebeat/beater/filebeat.go:220, libbeat/publisher/pipeline/client.go:83)
with one declarative Spark job:

    incremental read (snapshot range)           # registrar resume semantics
      → round-robin spread of a narrow scan     # output workers, see below
      → salted repartition on hot conv_ids      # skew control
      → processor chain (one fused projection per stage)
      → _sink column (outil.Selector, first-match-wins)
      → ONE partitioned write, per-sink dirs adopted as table snapshots
      → metrics + lineage commit                # monitoring.go counters

Fan-out is single-pass: the reference publishes each batch once to one output
(load-balanced), we write each row once via ``partitionBy(_sink)`` — no
per-sink re-scan of the transformed frame. Metrics re-aggregate the *written*
parquet (the ``_pid`` column of the landed files, counted with pyarrow on
the driver) so reported counts are what actually landed, not what the plan
promised — the analogue of ack-based counters
(pipeline/monitoring.go:92-104: events.total/filtered/published).

Plan once: like the reference's processors.New (processor.go:72-123),
the chain is planned once per ``Pipeline`` and key — the input schema,
the lookup registrations (``register_lookup`` bumps a generation) and the
session conf (``getAll``; the build reads the time zone and
``escapedStringLiterals``) — through a recorder (beats_spark/tape.py);
a later input of the same key replays the recorded frame ops instead of
re-running the build. A chain whose build looks at its input's data (a
schema-less ``decode_json_fields`` samples it) is not replayable and is
built per input. So a lookup or ``table:`` dim is read when the chain is
planned, once per ``Pipeline`` and key — as the reference's processors
load their side tables when they are built; re-registering a lookup
re-plans. The only Spark jobs of a replayed batch are then the staging
write's (under AQE one per query stage, e.g. the spread's shuffle) plus,
in ``run_incremental``, the schema read of the new source snapshot. The re-aggregation, the lineage done-set
and the metrics and lineage commits are pyarrow reads and writes on the
driver.

Spread: the reference hands batches to load-balanced output workers
(pipeline/output.go:56,106); here the workers are Spark's task slots. A
scan is one task per file split, so a micro-batch that landed as one small
file would run the whole chain and the write on one core. When the input's
local files hold fewer splits (Σ ⌈size / maxPartitionBytes⌉) than
``defaultParallelism`` and no salt or repartition is configured, ``run``
deals the rows round-robin over every slot — one exchange, after the
``_pid`` tag, so lineage still names the scan partition. Frames with no
sizable input files (createDataFrame, Kafka, Iceberg) are not spread.

Exactly-once resume: each processed source snapshot id is recorded in the
``lineage`` table inside the same run; a re-run sees it and skips — the
registrar's offset checkpoint (filebeat/registrar/registrar.go:139-194)
re-expressed as table state.
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid
from collections import Counter
from dataclasses import dataclass, field
from typing import Any
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from beats_spark.catalog import ParquetCatalog, data_files, read_files
from beats_spark.processors import apply_chain, build_chain
from beats_spark.processors.enrich import lookup_generation
from beats_spark.schema import META_PREFIX, PID_COL, SINK_COL
from beats_spark.selector import check_routes, compile_selector
from beats_spark.tape import Tape, real

DEAD_LETTER = "dead_letter"
METRICS_TABLE = "pipeline_metrics"
LINEAGE_TABLE = "lineage"
METRICS_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("partition_id", pa.int32()), ("sink", pa.string()),
    ("events_in", pa.int64()), ("events_dropped", pa.int64()),
    ("events_routed", pa.int64()),
])
LINEAGE_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("source_table", pa.string()),
    ("snapshot_id", pa.string()), ("committed_at", pa.float64()),
])
_BYTE_UNITS = {"": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20,
               "g": 30, "gb": 30, "t": 40, "tb": 40, "p": 50, "pb": 50}


def _byte_string(value: str) -> int:
    """A Spark byte-size conf (``134217728``, ``128m``, ``128MB``) in bytes."""
    n, unit = re.fullmatch(r"(\d+)\s*([a-z]*)", value.strip().lower()).groups()
    return int(n) << _BYTE_UNITS[unit]


def _idle_slots(df: DataFrame, split_bytes: int, slots: int) -> bool:
    """Whether scanning the frame's input files leaves task slots idle:
    Σ ⌈size / split_bytes⌉ < slots. False when it has no input files or one
    is not a local ``file:`` URI that can be sized."""
    files = df.inputFiles()
    splits = 0
    for uri in files:
        url = urlparse(uri)
        if url.scheme != "file":
            return False
        try:
            splits += -(-os.path.getsize(unquote(url.path)) // split_bytes)
        except OSError:
            return False
        if splits >= slots:
            return False
    return bool(files)


def _commit_table(rows: list[tuple], schema: pa.Schema) -> pa.Table:
    """A handful of commit rows as one Arrow table: the catalog writes it
    as one file on the driver."""
    return pa.Table.from_pylist([dict(zip(schema.names, r)) for r in rows],
                                schema=schema)


def _landed(staging: str) -> tuple[Counter, dict[str, str]]:
    """Rows per (sink, ``_pid``) in the ``_sink=<x>`` dirs of a staging
    write, counted from their ``_pid`` column with pyarrow, and each sink's
    dir. Spark escapes the dir names; ``unquote`` decodes them."""
    counts: Counter = Counter()
    dirs: dict[str, str] = {}
    prefix = f"{SINK_COL}="
    for d in os.listdir(staging):
        if not d.startswith(prefix):
            continue
        sink = unquote(d[len(prefix):])
        dirs[sink] = os.path.join(staging, d)
        pids = read_files(data_files(dirs[sink]), [PID_COL])[PID_COL]
        for v in pc.value_counts(pids).to_pylist():
            counts[sink, v["values"]] += v["counts"]
    return counts, dirs


@dataclass
class PipelineConfig:
    """Shaped like a filebeat YAML: ``processors`` list + ``output.routes``."""

    processors: list[dict[str, Any]] = field(default_factory=list)
    routes: list[dict[str, Any]] = field(default_factory=list)
    fallback_sink: str | None = None      # constant last rule; None → dead_letter
    dead_letter: str = DEAD_LETTER
    # skew control: repartition on (conv_id, salt) before wide stages.
    salt_column: str | None = None        # e.g. "conv_id"
    salt_buckets: int = 0                 # 0 = off
    repartition: int | None = None
    # write clustering: sortWithinPartitions before the fan-out write so
    # per-sink files are ordered by the stable key (parquet row-group
    # min/max stats then prune (conv_id, turn_idx) range scans — the
    # reference's per-file offset ordering, §2.7)
    cluster_by: list[str] = field(default_factory=list)

    @classmethod
    def from_dict(cls, d: dict[str, Any]) -> "PipelineConfig":
        out = d.get("output", {})
        return cls(
            processors=d.get("processors", []),
            routes=out.get("routes", d.get("routes", [])),
            fallback_sink=out.get("fallback", d.get("fallback")),
            dead_letter=out.get("dead_letter", DEAD_LETTER),
            salt_column=d.get("salt_column"),
            salt_buckets=int(d.get("salt_buckets", 0)),
            repartition=d.get("repartition"),
            cluster_by=list(d.get("cluster_by", [])),
        )


@dataclass
class RunResult:
    run_id: str
    sinks: dict[str, int]          # sink table → rows routed this run
    events_in: int
    events_dropped: int
    snapshot_ids: list[str]        # source snapshots consumed (resume mode)
    skipped: bool = False          # True when nothing new to process


class Pipeline:
    def __init__(self, spark: SparkSession, config: PipelineConfig,
                 catalog: ParquetCatalog | None = None):
        self.spark = spark
        self.config = config
        self.catalog = catalog
        self.stages = build_chain(config.processors)
        check_routes(config.routes)
        self._plan: tuple[tuple, Tape] | None = None   # (key, replayable tape)

    # -- pure plan (unit-testable, no IO) -----------------------------------

    def transform(self, df: DataFrame) -> DataFrame:
        """processor chain + routing; adds ``_sink`` (never null: unroutable
        rows go to the dead-letter table, mirroring ES dead_letter_index,
        outputs/elasticsearch/non_indexable_policy.go:31-73).

        The chain is planned once per key — input schema, lookup
        registrations, session conf — and replayed on later inputs
        (module docstring, Plan once)."""
        key = (df.schema, lookup_generation(), self.spark.conf.getAll)
        if self._plan is not None and self._plan[0] == key:
            return self._plan[1].replay(df)
        tape = Tape()
        out = self._build(tape.record(df))
        self._plan = (key, tape) if tape.seal(out) else None
        return real(out)

    def _build(self, df: DataFrame) -> DataFrame:
        cfg = self.config
        if self._salted:
            n = cfg.repartition or self.spark.sparkContext.defaultParallelism * 2
            # salt from row CONTENT (turn_idx when present, else all columns)
            # so placement is deterministic under task retries — a
            # monotonically_increasing_id salt would reshuffle on recompute
            salt_src = (F.col("turn_idx") if "turn_idx" in df.columns
                        else F.struct(*[F.col(c) for c in df.columns]))
            df = df.repartition(
                n, F.col(cfg.salt_column),
                F.pmod(F.xxhash64(salt_src), F.lit(cfg.salt_buckets)),
            )
        elif cfg.repartition:
            df = df.repartition(cfg.repartition)
        df = apply_chain(df, self.stages)
        sink = compile_selector(df, cfg.routes, fallback=cfg.fallback_sink)
        return df.withColumn(SINK_COL, F.coalesce(sink, F.lit(cfg.dead_letter)))

    @property
    def _salted(self) -> bool:
        return bool(self.config.salt_buckets and self.config.salt_column)

    def _spread(self, df: DataFrame) -> DataFrame:
        """Round-robin a scan that would leave task slots idle over all of
        them (module docstring, Spread); transform() already repartitions a
        salted or ``repartition`` config."""
        if self._salted or self.config.repartition:
            return df
        slots = self.spark.sparkContext.defaultParallelism
        split_bytes = _byte_string(
            self.spark.conf.get("spark.sql.files.maxPartitionBytes"))
        return (df.repartition(slots) if _idle_slots(df, split_bytes, slots)
                else df)

    # -- full run ------------------------------------------------------------

    def _catalog(self) -> ParquetCatalog:
        if self.catalog is None:
            raise ValueError("run() needs a catalog; use transform() for plan-only")
        return self.catalog

    def run(self, df: DataFrame, run_id: str | None = None,
            source_snapshots: list[str] | None = None,
            source_table: str = "transcripts") -> RunResult:
        cat = self._catalog()
        run_id = run_id or uuid.uuid4().hex[:12]

        # tag the input partition once, at the scan, for per-partition
        # lineage; a narrow scan is spread over the task slots after it
        df = self._spread(df.withColumn(PID_COL, F.spark_partition_id()))
        # SINGLE-PASS lineage: events_in is observed by the staging write job
        # itself (CollectMetrics rides the one scan; Catalyst does not push
        # the drop_event filters below it), instead of a separate
        # groupBy(PID).count() job that re-read the whole source — at 100 TB
        # that pre-count was 2x read amplification on the production path.
        # Granularity: events_routed stays per-(partition, sink) because the
        # written files carry PID_COL and the re-aggregation below reads only
        # that columnar slice of what LANDED; events_in/events_dropped are
        # per-run (partition_id = -1). Attributing *dropped* rows to input
        # partitions is the one thing that inherently needs either a second
        # scan or persisting dropped rows — neither is acceptable by default;
        # post-hoc audit is still possible via the persisted _pid column.
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("events_in"))

        routed = self.transform(df)
        # PySpark Observation captures only the FIRST action touching its
        # node: a stage that samples its input during transform() (schema-
        # less decode_json_fields) would freeze events_in at the sample
        # job's partial count, so only such configs pay a count job.
        obs_consumed = any(st.samples_input for st in self.stages)
        payload_cols = [c for c in routed.columns if not c.startswith(META_PREFIX)]
        routed = routed.select(*payload_cols)
        if self.config.cluster_by:
            # lead with the partition column: FileFormatWriter requires rows
            # grouped by partition value and would otherwise inject its own
            # (non-stable) sort on _sink, scrambling the clustering
            routed = routed.sortWithinPartitions(SINK_COL, *self.config.cluster_by)

        # single-pass fan-out: one partitioned write, then per-sink adoption.
        # The staging path is run_id-scoped, so a leftover dir can only be
        # debris from a crashed/retried attempt of THIS run (e.g. a streaming
        # replay of the same checkpointed batch) — clear it instead of failing
        # the retry forever with path-exists.
        staging = os.path.join(cat.warehouse, f"_staging_{run_id}")
        shutil.rmtree(staging, ignore_errors=True)
        routed.write.partitionBy(SINK_COL).mode("errorifexists").parquet(staging)

        # count what landed in the `_sink=<x>` directories (an all-rows-
        # dropped run lands none, only _SUCCESS); it still commits metrics
        # and lineage
        sink_counts: dict[str, int] = {}
        metrics_rows: list[tuple] = []
        landed, sink_dirs = _landed(staging)
        for (s, p), c in sorted(landed.items()):
            sink_counts[s] = sink_counts.get(s, 0) + c
            metrics_rows.append((run_id, p, s, 0, 0, c))
        # the staging write has run, so the observed metric is available now
        events_in = (int(df.count()) if obs_consumed
                     else int(obs.get["events_in"]))
        events_routed_total = sum(sink_counts.values())
        metrics_rows.append(
            (run_id, -1, None, events_in, events_in - events_routed_total, 0)
        )

        for sink in sorted(sink_counts):
            cat.adopt_directory(sink_dirs[sink], sink, run_id=run_id)
        # leftover staging dir (only _SUCCESS marker remains) is removed
        shutil.rmtree(staging, ignore_errors=True)

        cat.append(_commit_table(metrics_rows, METRICS_SCHEMA), METRICS_TABLE,
                   run_id=run_id)

        # lineage is committed for EVERY run (a direct run(df) gets one row
        # with a NULL snapshot_id): the lineage commit is the run's "completed"
        # marker, so incomplete_runs()/rollback would otherwise misclassify
        # every direct run as crashed and delete validly committed sink data
        snaps = source_snapshots or []
        lineage_rows = [(run_id, source_table, s, time.time())
                        for s in snaps or [None]]
        cat.append(_commit_table(lineage_rows, LINEAGE_SCHEMA), LINEAGE_TABLE,
                   run_id=run_id)

        return RunResult(
            run_id=run_id,
            sinks=sink_counts,
            events_in=events_in,
            events_dropped=events_in - events_routed_total,
            snapshot_ids=snaps,
        )

    def run_incremental(self, source_table: str = "transcripts",
                        run_id: str | None = None) -> RunResult:
        """Resume from checkpoint: process only source snapshots not yet in
        the lineage table (registrar semantics). Idempotent: a second call
        with no new source snapshots is a no-op.

        SINGLE-DRIVER contract (same as the reference registrar's file
        lock): exactly one driver — batch OR streaming — may operate a
        warehouse at a time. The crash recovery below cannot distinguish a
        crashed run from a concurrent IN-FLIGHT one (a run between its
        sink commit and its lineage commit looks identical), so a
        concurrent driver's half-committed run would be rolled back and
        its rows lost when it commits lineage anyway."""
        cat = self._catalog()
        # recovery BEFORE resume: a previous run that crashed between sink
        # adoption and its lineage commit left orphan sink snapshots; its
        # source snapshots are still unprocessed per lineage, so resuming
        # without rollback would append their rows a second time
        for dead in sorted(cat.incomplete_runs(LINEAGE_TABLE)):
            cat.rollback_run(dead)
        done: set[str] = set()
        if cat.exists(LINEAGE_TABLE):
            seen = cat.read_arrow(LINEAGE_TABLE, ["source_table", "snapshot_id"])
            done = set(seen.filter(pc.equal(seen["source_table"], source_table))
                       ["snapshot_id"].to_pylist())
        todo = [s for s in cat.snapshots(source_table) if s.snapshot_id not in done]
        if not todo:
            return RunResult(run_id=run_id or "noop", sinks={}, events_in=0,
                             events_dropped=0, snapshot_ids=[], skipped=True)
        df = cat.read(source_table, [s.snapshot_id for s in todo])
        return self.run(df, run_id=run_id,
                        source_snapshots=[s.snapshot_id for s in todo],
                        source_table=source_table)


# -- the FIXTURES.md §5 reference pipeline (the e2e "query") ----------------

def fixture_config() -> PipelineConfig:
    """The golden end-to-end config: exercises dissect, drop_event-when,
    add_fields, rename, fingerprint, if/then tagging, selector routing."""
    return PipelineConfig(
        processors=[
            {"dissect": {
                "tokenizer": 'level=%{level} caller=%{caller} msg="%{msg}" '
                             'latency_ms=%{latency|integer}',
                "field": "text", "target_prefix": "parsed",
                "ignore_failure": True,
            }},
            {"drop_event": {"when": {"equals": {"role": "system"}}}},
            {"add_fields": {"target": "meta2",
                            "fields": {"pipeline_version": "1"}}},
            {"rename": {"fields": [{"from": "parsed.caller",
                                    "to": "parsed.origin"}],
                        "ignore_missing": True}},
            {"fingerprint": {"fields": ["conv_id", "turn_idx", "text"],
                             "method": "sha256",
                             "target_field": "fingerprint"}},
            {"if": {"range": {"parsed.latency": {"gte": 100}}},
             "then": [{"add_tags": {"tags": ["slow"]}}]},
        ],
        routes=[
            # mappings rewrite the *formatted* value (select.go:227-243), so
            # the rule formats the bare tool and maps it to a sink table name;
            # a mapping miss (unknown tool) falls to the default.
            {"sink": "%{[tool]}",
             "mappings": {"search": "sink_search", "code": "sink_code",
                          "browser": "sink_browser", "none": "sink_other"},
             "default": "sink_other",
             "when": {"has_fields": ["tool"]}},
        ],
    )
