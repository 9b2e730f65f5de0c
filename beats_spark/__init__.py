"""beats_spark — a PySpark-native log/telemetry parse → enrich → route →
aggregate pipeline with the capabilities of Elastic Beats (reference:
taylor-swanson/beats, read-only at /root/reference), re-designed Spark-first.

Beats executes a serial per-event processor chain over mutable JSON-like
documents (libbeat/processors/processor.go:189-202); we compile the same
config language into a single declarative DataFrame plan so Catalyst gets
predicate pushdown, column pruning and whole-stage codegen for free, and
compile the row-level parsers (dissect/grok) to anchored JVM regexes that
run inside that codegen — no Python in the parse path.

Layout
------
schema.py       system column names (_meta_ prefix, _sink, _pid)
event.py        dotted-path column helpers (MapStr analogue, mapstr.go)
conditions.py   condition AST -> Column  (libbeat/conditions)
fmtstr.py       %{[field]} event-format strings -> Column (common/fmtstr)
selector.py     output routing rules -> first-match-wins _sink Column
processors/     the processor library (libbeat/processors/*)
catalog.py      Iceberg-first table catalog with parquet+snapshot-log fallback
iceberg.py      IcebergCatalog: same contract over a real Iceberg catalog
                (runtime-guarded; this sandbox has no iceberg jar)
pipeline.py     config -> composed plan -> fan-out run with metrics/lineage
testdata.py     deterministic synthetic transcripts (FIXTURES.md §1)
session.py      tuned SparkSession builder
ml/             training-data ops: dedup, similarity search, text analysis
"""

__version__ = "0.1.0"

from beats_spark.session import get_spark  # noqa: F401
