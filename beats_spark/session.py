"""SparkSession factory tuned for the pipeline.

Defaults target the sandbox (local[N], single JVM) but every knob is the one
you would set on a 1000-executor cluster too: AQE on (runtime re-plan +
skew-join splitting), small-table broadcast, Arrow batching for the pandas
UDF stages, and shuffle partitions sized to the parallelism level.

Two defaults are sized for the library rather than taken from Spark:

- ``spark.driver.memory`` is a quarter of physical RAM (the JVM's own
  default heap fraction), capped at 8g, so a local driver never claims half
  of a small host.
- ``spark.python.sql.dataFrameDebugging.enabled`` is off. With it on,
  PySpark records the Python call site of every Column function call, at
  four py4j round trips each (active session, a conf read, origin set and
  clear) — about half of the commands a processor chain sends while its
  plan is built. The site it records is a line under
  ``beats_spark/processors/``, never the user's code: users write config,
  not Column calls.

``SPARK_DRIVER_MEMORY`` and ``extra_conf`` override both.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile

from pyspark.sql import SparkSession


def ship_package(spark: SparkSession) -> None:
    """Make ``beats_spark`` importable on every executor.

    The Python closures (script, decompress_gzip_field, decode_xml,
    read_log_files, the multimodal ops) reference this package, so python
    workers must import it — on a real cluster that's ``spark-submit
    --py-files beats_spark.zip``; here we zip the package and addPyFile,
    which is the same mechanism. The session serves the zip from its temp
    path for the life of this process, which removes it on exit."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if not os.path.isdir(pkg_dir):
        # already imported from a --py-files zip: spark-submit distributed
        # it to every executor, nothing to ship
        return
    base = os.path.join(tempfile.gettempdir(), f"beats_spark_pyfiles_{os.getpid()}")
    zip_path = shutil.make_archive(base, "zip", os.path.dirname(pkg_dir), "beats_spark")
    atexit.register(_remove_quietly, zip_path)
    spark.sparkContext.addPyFile(zip_path)


def _remove_quietly(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _default_driver_memory() -> str:
    """A quarter of physical RAM in MiB, at least 1g and at most 8g."""
    ram_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(max(ram_mib // 4, 1024), 8192)}m"


def get_spark(
    app_name: str = "beats_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``os.cpu_count()``). shuffle_partitions defaults to the local core
    count — on a real cluster you'd set ~2-3x total executor cores instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; local[*] → cpus
        inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if inner in ("*", "") else int(inner)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # zstd parquet output: measured to LIFT per-node scaling efficiency
        # 0.60 → 0.83 on the fan-out write (BENCH.md §2.1) — it converts
        # non-scaling memory-bandwidth traffic (bytes pushed to page cache)
        # into compression CPU, which scales with cores — while ALSO being
        # the right lake codec at 100 TB (smaller files, cheaper scans).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Dynamic partition pruning OFF by default: DPP's plan walk
        # (PartitionPruning.getFilterableTableScan → AliasHelper.trimAliases)
        # re-inlines aliases through every projection level below a join;
        # on this library's deep processor chains (each stage = staged
        # projections, module chains stack 20-30 of them) that walk is
        # super-linear and empirically OOMs an 8 GiB driver on a 7-row frame
        # (nginx module chain + 2 enrich_cidr broadcast joins). DPP could
        # never prune those joins anyway — it requires the join key to BE a
        # partition column of a file scan, and every join this library plans
        # is a broadcast enrich/band join on a COMPUTED key. Star-schema
        # users joining partitioned facts on raw partition columns can
        # re-enable via extra_conf.
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)
    return spark
