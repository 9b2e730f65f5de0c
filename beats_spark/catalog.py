"""Table catalog: Iceberg-first design, parquet+snapshot-log fallback.

Production target is Iceberg (`spark.read.format("iceberg")`, atomic
snapshot commits, incremental reads between snapshots) — the analogue of the
reference's registrar offset checkpoint (filebeat/registrar/registrar.go:35,
139,194: persist per-source offsets, resume on restart). This sandbox has no
Iceberg runtime jar, so ``ParquetCatalog`` reproduces the *semantics* the
pipeline needs with plain parquet directories plus an append-only snapshot
log per table:

    warehouse/<table>/data/<snapshot_id>/part-*.parquet
    warehouse/<table>/_snapshots.jsonl     # one JSON line per commit

A snapshot becomes visible only when its manifest line lands in the log
(write-then-publish, like Iceberg's metadata swap), reads union only
committed snapshot dirs, and incremental reads select snapshot ranges —
which is exactly what checkpoint/resume consumes. The real
``IcebergCatalog`` (beats_spark/iceberg.py) implements the same contract
over ``writeTo(...).append()`` / ``CALL <cat>.system.*`` and is a strict
drop-in on a cluster with the Iceberg runtime jar.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Snapshot:
    snapshot_id: str
    path: str
    committed_at: float
    run_id: str | None = None


def data_files(path: str) -> list[str]:
    """The parquet files a write left in ``path``: Spark's ``_SUCCESS``
    marker and its hidden ``.crc`` files are not data."""
    return sorted(os.path.join(path, f) for f in os.listdir(path)
                  if f.endswith(".parquet") and not f.startswith(("_", ".")))


def read_files(files: list[str], columns: list[str]) -> pa.Table:
    """``columns`` of parquet ``files`` on the driver, one file at a time,
    so no dataset discovery skips a ``_``-prefixed path."""
    return pa.concat_tables(pq.read_table(f, columns=columns) for f in files)


class ParquetCatalog:
    """Warehouse of append-only snapshot tables (see module docstring)."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    # -- paths ---------------------------------------------------------------

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.warehouse, table)

    def _log_path(self, table: str) -> str:
        return os.path.join(self._table_dir(table), "_snapshots.jsonl")

    # -- snapshot log ----------------------------------------------------------

    def snapshots(self, table: str) -> list[Snapshot]:
        log = self._log_path(table)
        if not os.path.exists(log):
            return []
        out = []
        with open(log) as f:
            for line in f:
                if line.strip():
                    d = json.loads(line)
                    out.append(Snapshot(**d))
        return out

    def latest_snapshot(self, table: str) -> Snapshot | None:
        snaps = self.snapshots(table)
        return snaps[-1] if snaps else None

    def _commit(self, table: str, snapshot_id: str, data_path: str,
                run_id: str | None) -> Snapshot:
        snap = Snapshot(
            snapshot_id=snapshot_id,
            path=data_path,
            committed_at=time.time(),
            run_id=run_id,
        )
        os.makedirs(self._table_dir(table), exist_ok=True)
        # the publish point: a single appended line (Iceberg: metadata swap)
        with open(self._log_path(table), "a") as f:
            f.write(json.dumps(snap.__dict__) + "\n")
        return snap

    def new_snapshot_id(self, table: str) -> str:
        n = len(self.snapshots(table))
        return f"{n + 1:010d}-{uuid.uuid4().hex[:8]}"

    # -- write ---------------------------------------------------------------

    def append(self, df: DataFrame | pa.Table, table: str,
               run_id: str | None = None) -> Snapshot:
        """Write ``df`` as a new snapshot. A ``pyarrow.Table`` (the
        pipeline's metrics and lineage rows) is written on the driver as
        one file, without a Spark job."""
        sid = self.new_snapshot_id(table)
        path = os.path.join(self._table_dir(table), "data", sid)
        if isinstance(df, pa.Table):
            os.makedirs(path)
            pq.write_table(df, os.path.join(path, "part-00000.parquet"))
        else:
            df.write.mode("errorifexists").parquet(path)
        return self._commit(table, sid, path, run_id)

    def adopt_directory(self, src_dir: str, table: str,
                        run_id: str | None = None) -> Snapshot:
        """Publish an already-written parquet directory as a new snapshot —
        the cheap half of single-pass fan-out: data was written once by a
        partitioned write, commit here is a rename + one log line."""
        sid = self.new_snapshot_id(table)
        path = os.path.join(self._table_dir(table), "data", sid)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        shutil.move(src_dir, path)
        return self._commit(table, sid, path, run_id)

    # -- read ----------------------------------------------------------------

    def exists(self, table: str) -> bool:
        return len(self.snapshots(table)) > 0

    def read(self, table: str, snapshot_ids: list[str] | None = None) -> DataFrame:
        snaps = self.snapshots(table)
        if snapshot_ids is not None:
            wanted = set(snapshot_ids)
            have = {s.snapshot_id for s in snaps}
            missing = wanted - have
            if missing:
                # silently returning the subset would hand the caller
                # truncated data (e.g. replaying a recorded snapshot list
                # after a rollback removed one) — fail loudly instead
                raise ValueError(
                    f"table {table!r}: unknown snapshot ids {sorted(missing)}")
            snaps = [s for s in snaps if s.snapshot_id in wanted]
        if not snaps:
            raise ValueError(f"table {table!r} has no committed snapshots")
        return self.spark.read.parquet(*[s.path for s in snaps])

    def read_arrow(self, table: str, columns: list[str]) -> pa.Table:
        """``columns`` of every committed snapshot, read on the driver with
        pyarrow — no Spark job, for small bookkeeping tables."""
        snaps = self.snapshots(table)
        if not snaps:
            raise ValueError(f"table {table!r} has no committed snapshots")
        return read_files([f for s in snaps for f in data_files(s.path)], columns)

    def read_since(self, table: str, after_snapshot_id: str | None) -> tuple[DataFrame | None, list[str]]:
        """Incremental read: snapshots strictly after the given id (None =
        from the beginning). Returns (df | None, snapshot_ids)."""
        snaps = self.snapshots(table)
        if after_snapshot_id is not None:
            idx = next(
                (i for i, s in enumerate(snaps) if s.snapshot_id == after_snapshot_id),
                None,
            )
            if idx is None:
                raise ValueError(f"unknown snapshot {after_snapshot_id!r} in {table!r}")
            snaps = snaps[idx + 1 :]
        if not snaps:
            return None, []
        df = self.spark.read.parquet(*[s.path for s in snaps])
        return df, [s.snapshot_id for s in snaps]

    # -- recovery -------------------------------------------------------------

    def tables(self) -> list[str]:
        return sorted(
            d for d in os.listdir(self.warehouse)
            if os.path.exists(self._log_path(d))
        )

    def rollback_run(self, run_id: str) -> dict[str, int]:
        """Remove every snapshot a (crashed) run committed, across all
        tables — the recovery half of exactly-once when a run died between
        its sink commits and its lineage commit (real Iceberg would wrap the
        whole run in one WAP/branch transaction; here the snapshot logs are
        rewritten without the run's entries and its data dirs dropped).

        Returns {table: snapshots_removed}. Safe to call for an unknown
        run_id (no-op)."""
        removed: dict[str, int] = {}
        for table in self.tables():
            snaps = self.snapshots(table)
            keep = [s for s in snaps if s.run_id != run_id]
            if len(keep) == len(snaps):
                continue
            removed[table] = len(snaps) - len(keep)
            tmp = self._log_path(table) + ".tmp"
            with open(tmp, "w") as f:
                for s in keep:
                    f.write(json.dumps(s.__dict__) + "\n")
            os.replace(tmp, self._log_path(table))  # atomic swap
            for s in snaps:
                if s.run_id == run_id:
                    shutil.rmtree(s.path, ignore_errors=True)
        # a crashed run may also have left its fan-out staging dir behind
        # (written but never adopted) — clear it so recovery needs no manual
        # deletion and a retried run with the same run_id starts clean
        shutil.rmtree(
            os.path.join(self.warehouse, f"_staging_{run_id}"),
            ignore_errors=True,
        )
        return removed

    def incomplete_runs(self, lineage_table: str = "lineage") -> set[str]:
        """Run ids that committed data/metrics snapshots but never reached
        the lineage commit (the last step of Pipeline.run) — candidates for
        rollback_run before resuming."""
        per_table = {t: {s.run_id for s in self.snapshots(t) if s.run_id}
                     for t in self.tables()}
        return incomplete_run_ids(per_table, per_table.get(lineage_table, set()),
                                  lineage_table)


def incomplete_run_ids(per_table_runs: dict[str, set[str]],
                       lineage_runs: set[str],
                       lineage_table: str = "lineage") -> set[str]:
    """Runs that committed data/metrics snapshots but no lineage row; the
    arithmetic behind both catalogs' ``incomplete_runs``."""
    all_runs: set[str] = set()
    for t, runs in per_table_runs.items():
        if t != lineage_table:
            all_runs |= runs
    return all_runs - lineage_runs
