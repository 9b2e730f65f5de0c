"""IcebergCatalog: the production catalog behind the same contract as
``ParquetCatalog`` (catalog.py) — append / adopt_directory / read /
read_since / snapshots / rollback_run / incomplete_runs — expressed over a
real Iceberg Spark catalog (``spark.sql.catalog.<name>`` with the Iceberg
runtime jar on the classpath).

The reference's registrar offset checkpoint (filebeat/registrar/
registrar.go:35,139,194) maps to Iceberg snapshot lineage exactly as in
ParquetCatalog; the difference is that the publish point is Iceberg's
atomic metadata swap instead of a JSONL append, and per-run bookkeeping
rides in snapshot summary properties (``snapshot-property.run_id`` write
option → the snapshot's ``summary['run_id']``).

This sandbox has no Iceberg runtime jar, so the class is RUNTIME-GUARDED:
construction probes the configured Spark catalog and raises a clear
RuntimeError when Iceberg isn't on the classpath. Everything that can be
unit-tested without the jar (SQL/plan building, run bookkeeping, snapshot
set arithmetic) is factored into pure functions, tested in
tests/test_iceberg.py.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from .catalog import incomplete_run_ids


@dataclass
class IcebergSnapshot:
    snapshot_id: str
    committed_at: float          # epoch seconds
    run_id: str | None = None
    parent_id: str | None = None
    operation: str = "append"


# -- pure plan/SQL builders (unit-testable without the Iceberg jar) ---------


def qualified(catalog: str, namespace: str, table: str) -> str:
    return f"{catalog}.{namespace}.{table}"


def sql_str(value: str) -> str:
    """Escape a value for interpolation into a single-quoted SQL literal —
    a path or run id containing a quote must not break (or rewrite) the
    statement."""
    return value.replace("'", "''")


def snapshots_sql(catalog: str, namespace: str, table: str) -> str:
    """Query against the Iceberg ``<table>.snapshots`` metadata table; the
    run id comes back from the snapshot summary map (writes stamp it via
    the ``snapshot-property.run_id`` write option; adopted snapshots are
    stamped through a table property instead — see adopt_directory).

    Restricted to the CURRENT ancestry (the ``.history`` metadata table's
    ``is_current_ancestor``): ``rollback_to_snapshot`` leaves rolled-back
    snapshots listed in ``.snapshots`` until ``expire_snapshots`` runs, and
    without this filter a rolled-back run would be seen forever by
    incomplete_runs()/rollback_target() and wedge every subsequent
    resume."""
    t = qualified(catalog, namespace, table)
    return (
        "SELECT CAST(snapshot_id AS STRING) AS snapshot_id, "
        # timestamp → double casts to epoch SECONDS (the shared
        # IcebergSnapshot/ParquetCatalog.Snapshot contract)
        "CAST(committed_at AS DOUBLE) AS committed_at, "
        "CAST(parent_id AS STRING) AS parent_id, "
        "operation, summary['run_id'] AS run_id "
        f"FROM {t}.snapshots WHERE snapshot_id IN "
        f"(SELECT snapshot_id FROM {t}.history WHERE is_current_ancestor) "
        "ORDER BY committed_at"
    )


def order_by_lineage(snaps: list[IcebergSnapshot]) -> list[IcebergSnapshot]:
    """Order snapshots by the parent_id chain. ``committed_at`` has
    millisecond precision and can TIE for rapid successive commits, making
    timestamp order nondeterministic where the contract requires lineage
    order (read_since/rollback_target walk history). Falls back to the
    input order if the chain is not a single line (shouldn't happen for an
    ancestry-filtered set)."""
    if len(snaps) <= 1:
        return snaps
    by_id = {s.snapshot_id: s for s in snaps}
    children = {s.parent_id: s for s in snaps if s.parent_id in by_id}
    roots = [s for s in snaps if s.parent_id not in by_id]
    if len(roots) != 1:
        return snaps
    out = [roots[0]]
    while out[-1].snapshot_id in children:
        out.append(children[out[-1].snapshot_id])
    return out if len(out) == len(snaps) else snaps


def add_files_sql(catalog: str, namespace: str, table: str,
                  src_dir: str) -> str:
    """Adopt an already-written parquet directory (the cheap half of
    single-pass fan-out) via the ``add_files`` procedure — a metadata-only
    commit, no data rewrite."""
    t = f"{namespace}.{table}"
    return (
        f"CALL {catalog}.system.add_files(table => '{sql_str(t)}', "
        f"source_table => '`parquet`.`{sql_str(src_dir)}`')"
    )


def select_snapshot_range(snaps: list[IcebergSnapshot],
                          snapshot_ids: list[str],
                          table: str) -> list[IcebergSnapshot]:
    """Resolve requested snapshot ids against table history for a range
    read. Raises on ids not in history (e.g. rolled-back / expired — a
    silent range read could replay other runs' data) and on non-contiguous
    requests (the incremental scan replays everything between the
    endpoints, so gaps would be replayed without being requested)."""
    wanted = [s for s in snaps if s.snapshot_id in set(snapshot_ids)]
    missing = set(snapshot_ids) - {s.snapshot_id for s in wanted}
    if missing:
        raise ValueError(
            f"table {table!r}: unknown snapshot ids {sorted(missing)}")
    if not wanted:
        raise ValueError(f"table {table!r}: no matching snapshots")
    for prev, cur in zip(wanted, wanted[1:]):
        if cur.parent_id != prev.snapshot_id:
            raise ValueError(
                f"table {table!r}: requested snapshots are not a "
                f"contiguous history run ({prev.snapshot_id} -> "
                f"{cur.snapshot_id} skips intermediate snapshots)")
    return wanted


def rollback_sql(catalog: str, namespace: str, table: str,
                 snapshot_id: str) -> str:
    t = f"{namespace}.{table}"
    # int() both validates (ids are numeric in Iceberg) and blocks
    # interpolating anything else into the statement
    return (
        f"CALL {catalog}.system.rollback_to_snapshot("
        f"table => '{sql_str(t)}', snapshot_id => {int(snapshot_id)})"
    )


def run_snapshots(snaps: list[IcebergSnapshot], run_id: str) -> list[IcebergSnapshot]:
    return [s for s in snaps if s.run_id == run_id]


def rollback_target(snaps: list[IcebergSnapshot], run_id: str) -> str | None:
    """The snapshot to roll back to when removing a run: the parent of the
    run's FIRST snapshot. Returns None when the run is unknown. Raises when
    the run's snapshots are not the contiguous tail of history (another
    run committed after it — rolling back would also drop that run's data;
    the caller must cherry-pick instead, which append-only pipelines avoid
    by rolling back crashed runs before starting new ones)."""
    mine = run_snapshots(snaps, run_id)
    if not mine:
        return None
    tail = snaps[-len(mine):]
    if [s.snapshot_id for s in tail] != [s.snapshot_id for s in mine]:
        raise ValueError(
            f"run {run_id!r} snapshots are not the tail of table history; "
            "roll back newer runs first"
        )
    return mine[0].parent_id


# -- the catalog -------------------------------------------------------------


class IcebergCatalog:
    """Same contract as ParquetCatalog, over a configured Iceberg catalog.

    Usage (production cluster)::

        spark = (SparkSession.builder
                 .config("spark.sql.catalog.wh", "org.apache.iceberg.spark.SparkCatalog")
                 .config("spark.sql.catalog.wh.type", "hadoop")
                 .config("spark.sql.catalog.wh.warehouse", "s3://bucket/wh")
                 .getOrCreate())
        cat = IcebergCatalog(spark, catalog="wh", namespace="beats")
    """

    def __init__(self, spark: SparkSession, catalog: str,
                 namespace: str = "default", probe: bool = True):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        if probe:
            self._probe()

    def _probe(self) -> None:
        try:
            self.spark.sql(
                f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
            )
        except Exception as e:  # noqa: BLE001 — any failure means no runtime
            raise RuntimeError(
                f"Iceberg catalog {self.catalog!r} is not usable — is the "
                "iceberg-spark-runtime jar on the classpath and "
                f"spark.sql.catalog.{self.catalog} configured? ({e})"
            ) from e

    def _t(self, table: str) -> str:
        return qualified(self.catalog, self.namespace, table)

    # -- snapshot log --------------------------------------------------------

    def _adopted_run_ids(self, table: str) -> dict[str, str]:
        """snapshot_id → run_id for snapshots stamped via the
        ``run-id.<snapshot_id>`` table properties (adopt_directory's
        mechanism, since CALL add_files cannot set snapshot summary
        properties)."""
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {self._t(table)}"
        ).collect()
        out = {}
        for r in rows:
            if r["key"].startswith("run-id."):
                out[r["key"][len("run-id."):]] = r["value"]
        return out

    def _run_intents(self, table: str) -> dict[str, str]:
        """run_id → src_dir for adopt_directory calls whose run-id stamp
        may not have landed (``run-intent.<run_id>`` table properties)."""
        rows = self.spark.sql(
            f"SHOW TBLPROPERTIES {self._t(table)}"
        ).collect()
        return {r["key"][len("run-intent."):]: r["value"]
                for r in rows if r["key"].startswith("run-intent.")}

    def _resolve_intent(self, table: str, run_id: str) -> None:
        """Recovery half of adopt_directory's crash window: if an intent
        for ``run_id`` is still recorded, the crash happened before the
        run-id stamp. Scan the current ancestry AFTER the intent's recorded
        anchor (the tail snapshot at intent time; a commit landing between
        the crashed add_files and recovery leaves the orphan mid-chain, so
        the whole post-anchor range is scanned, not just the tail) for
        unattributed snapshots. Snapshots at or before the anchor are
        ignored even when unattributed: append()/adopt with run_id=None is
        legal, and a pre-existing run-id-less batch must never be claimed
        by a crashed adopt (a later rollback_run would silently delete it).

        - exactly one orphan AND this is the only pending intent →
          attribute it to ``run_id`` so rollback and replay-dedup see it,
          then clear the intent;
        - no orphan → the add_files never committed; replay is safe, clear
          the intent;
        - multiple orphans, OR an orphan with multiple pending intents →
          ambiguous (which crashed adopt owns which snapshot?); leave the
          intent recorded and raise so the batch is not silently replayed
          into a double-append (or another run's batch deleted under this
          run's name by a later rollback)."""
        intents = self._run_intents(table)
        if run_id not in intents:
            return
        snaps = self.snapshots(table)
        val = intents[run_id]
        if val.startswith("v2:"):
            # current format: 'v2:<anchor>:<src_dir>' — explicit marker,
            # no sniffing (src_dir after the second ':' is diagnostic)
            anchor = val[3:].split(":", 1)[0]
        else:
            # legacy compatibility: pre-v2 anchored values were
            # '<anchor>:<src_dir>' and the oldest were bare src_dirs; the
            # anchor prefix must be snapshot-id-shaped (digits) or '-'
            # (empty table) — a URL like 's3://…' parses as legacy bare
            # (whole-ancestry scan), not as a bogus anchor
            prefix = val.split(":", 1)[0] if ":" in val else ""
            anchor = prefix if prefix == "-" or prefix.isdigit() else None
        start = 0
        if anchor and anchor != "-":
            idx = next((i for i, s in enumerate(snaps)
                        if s.snapshot_id == anchor), None)
            if idx is None and snaps:
                # anchor recorded but gone from the ancestry (expired or
                # rolled back past): the post-anchor window cannot be
                # reconstructed, and scanning everything could CLAIM a
                # legitimate pre-anchor run-id-less batch (which a later
                # rollback_run would delete) — refuse, like the other
                # ambiguous cases
                raise RuntimeError(
                    f"iceberg recovery: intent anchor snapshot {anchor!r} "
                    f"for run {run_id!r} is no longer in {table!r}'s "
                    "ancestry — cannot bound the recovery scan; intent "
                    "left in place for manual resolution"
                )
            start = idx + 1 if idx is not None else 0
        orphans = [s for s in snaps[start:] if s.run_id is None]
        if len(orphans) > 1:
            raise RuntimeError(
                f"iceberg recovery: {len(orphans)} unattributed snapshots "
                f"in {table!r} ancestry while resolving run-intent "
                f"{run_id!r} — cannot attribute safely; intent left in "
                "place for manual resolution"
            )
        if orphans and len(intents) > 1:
            raise RuntimeError(
                f"iceberg recovery: {len(intents)} pending run-intents "
                f"({sorted(intents)}) but one unattributed snapshot in "
                f"{table!r} — attributing it to {run_id!r} could claim "
                "another crashed run's commit (and a later rollback would "
                "delete that run's batch under this run's name); intents "
                "left in place for manual resolution"
            )
        if orphans:
            self.spark.sql(
                f"ALTER TABLE {self._t(table)} SET TBLPROPERTIES "
                f"('run-id.{orphans[0].snapshot_id}' = '{sql_str(run_id)}')"
            )
        self.spark.sql(
            f"ALTER TABLE {self._t(table)} UNSET TBLPROPERTIES IF EXISTS "
            f"('run-intent.{sql_str(run_id)}')"
        )

    def snapshots(self, table: str) -> list[IcebergSnapshot]:
        if not self.exists(table):
            return []
        rows = self.spark.sql(
            snapshots_sql(self.catalog, self.namespace, table)
        ).collect()
        adopted = self._adopted_run_ids(table)
        return order_by_lineage([
            IcebergSnapshot(
                snapshot_id=r["snapshot_id"],
                committed_at=float(r["committed_at"]),
                run_id=r["run_id"] or adopted.get(r["snapshot_id"]),
                parent_id=r["parent_id"],
                operation=r["operation"],
            )
            for r in rows
        ])

    def latest_snapshot(self, table: str) -> IcebergSnapshot | None:
        snaps = self.snapshots(table)
        return snaps[-1] if snaps else None

    def new_snapshot_id(self, table: str) -> str:
        # Iceberg assigns its own ids at commit; this is only a client token
        return uuid.uuid4().hex[:16]

    # -- write ---------------------------------------------------------------

    def append(self, df: DataFrame | pa.Table, table: str,
               run_id: str | None = None) -> IcebergSnapshot:
        if isinstance(df, pa.Table):
            df = self.spark.createDataFrame(df)
        w = df.writeTo(self._t(table)).using("iceberg")
        if run_id:
            w = w.option("snapshot-property.run_id", run_id)
        w.createOrReplace() if not self.exists(table) else w.append()
        snap = self.latest_snapshot(table)
        assert snap is not None
        return snap

    def adopt_directory(self, src_dir: str, table: str,
                        run_id: str | None = None) -> IcebergSnapshot:
        """Metadata-only adoption of a staged parquet dir (add_files).

        ``CALL add_files`` cannot set snapshot SUMMARY properties, so the
        run id is recorded as a ``run-id.<snapshot_id>`` TABLE property
        keyed by the snapshot the call just created; snapshots() merges it
        back so rollback_run/incomplete_runs see adopted snapshots exactly
        like written ones.

        Crash safety: a ``run-intent.<run_id>`` property is committed
        BEFORE add_files and cleared after the run-id stamp. A crash
        between add_files and the stamp would otherwise leave a committed
        snapshot nobody can attribute — rollback_run would no-op and the
        replayed batch would duplicate its rows; the intent lets recovery
        attribute the unstamped tail snapshot to the crashed run (see
        _resolve_intent)."""
        if run_id:
            # the intent value records the tail snapshot id at intent time
            # ("-" for an empty table) so recovery only considers snapshots
            # committed AFTER it: a pre-existing unattributed snapshot
            # (append()/adopt with run_id=None is legal) must never be
            # claimed by a crashed adopt (src_dir after ':' is diagnostic)
            tail = self.latest_snapshot(table)
            anchor = tail.snapshot_id if tail else "-"
            # 'v2:' marks the anchored format unambiguously — recovery
            # must never have to SNIFF whether a value is an anchor or a
            # legacy bare src_dir (a relative dir like '123:x' would
            # otherwise misparse as an anchor)
            self.spark.sql(
                f"ALTER TABLE {self._t(table)} SET TBLPROPERTIES "
                f"('run-intent.{sql_str(run_id)}' = "
                f"'{sql_str(f'v2:{anchor}:{src_dir}')}')"
            )
        self.spark.sql(
            add_files_sql(self.catalog, self.namespace, table, src_dir)
        )
        snap = self.latest_snapshot(table)
        assert snap is not None
        if run_id:
            self.spark.sql(
                f"ALTER TABLE {self._t(table)} SET TBLPROPERTIES "
                f"('run-id.{snap.snapshot_id}' = '{sql_str(run_id)}')"
            )
            self.spark.sql(
                f"ALTER TABLE {self._t(table)} UNSET TBLPROPERTIES IF EXISTS "
                f"('run-intent.{sql_str(run_id)}')"
            )
            snap.run_id = run_id
        return snap

    # -- read ----------------------------------------------------------------

    def exists(self, table: str) -> bool:
        return self.spark.catalog.tableExists(self._t(table))

    def read(self, table: str,
             snapshot_ids: list[str] | None = None) -> DataFrame:
        if snapshot_ids is None:
            return self.spark.read.format("iceberg").load(self._t(table))
        # append-only history: a contiguous snapshot range reads as one
        # incremental scan (start exclusive, end inclusive). Iceberg
        # REJECTS end-snapshot-id without start-snapshot-id, so a range
        # starting at the table's first snapshot reads as-of the end
        # snapshot instead (equivalent for append-only history).
        wanted = select_snapshot_range(
            self.snapshots(table), snapshot_ids, table)
        start = wanted[0].parent_id
        reader = self.spark.read.format("iceberg")
        if start is not None:
            reader = (reader.option("start-snapshot-id", start)
                      .option("end-snapshot-id", wanted[-1].snapshot_id))
        else:
            reader = reader.option("snapshot-id", wanted[-1].snapshot_id)
        return reader.load(self._t(table))

    def read_arrow(self, table: str, columns: list[str]) -> pa.Table:
        """``columns`` of the table as Arrow (the bookkeeping reads of
        ``Pipeline.run_incremental`` and the streaming runner)."""
        return self.read(table).select(*columns).toArrow()

    def read_since(self, table: str, after_snapshot_id: str | None
                   ) -> tuple[DataFrame | None, list[str]]:
        snaps = self.snapshots(table)
        if after_snapshot_id is not None:
            idx = next((i for i, s in enumerate(snaps)
                        if s.snapshot_id == after_snapshot_id), None)
            if idx is None:
                raise ValueError(
                    f"unknown snapshot {after_snapshot_id!r} in {table!r}")
            snaps = snaps[idx + 1:]
        if not snaps:
            return None, []
        reader = self.spark.read.format("iceberg")
        if after_snapshot_id is not None:
            reader = (reader.option("start-snapshot-id", after_snapshot_id)
                      .option("end-snapshot-id", snaps[-1].snapshot_id))
        else:
            # first resume (no checkpoint): everything up to the last
            # snapshot — as-of read, since end-snapshot-id alone is invalid
            reader = reader.option("snapshot-id", snaps[-1].snapshot_id)
        return (reader.load(self._t(table)),
                [s.snapshot_id for s in snaps])

    # -- recovery -------------------------------------------------------------

    def tables(self) -> list[str]:
        rows = self.spark.sql(
            f"SHOW TABLES IN {self.catalog}.{self.namespace}"
        ).collect()
        return sorted(r["tableName"] for r in rows)

    def rollback_run(self, run_id: str) -> dict[str, int]:
        removed: dict[str, int] = {}
        for table in self.tables():
            self._resolve_intent(table, run_id)
            snaps = self.snapshots(table)
            target = rollback_target(snaps, run_id)
            mine = run_snapshots(snaps, run_id)
            if not mine:
                continue
            if target is None:
                # run created the table: drop it entirely
                self.spark.sql(f"DROP TABLE {self._t(table)}")
            else:
                self.spark.sql(rollback_sql(
                    self.catalog, self.namespace, table, target))
                # drop the rolled-back snapshots' run-id properties — the
                # ancestry filter already hides the snapshots, but stale
                # properties would otherwise accumulate forever
                for s in mine:
                    self.spark.sql(
                        f"ALTER TABLE {self._t(table)} UNSET TBLPROPERTIES "
                        f"IF EXISTS ('run-id.{s.snapshot_id}')"
                    )
            removed[table] = len(mine)
        return removed

    def incomplete_runs(self, lineage_table: str = "lineage") -> set[str]:
        per_table = {
            # an unresolved adopt intent marks its run incomplete even when
            # the crash hit before the run-id stamp landed
            t: ({s.run_id for s in self.snapshots(t) if s.run_id}
                | set(self._run_intents(t)))
            for t in self.tables()
        }
        lineage_runs: set[str] = per_table.get(lineage_table, set())
        return incomplete_run_ids(per_table, lineage_runs, lineage_table)
