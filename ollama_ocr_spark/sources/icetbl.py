"""icetbl — a thin Iceberg-style snapshot table layer over Parquet.

The sandbox has no Iceberg runtime jar (SURVEY.md §7.0), so this module
provides the three semantics the pipeline relies on, with the same shape as
Iceberg's so a production deployment swaps in ``df.writeTo(tbl).append()``:

- **atomic append commits**: data files land under ``data/``, then a new
  snapshot JSON is published with ``os.link`` (atomic on POSIX) into
  ``_log/v{N}.json`` listing *all* live files. Readers never see a
  half-commit.
- **snapshot reads**: ``read(spark)`` reads the latest committed snapshot;
  ``read(spark, snapshot_id=k)`` time-travels.
- **resume anchor**: ``current_snapshot_id`` is what a restarted job
  anti-joins against (operators.maintenance.resume_anti_join).

Layout::

    <root>/
      data/part-<snapshot>-<uuid>.parquet ...
      _log/v1.json  v2.json ...   # {"snapshot_id": N, "parent": N-1,
                                  #  "operation": "append"|"replace",
                                  #  "compaction": K|null, "files": [...]}

Who writes the data files: :meth:`IceTable.append` writes a
``pyarrow.Table`` on the driver and a DataFrame with a Spark parquet
write (through a staging dir), then commits them. ``run_extract``'s
extract tasks write their own files from the kernel's Python worker
(``maintenance.parquet_sink``), and the driver commits exactly the paths
the tasks reported with :meth:`IceTable.commit`; nothing lists ``data/``
to find a commit's files. Either way a file is named for the snapshot it
is written for (:func:`data_file`), and a writer that crashes, or a
failed or speculative task attempt, leaves ``part-<sid>-`` files that no
snapshot lists: orphans, which :meth:`IceTable.expire_snapshots` deletes.

This is deliberately a *table format*, not a query engine feature — all
reads go through ``spark.read.parquet(files...)`` so Catalyst still does
pushdown/pruning on the data files.
"""

from __future__ import annotations

import json
import os
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.errors.exceptions.captured import AnalysisException


class ConcurrentCommitError(RuntimeError):
    """Another writer published this snapshot id first (optimistic
    concurrency, as in Iceberg): re-read and retry."""


@dataclass
class Snapshot:
    snapshot_id: int
    parent: int | None
    files: list[str]
    # Iceberg's snapshot operation: "append" adds rows, "replace" (a
    # compaction) rewrites existing rows into new files.
    operation: str = "append"
    # The compaction snapshot whose rewritten files this one still lists,
    # so they are known as rewrites after that snapshot's log expired.
    compaction: int | None = None

    def added_files(self) -> list[str]:
        """The files this snapshot wrote (named by :func:`data_file`),
        known without its parent, which may be expired."""
        return files_of(self.files, self.snapshot_id)


def data_file(data_dir: str, sid: int) -> str:
    """A new data file path for snapshot ``sid``:
    ``<data_dir>/part-<sid>-<uuid>.parquet``."""
    return os.path.join(data_dir, f"part-{sid}-{uuid.uuid4().hex}.parquet")


def files_of(files: list[str], sid: int) -> list[str]:
    """The paths in ``files`` that were written for snapshot ``sid``."""
    prefix = f"part-{sid}-"
    return [f for f in files if os.path.basename(f).startswith(prefix)]


class IceTable:
    def __init__(self, root: str) -> None:
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.log_dir = os.path.join(root, "_log")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.log_dir, exist_ok=True)

    # -- snapshot log ------------------------------------------------------
    def _snapshot_path(self, sid: int) -> str:
        return os.path.join(self.log_dir, f"v{sid}.json")

    def current_snapshot_id(self) -> int | None:
        sids = [
            int(f[1:-5])
            for f in os.listdir(self.log_dir)
            if f.startswith("v") and f.endswith(".json")
        ]
        return max(sids) if sids else None

    def snapshot(self, sid: int | None = None) -> Snapshot | None:
        if sid is None:
            sid = self.current_snapshot_id()
        if sid is None:
            return None
        try:
            with open(self._snapshot_path(sid)) as fh:
                payload = json.load(fh)
        except FileNotFoundError:  # expired snapshot
            return None
        return Snapshot(payload["snapshot_id"], payload.get("parent"),
                        payload["files"], payload.get("operation", "append"),
                        payload.get("compaction"))

    # -- write path ----------------------------------------------------------
    def append(self, df: DataFrame | pa.Table) -> int:
        """Append df as a new snapshot; returns the new snapshot id.

        A ``pyarrow.Table`` (a few driver-side rows) is written as one file
        by ``pyarrow.parquet`` on the driver, with no Spark job."""
        parent = self.snapshot()
        new_sid = (parent.snapshot_id + 1) if parent else 1
        return self.commit(new_sid, self._write_files(df, new_sid))

    def commit(self, new_sid: int, files: list[str]) -> int:
        """Publish snapshot ``new_sid``: its parent ``new_sid - 1``'s files
        plus ``files``, already written for ``new_sid`` (named by
        :func:`data_file`). ``files`` may be empty: the snapshot then adds
        no rows. Raises :class:`ConcurrentCommitError` when another writer
        published ``new_sid`` first, or the parent's log is gone (another
        writer moved on and expired it). Returns ``new_sid``."""
        parent = self.snapshot(new_sid - 1) if new_sid > 1 else None
        if new_sid > 1 and parent is None:
            raise ConcurrentCommitError(
                f"parent snapshot v{new_sid - 1} is gone; re-read the table "
                "and retry the append")
        self._publish(new_sid, parent.snapshot_id if parent else None,
                      (parent.files if parent else []) + files,
                      compaction=parent.compaction if parent else None)
        return new_sid

    def _write_files(self, df: DataFrame | pa.Table, new_sid: int
                     ) -> list[str]:
        """Write df into ``data/`` as ``part-<new_sid>-<uuid>.parquet``
        files (a Spark write goes through a staging dir); returns their
        paths. No snapshot lists them until :meth:`commit`."""
        if isinstance(df, pa.Table):
            final = data_file(self.data_dir, new_sid)
            pq.write_table(df, final)
            return [final]
        staging = os.path.join(self.data_dir, f"_stage-{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(staging)
        new_files = []
        for name in sorted(os.listdir(staging)):
            if not name.endswith(".parquet"):
                continue
            final = data_file(self.data_dir, new_sid)
            os.rename(os.path.join(staging, name), final)
            new_files.append(final)
        # best-effort cleanup of the staging dir's marker files
        for leftover in os.listdir(staging):
            os.remove(os.path.join(staging, leftover))
        os.rmdir(staging)
        return new_files

    def _publish(self, new_sid: int, parent_sid: int | None,
                 files: list[str], operation: str = "append",
                 compaction: int | None = None) -> None:
        """Atomically publish snapshot ``new_sid`` listing ``files``.

        Atomic CREATE, not rename: os.rename silently REPLACES an existing
        snapshot, which would lose a concurrent writer's commit. os.link
        fails with EEXIST if another writer won the race — the Iceberg
        optimistic-commit contract (loser must retry against the new
        parent).
        """
        tmp = self._snapshot_path(new_sid) + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as fh:
            json.dump(
                {"snapshot_id": new_sid, "parent": parent_sid,
                 "operation": operation, "compaction": compaction,
                 "files": files},
                fh,
            )
        try:
            os.link(tmp, self._snapshot_path(new_sid))
        except FileExistsError as exc:
            raise ConcurrentCommitError(
                f"snapshot v{new_sid} was committed by another writer; "
                "re-read the table and retry the append"
            ) from exc
        finally:
            os.unlink(tmp)

    # -- read path -----------------------------------------------------------
    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame | None:
        snap = self.snapshot(snapshot_id)
        if snap is None or not snap.files:
            return None
        return spark.read.parquet(*snap.files)

    # -- maintenance (Iceberg rewrite_data_files / expire_snapshots analogs) --
    def compact(self, spark: SparkSession, target_files: int = 1) -> int | None:
        """Rewrite the current snapshot's data into ``target_files`` files
        and publish a new snapshot referencing ONLY the rewritten files.

        Append-heavy tables accumulate a file per commit per partition; at
        scale that means millions of small files and scan-planning blowup —
        periodic compaction is the standard Iceberg maintenance op
        (``rewrite_data_files``). Old snapshots still reference the old
        files, so time travel keeps working until :meth:`expire_snapshots`.
        """
        snap = self.snapshot()
        if snap is None or not snap.files:
            return None
        df = spark.read.parquet(*snap.files).coalesce(target_files)
        new_sid = snap.snapshot_id + 1
        self._publish(new_sid, snap.snapshot_id,
                      self._write_files(df, new_sid), operation="replace",
                      compaction=new_sid)
        return new_sid

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Drop all but the newest ``keep_last`` snapshots and delete data
        files no live snapshot references (Iceberg ``expire_snapshots``).
        That includes orphans: ``part-<sid>-`` files a crashed writer left
        before its commit, or a failed or speculative task attempt wrote. Only orphans
        with ``sid`` <= the current id go, since a higher ``sid`` may
        belong to a writer still in flight. Returns the deleted file
        paths."""
        current = self.current_snapshot_id()
        if current is None:
            return []
        cutoff = current - keep_last
        live_files: set[str] = set()
        expired_sids = []
        for sid in range(1, current + 1):
            snap = self.snapshot(sid)
            if snap is None:
                continue
            if sid > cutoff:
                live_files.update(snap.files)
            else:
                expired_sids.append(sid)
        deleted = []
        for sid in expired_sids:
            for f in self.snapshot(sid).files:
                if f not in live_files and os.path.exists(f):
                    os.remove(f)
                    deleted.append(f)
            os.remove(self._snapshot_path(sid))
        # Compare basenames: a table opened under another spelling of its
        # root lists the same files under other paths.
        live_names = {os.path.basename(f) for f in live_files}
        for name in os.listdir(self.data_dir):
            parts = name.split("-")
            if (name.endswith(".parquet") and parts[0] == "part"
                    and parts[1].isdigit() and int(parts[1]) <= current
                    and name not in live_names):
                orphan = os.path.join(self.data_dir, name)
                os.remove(orphan)
                deleted.append(orphan)
        return sorted(set(deleted))


def snapshot_lifecycle_report(spark: SparkSession, docs: DataFrame,
                              root: str) -> DataFrame:
    """Snapshot-GC audit over the full :class:`IceTable` lifecycle — the
    maintenance report an Iceberg operator reads before/after running
    ``rewrite_data_files`` + ``expire_snapshots`` (the reference's
    append-per-run output dir has no snapshot story at all; this is the
    table-format side of resumability, SURVEY.md §2 N5).

    Drives a deterministic scenario against a fresh table at ``root``:
    three single-file appends (``doc_id % 3`` slices of ``docs``,
    repartitioned to 1 so file counts are exact), one compaction to a
    single rewritten file, then ``expire_snapshots(keep_last=1)`` which
    must reclaim exactly the three pre-compaction data files (the
    rewritten file is the only live reference). Emits one row per
    lifecycle step::

        (step, phase, snapshot_id, n_files, n_rows, reclaimed_files)

    ``n_rows`` is read back THROUGH the snapshot layer (``tbl.read``), so
    the row verifies commit atomicity + read path, not just bookkeeping.
    The result is a collected 5-row table (bounded: 5 counts + 5 scalar
    rows — driver-side by design, like shard_manifest's verification
    row). Scale shape: each append/compact is a distributed write; the
    audit itself touches only the snapshot log.
    """
    tbl = IceTable(root)
    slim = docs.select("doc_id")
    rows: list[tuple] = []
    step = 0
    for k in range(3):
        sid = tbl.append(slim.filter(F.col("doc_id") % 3 == k).repartition(1))
        snap = tbl.snapshot(sid)
        step += 1
        rows.append((step, "append", sid, len(snap.files),
                     tbl.read(spark).count(), 0))
    sid = tbl.compact(spark, target_files=1)
    snap = tbl.snapshot(sid)
    step += 1
    rows.append((step, "compact", sid, len(snap.files),
                 tbl.read(spark).count(), 0))
    deleted = tbl.expire_snapshots(keep_last=1)
    snap = tbl.snapshot()
    step += 1
    rows.append((step, "expire", snap.snapshot_id, len(snap.files),
                 tbl.read(spark).count(), len(deleted)))
    return spark.createDataFrame(
        rows,
        "step bigint, phase string, snapshot_id bigint, n_files bigint, "
        "n_rows bigint, reclaimed_files bigint",
    )


class CatalogTable:
    """Real-table-format path (feature-flagged): the same duck-type API as
    :class:`IceTable` over a Spark catalog table via the DataSourceV2
    ``writeTo`` API.

    With an Iceberg catalog configured (runtime jar +
    ``spark.sql.catalog.<name>`` conf — absent in this sandbox, SURVEY.md
    §7.0), appends are Iceberg snapshot commits, ``current_snapshot_id``
    reads the ``<tbl>.snapshots`` metadata table, and time travel uses the
    ``snapshot-id`` read option. With any other V2 catalog the write/read
    mechanics still work; snapshot-dependent methods degrade to ``None``
    (callers treat the table as append-only without time travel).
    """

    def __init__(self, spark: SparkSession, identifier: str,
                 using: str = "iceberg") -> None:
        self.spark = spark
        self.identifier = identifier
        self.using = using

    def _exists(self) -> bool:
        return self.spark.catalog.tableExists(self.identifier)

    def append(self, df: DataFrame) -> int | None:
        if self._exists():
            try:
                df.writeTo(self.identifier).append()
            except AnalysisException:
                # session-catalog v1 tables reject V2 appends ("Cannot write
                # into v1 table"); fall back to the positional v1 insert.
                df.write.insertInto(self.identifier)
        else:
            df.writeTo(self.identifier).using(self.using).create()
        return self.current_snapshot_id()

    def current_snapshot_id(self) -> int | None:
        try:
            row = self.spark.sql(
                f"SELECT snapshot_id FROM {self.identifier}.snapshots "
                "ORDER BY committed_at DESC LIMIT 1"
            ).first()
        except Exception:
            return None  # catalog without Iceberg snapshot metadata
        return int(row["snapshot_id"]) if row else None

    def read(self, spark: SparkSession | None = None,
             snapshot_id: int | None = None) -> DataFrame | None:
        spark = spark or self.spark
        if not self._exists():
            return None
        if snapshot_id is not None:
            return (
                spark.read.option("snapshot-id", str(snapshot_id))
                .table(self.identifier)
            )
        return spark.table(self.identifier)


def open_table(root_or_identifier: str, spark: SparkSession | None = None,
               fmt: str | None = None):
    """Table factory behind the ``SPARK_GRAFT_TABLE_FORMAT`` feature flag:
    ``icetbl`` (default — snapshot-log-over-parquet, zero dependencies) or
    ``iceberg`` (catalog-backed ``writeTo`` path; requires the runtime jar
    and a SparkSession)."""
    fmt = fmt or os.environ.get("SPARK_GRAFT_TABLE_FORMAT", "icetbl")
    if fmt == "iceberg":
        if spark is None:
            raise ValueError("table format 'iceberg' needs a SparkSession")
        return CatalogTable(spark, root_or_identifier)
    return IceTable(root_or_identifier)
