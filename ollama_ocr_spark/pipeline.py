"""End-to-end extraction job: the Spark-native lifecycle of the reference's
``python ocr_router.py`` batch run (SURVEY.md §3 EP1).

    read pages → url-balanced latest-capture dedup (N3) → resume anti-join
    vs committed results (N2) → mapInArrow extract (R1-R3/T1-T5) → results
    append + lineage/metrics append (S9/S10), both anchored to one
    snapshot id (resume correctness, SURVEY §7.3.4).

``run_extract`` reads the corpus once, and the kernel's ``mapInArrow``
is its only Python stage. The results never go back through the JVM:
each extract task writes its own result batches with ``pyarrow.parquet``
into the results table's ``data/`` directory, in the kernel's own Python
worker (``maintenance.parquet_sink``, a ``map_rows`` tap that yields no
batches, so the action is a ``noop`` write). As the batches stream out
the task folds its partition's lineage row, and it reports the row with
its file's path through a partition-keyed accumulator. The driver then
publishes exactly the reported files as the new results snapshot
(``IceTable.commit``) and writes the lineage rows to the metrics table
as one parquet file, with no Spark job; ``docs_extracted`` is the sum of
the rows' ``doc_count``. A failed or speculative task attempt's file is
never reported, so no snapshot lists it; ``IceTable.expire_snapshots``
deletes such orphans. ``docs_in`` is an ``Observation`` count on the
dedup output (one row per url). Into empty tables the run is two Spark
jobs: scan → exchange, then kernel + lineage fold + file write.

Designed for a 1000-executor cluster; in-sandbox it runs on local[N].
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .operators.extract import extract_stage
from .operators.maintenance import (
    LINEAGE_SCHEMA,
    RowsByPartition,
    latest_pages,
    parquet_sink,
    partition_lineage,
    resume_anti_join,
)
from .sources.icetbl import IceTable, files_of


@dataclass
class RunStats:
    docs_in: int
    docs_extracted: int
    snapshot_id: int
    wall_secs: float


def repair_metrics(spark: SparkSession, results_tbl: IceTable,
                   metrics_tbl: IceTable) -> list[int]:
    """Backfill lineage for results snapshots that committed without their
    metrics rows (crash window between the two appends).

    The two tables cannot commit in one atomic snapshot (separate icetbl
    roots, like separate Iceberg tables), so the recovery contract is:
    results commit FIRST, metrics reference the results snapshot id, and any
    run starts by backfilling metrics for orphaned results snapshots. The
    backfilled partition_id reflects the repair read, but doc_count /
    bytes_in / checksum are content-derived and therefore identical
    (``stage_secs.total`` copies ``parse``: no kernel ran).

    Covered, so never backfilled: a snapshot that has metrics rows, a
    compaction (``replace``: its rows were already counted when appended)
    and one whose new files hold no rows (an idle re-run). A snapshot
    whose log is gone (expired) is known by the current snapshot's
    ``part-<sid>-`` files, and by its ``compaction`` id if it was one. The
    covered ids and the row counts are read from parquet on the driver,
    with no Spark job.
    """
    current = results_tbl.snapshot()
    if current is None:
        return []
    covered: set[int] = set()
    metrics_snap = metrics_tbl.snapshot()
    if metrics_snap is not None:
        for f in metrics_snap.files:
            covered.update(pq.read_table(
                f, columns=["snapshot_id"]).column(0).to_pylist())
    repaired = []
    for sid in range(1, current.snapshot_id + 1):
        if sid in covered or sid == current.compaction:
            continue
        snap = results_tbl.snapshot(sid)
        if snap is not None and snap.operation == "replace":
            continue
        new_files = (files_of(current.files, sid) if snap is None
                     else snap.added_files())
        if sum(pq.read_metadata(f).num_rows for f in new_files) == 0:
            continue
        lineage = partition_lineage(spark.read.parquet(*new_files)).toArrow()
        metrics_tbl.append(_with_snapshot_id(lineage, sid))
        repaired.append(sid)
    return repaired


def _with_snapshot_id(lineage: pa.Table, sid: int) -> pa.Table:
    return lineage.append_column(
        "snapshot_id", pa.array([sid] * lineage.num_rows, pa.int32()))


def run_extract(
    spark: SparkSession,
    pages: DataFrame,
    results_tbl: IceTable,
    metrics_tbl: IceTable,
    num_partitions: int | None = None,
) -> RunStats:
    """Run (or resume) the extraction job over ``pages``.

    Re-running after a crash is safe: documents whose urls are already in
    the committed results snapshot are anti-joined away, and the
    results/metrics appends are published atomically (icetbl snapshot),
    so a half-written run is invisible to the next attempt. A run that
    extracts nothing publishes a results snapshot with no new file and no
    metrics snapshot.
    """
    t0 = time.monotonic()

    # Recover lineage for any results snapshot whose metrics append was
    # lost to a crash (resume correctness, SURVEY §7.3.4).
    repair_metrics(spark, results_tbl, metrics_tbl)

    # One row per url (a null url included), so the count equals the
    # input's distinct-url count.
    docs_in = Observation()
    deduped = latest_pages(pages, num_partitions).observe(
        docs_in, F.count(F.lit(1)).alias("docs"))

    # The resume reads the new snapshot's parent, so a writer that commits
    # in between makes ours fail (ConcurrentCommitError) instead of
    # slipping past the anti-join.
    parent = results_tbl.current_snapshot_id()
    done = results_tbl.read(spark, parent) if parent else None
    todo = resume_anti_join(deduped, done) if done is not None else deduped

    snapshot_id = (parent or 0) + 1
    reported = spark.sparkContext.accumulator({}, RowsByPartition())
    sink = parquet_sink(reported, os.path.abspath(results_tbl.data_dir),
                        snapshot_id)
    extract_stage(todo, sink).write.format("noop").mode("overwrite").save()
    parts = [reported.value[pid] for pid in sorted(reported.value)]
    results_tbl.commit(snapshot_id, [path for path, _ in parts])

    rows = [row for _, row in parts]
    if rows:
        metrics_tbl.append(_with_snapshot_id(
            pa.Table.from_pylist(rows, schema=LINEAGE_SCHEMA), snapshot_id))

    return RunStats(
        docs_in=docs_in.get["docs"],
        docs_extracted=sum(r["doc_count"] for r in rows),
        snapshot_id=snapshot_id,
        wall_secs=time.monotonic() - t0,
    )
