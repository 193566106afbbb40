"""End-to-end extraction job: the Spark-native lifecycle of the reference's
``python ocr_router.py`` batch run (SURVEY.md §3 EP1).

    read pages → url-balanced latest-capture dedup (N3) → resume anti-join
    vs committed results (N2) → mapInArrow extract (R1-R3/T1-T5) → results
    append + lineage/metrics append (S9/S10), both anchored to one
    snapshot id (resume correctness, SURVEY §7.3.4).

``run_extract`` reads the corpus once: the results append is its only
pass over the data, and the kernel's ``mapInArrow`` is its only Python
stage. Its statistics ride along on that write instead of re-reading the
data. ``docs_in`` is an ``Observation`` count on the dedup output (one
row per url). Each extract task folds its partition's lineage row in the
kernel's own Python worker, as the result batches stream out
(``maintenance.lineage_tap``, a ``map_rows`` tap), and reports it through
a partition-keyed accumulator, so ``docs_extracted`` is the sum of the
rows' ``doc_count``. The driver then writes those few rows to the
metrics table as one parquet file, with no Spark job. Into empty tables
the run is two Spark jobs: scan → exchange, then kernel + lineage fold +
results write.

Designed for a 1000-executor cluster; in-sandbox it runs on local[N].
"""

from __future__ import annotations

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
    lineage_tap,
    partition_lineage,
    resume_anti_join,
)
from .sources.icetbl import IceTable


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

    Covered, so never backfilled: a snapshot that has metrics rows, one
    whose log is gone (expired), a compaction (``replace``: its rows were
    already counted when appended) and one whose new files hold no rows
    (an idle re-run). The covered ids and the row counts are read from
    parquet on the driver, with no Spark job.
    """
    last_results = results_tbl.current_snapshot_id()
    if last_results is None:
        return []
    covered: set[int] = set()
    metrics_snap = metrics_tbl.snapshot()
    if metrics_snap is not None:
        for f in metrics_snap.files:
            covered.update(pq.read_table(
                f, columns=["snapshot_id"]).column(0).to_pylist())
    repaired = []
    for sid in range(1, last_results + 1):
        if sid in covered:
            continue
        snap = results_tbl.snapshot(sid)
        if snap is None or snap.operation == "replace":
            continue
        new_files = snap.added_files()
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
    so a half-written run is invisible to the next attempt.
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

    done = results_tbl.read(spark)
    todo = resume_anti_join(deduped, done) if done is not None else deduped

    lineage = spark.sparkContext.accumulator({}, RowsByPartition())
    snapshot_id = results_tbl.append(extract_stage(todo, lineage_tap(lineage)))

    rows = sorted(lineage.value.values(), key=lambda r: r["partition_id"])
    if rows:
        metrics_tbl.append(_with_snapshot_id(
            pa.Table.from_pylist(rows, schema=LINEAGE_SCHEMA), snapshot_id))

    return RunStats(
        docs_in=docs_in.get["docs"],
        docs_extracted=sum(r["doc_count"] for r in rows),
        snapshot_id=snapshot_id,
        wall_secs=time.monotonic() - t0,
    )
