"""End-to-end extraction job: the Spark-native lifecycle of the reference's
``python ocr_router.py`` batch run (SURVEY.md §3 EP1).

    read pages → latest-capture dedup (N3) → resume anti-join vs committed
    results (N2) → host-salt repartition (N6/N7) → mapInArrow extract
    (R1-R3/T1-T5) → results append + lineage/metrics append (S9/S10),
    both anchored to one snapshot id (resume correctness, SURVEY §7.3.4).

Designed for a 1000-executor cluster; in-sandbox it runs on local[N].
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.extract import extract_stage
from .operators.maintenance import (
    latest_pages,
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
    bytes_in / checksum are content-derived and therefore identical.
    """
    last_results = results_tbl.current_snapshot_id()
    if last_results is None:
        return []
    metrics = metrics_tbl.read(spark)
    covered: set[int] = set()
    if metrics is not None:
        covered = {
            r["snapshot_id"]
            for r in metrics.select("snapshot_id").distinct().collect()
        }
    repaired = []
    for sid in range(1, last_results + 1):
        if sid in covered:
            continue
        snap = results_tbl.snapshot(sid)
        parent = results_tbl.snapshot(snap.parent) if snap.parent else None
        new_files = [
            f for f in snap.files
            if parent is None or f not in set(parent.files)
        ]
        if not new_files:
            continue
        delta = spark.read.parquet(*new_files)
        lineage = partition_lineage(delta).withColumn(
            "snapshot_id", F.lit(sid)
        )
        metrics_tbl.append(lineage)
        repaired.append(sid)
    return repaired


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

    deduped = latest_pages(pages, num_partitions)

    done = results_tbl.read(spark)
    todo = resume_anti_join(deduped, done) if done is not None else deduped

    results = extract_stage(todo)

    # One pass computes results + lineage: cache the (small, text-only)
    # extraction output, not the raw html.
    results = results.persist()
    try:
        docs_extracted = results.count()
        snapshot_id = results_tbl.append(results)

        lineage = partition_lineage(results).withColumn(
            "snapshot_id", F.lit(snapshot_id)
        )
        metrics_tbl.append(lineage)
    finally:
        results.unpersist()

    # docs_in = unique documents in the input. Counting `deduped` would
    # RE-EXECUTE the payload repartition + dedup window (a second full
    # pass over the corpus, just for a stat); the distinct-url count is
    # the same number from a column-pruned scan that never touches html.
    docs_in = pages.select("url").distinct().count()
    return RunStats(
        docs_in=docs_in,
        docs_extracted=docs_extracted,
        snapshot_id=snapshot_id,
        wall_secs=time.monotonic() - t0,
    )
