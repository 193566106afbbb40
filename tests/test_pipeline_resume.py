"""icetbl snapshot semantics + pipeline resume correctness (SURVEY §7.3.4)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ollama_ocr_spark.operators.extract import synthesize_stage
from ollama_ocr_spark.pipeline import run_extract
from ollama_ocr_spark.sources.icetbl import IceTable


def test_icetbl_append_and_time_travel(spark, tmp_path):
    tbl = IceTable(str(tmp_path / "t"))
    assert tbl.read(spark) is None
    df1 = spark.range(5).withColumn("tag", F.lit("a"))
    sid1 = tbl.append(df1)
    df2 = spark.range(3).withColumn("tag", F.lit("b"))
    sid2 = tbl.append(df2)
    assert (sid1, sid2) == (1, 2)
    assert tbl.read(spark).count() == 8
    assert tbl.read(spark, snapshot_id=1).count() == 5
    assert tbl.current_snapshot_id() == 2


def test_icetbl_compact_and_expire(spark, tmp_path):
    """Iceberg-maintenance analogs: compaction rewrites the live snapshot
    into fewer files (time travel intact), expire_snapshots then deletes
    unreferenced files and old snapshot logs."""
    import glob

    tbl = IceTable(str(tmp_path / "t"))
    for i in range(3):
        tbl.append(spark.range(10).withColumn("tag", F.lit(str(i))))
    files_before = len(tbl.snapshot().files)
    assert files_before >= 3

    sid = tbl.compact(spark, target_files=1)
    assert sid == 4
    assert tbl.read(spark).count() == 30
    assert len(tbl.snapshot().files) == 1
    # time travel to a pre-compaction snapshot still works
    assert tbl.read(spark, snapshot_id=2).count() == 20

    deleted = tbl.expire_snapshots(keep_last=1)
    assert deleted  # old small files physically removed
    assert tbl.read(spark).count() == 30  # live snapshot untouched
    assert tbl.snapshot(2) is None  # expired log gone
    on_disk = glob.glob(str(tmp_path / "t" / "data" / "*.parquet"))
    assert set(on_disk) == set(tbl.snapshot().files)
    # a second expire over the now-sparse log is a no-op, not a crash
    assert tbl.expire_snapshots(keep_last=1) == []


def test_icetbl_expire_deletes_orphaned_data_files(tmp_path):
    """A writer that crashes between ``_write_files`` and ``_publish``
    leaves ``part-<sid>-`` files no snapshot lists. expire_snapshots
    deletes them once the table's current id has reached their sid; an
    orphan with a higher sid may be a writer still in flight and stays."""
    import os

    import pyarrow as pa

    tbl = IceTable(str(tmp_path / "t"))
    rows = pa.table({"x": [1, 2]})
    tbl.append(rows)
    crashed = tbl._write_files(rows, 2)  # never published
    tbl.append(rows)
    tbl.append(rows)
    in_flight = tbl._write_files(rows, 4)  # the next commit's id

    deleted = tbl.expire_snapshots(keep_last=1)
    on_disk = {os.path.join(tbl.data_dir, n) for n in os.listdir(tbl.data_dir)}
    live = set(tbl.snapshot().files)
    assert len(live) == 3
    assert on_disk == live | set(in_flight)
    assert set(crashed) <= set(deleted)
    assert not set(deleted) & live


def test_open_table_flag_and_catalog_writeTo(spark, tmp_path, monkeypatch):
    """Feature flag: default → icetbl; 'iceberg' → catalog writeTo path.
    The V2 write/read mechanics run here against the session catalog with
    using='parquet' (no Iceberg jar in-sandbox); snapshot-dependent methods
    degrade to None on a non-Iceberg catalog."""
    from ollama_ocr_spark.sources.icetbl import CatalogTable, open_table

    assert isinstance(open_table(str(tmp_path / "t")), IceTable)
    monkeypatch.setenv("SPARK_GRAFT_TABLE_FORMAT", "iceberg")
    assert isinstance(open_table("default.t", spark=spark), CatalogTable)

    tbl = CatalogTable(spark, "default.graft_cat_test", using="parquet")
    try:
        assert tbl.read() is None
        tbl.append(spark.range(5).withColumn("tag", F.lit("a")))
        tbl.append(spark.range(3).withColumn("tag", F.lit("b")))
        assert tbl.read().count() == 8
        assert tbl.read(spark).count() == 8
        assert tbl.current_snapshot_id() is None  # parquet: no .snapshots
    finally:
        spark.sql("DROP TABLE IF EXISTS default.graft_cat_test")


def test_catalog_writeTo_iceberg_contract():
    """Contract test for the documented icetbl → real-Iceberg swap: the
    exact V2 call shapes the Iceberg branch issues — writeTo().append()
    on an existing table, writeTo().using('iceberg').create() on a new
    one, the `.snapshots` metadata query, and the `snapshot-id` read
    option — run against spec'd mocks of the pyspark surface, so a drift
    in CatalogTable's call chain (or in pyspark's API names) fails here
    instead of only in a production deployment that has the jar."""
    from unittest.mock import MagicMock

    from pyspark.sql import DataFrame as SparkDF
    from pyspark.sql import SparkSession as SparkSess

    from ollama_ocr_spark.sources.icetbl import CatalogTable

    mspark = MagicMock(spec=SparkSess)
    tbl = CatalogTable(mspark, "cat.db.docs")

    # existing table → append commits a snapshot; snapshot id comes from
    # the <tbl>.snapshots metadata table, newest commit first
    mspark.catalog.tableExists.return_value = True
    mspark.sql.return_value.first.return_value = {"snapshot_id": 42}
    df = MagicMock(spec=SparkDF)
    assert tbl.append(df) == 42
    df.writeTo.assert_called_once_with("cat.db.docs")
    df.writeTo.return_value.append.assert_called_once_with()
    q = mspark.sql.call_args[0][0]
    assert "cat.db.docs.snapshots" in q and "committed_at DESC" in q

    # absent table → writeTo().using('iceberg').create()
    mspark.catalog.tableExists.return_value = False
    df2 = MagicMock(spec=SparkDF)
    tbl.append(df2)
    df2.writeTo.assert_called_once_with("cat.db.docs")
    df2.writeTo.return_value.using.assert_called_once_with("iceberg")
    df2.writeTo.return_value.using.return_value.create.assert_called_once_with()

    # time travel → the snapshot-id read option, value stringified
    mspark.catalog.tableExists.return_value = True
    tbl.read(snapshot_id=41)
    mspark.read.option.assert_called_once_with("snapshot-id", "41")
    mspark.read.option.return_value.table.assert_called_once_with(
        "cat.db.docs")

    # current read → plain catalog table read
    tbl.read()
    mspark.table.assert_called_once_with("cat.db.docs")


def test_crash_between_results_and_metrics_is_repaired(
    spark, documents_smoke, tmp_path
):
    """Crash window: results snapshot committed, metrics append lost. The
    next run must backfill the orphaned snapshot's lineage."""
    from ollama_ocr_spark.operators.extract import extract_stage
    from ollama_ocr_spark.pipeline import repair_metrics

    results_tbl = IceTable(str(tmp_path / "results"))
    metrics_tbl = IceTable(str(tmp_path / "metrics"))

    # simulate the crashed run: results land, metrics never do
    from ollama_ocr_spark.operators.maintenance import latest_capture

    crashed = extract_stage(
        latest_capture(synthesize_stage(documents_smoke.filter("doc_id < 100")))
    )
    sid = results_tbl.append(crashed)
    assert metrics_tbl.read(spark) is None

    repaired = repair_metrics(spark, results_tbl, metrics_tbl)
    assert repaired == [sid]
    backfilled = metrics_tbl.read(spark)
    assert backfilled.agg(F.sum("doc_count")).collect()[0][0] == crashed.count()

    # and run_extract performs the repair implicitly + dedups the work
    s = run_extract(
        spark, synthesize_stage(documents_smoke), results_tbl, metrics_tbl
    )
    assert s.docs_extracted == documents_smoke.count() - crashed.count()
    total = metrics_tbl.read(spark).agg(F.sum("doc_count")).collect()[0][0]
    assert total == documents_smoke.count()


def test_icetbl_concurrent_commit_detected(spark, tmp_path):
    """Two writers racing to the same snapshot id: exactly one wins, the
    loser gets ConcurrentCommitError (optimistic concurrency, not silent
    lost-commit via rename-overwrite)."""
    from ollama_ocr_spark.sources.icetbl import ConcurrentCommitError, IceTable
    import pytest

    tbl_a = IceTable(str(tmp_path / "t"))
    tbl_b = IceTable(str(tmp_path / "t"))  # second handle, same table
    df = spark.range(3)

    # Simulate the race: both handles observed snapshot None; a commits
    # first, then b tries to publish the same v1.
    parent_a = tbl_a.snapshot()
    assert parent_a is None
    tbl_a.append(df)
    # Freeze b's view at snapshot v1 (stale read), then let a commit v2
    # first — b's publish of v2 must collide, not overwrite.
    stale = tbl_b.snapshot()
    tbl_b.snapshot = lambda sid=None: stale  # type: ignore[method-assign]
    sid2 = tbl_a.append(df)
    assert sid2 == 2
    winner_files = tbl_a.snapshot(2).files
    with pytest.raises(ConcurrentCommitError):
        tbl_b.append(df)  # also computes new_sid=2 → collision detected
    # winner's metadata intact (not clobbered by the loser)
    assert tbl_a.snapshot(2).files == winner_files


def test_pipeline_resume_no_duplicates(spark, documents_smoke, tmp_path):
    results_tbl = IceTable(str(tmp_path / "results"))
    metrics_tbl = IceTable(str(tmp_path / "metrics"))

    # First (partial) run: only half the corpus arrives.
    docs_half = documents_smoke.filter("doc_id % 2 = 0")
    pages_half = synthesize_stage(docs_half)
    s1 = run_extract(spark, pages_half, results_tbl, metrics_tbl)
    assert s1.docs_extracted == docs_half.count()
    assert s1.docs_in == pages_half.select("url").distinct().count()

    # Second run sees the FULL corpus; resume must extract only the rest.
    pages_all = synthesize_stage(documents_smoke)
    s2 = run_extract(spark, pages_all, results_tbl, metrics_tbl)
    assert s2.docs_extracted == documents_smoke.count() - docs_half.count()
    assert s2.docs_in == pages_all.select("url").distinct().count()

    # Union of snapshots = exactly one row per url, no duplicates.
    final = results_tbl.read(spark)
    assert final.count() == documents_smoke.count()
    assert final.select("url").distinct().count() == documents_smoke.count()

    # Idempotent re-run: nothing left to do, no new rows.
    s3 = run_extract(spark, pages_all, results_tbl, metrics_tbl)
    assert s3.docs_extracted == 0
    assert s3.docs_in == pages_all.select("url").distinct().count()
    assert results_tbl.read(spark).count() == documents_smoke.count()

    # Lineage rows reference their results snapshot and cover all docs.
    metrics = metrics_tbl.read(spark)
    assert set(r["snapshot_id"] for r in metrics.select("snapshot_id").distinct().collect()) \
        >= {s1.snapshot_id, s2.snapshot_id}
    total = metrics.agg(F.sum("doc_count")).collect()[0][0]
    assert total == documents_smoke.count()
    assert metrics.filter(F.col("checksum").isNull()).count() == 0


def test_snapshot_lifecycle_report_rows(spark, tmp_path):
    """The GC-audit report emits one row per lifecycle step with exact
    file accounting: single-file appends, compact-to-one, and expire
    reclaiming precisely the three pre-compaction files; n_rows is read
    back through the snapshot layer at every step."""
    import glob

    from ollama_ocr_spark.sources.icetbl import snapshot_lifecycle_report

    docs = spark.range(30).withColumnRenamed("id", "doc_id")
    root = str(tmp_path / "gc")
    out = {r["step"]: r
           for r in snapshot_lifecycle_report(spark, docs, root).collect()}
    assert [out[s]["phase"] for s in (1, 2, 3, 4, 5)] == [
        "append", "append", "append", "compact", "expire"]
    assert [out[s]["n_files"] for s in (1, 2, 3, 4, 5)] == [1, 2, 3, 1, 1]
    assert out[1]["n_rows"] == 10 and out[2]["n_rows"] == 20
    assert out[3]["n_rows"] == out[4]["n_rows"] == out[5]["n_rows"] == 30
    assert out[5]["reclaimed_files"] == 3 and out[5]["snapshot_id"] == 4
    # disk state matches the live snapshot exactly after GC
    on_disk = glob.glob(root + "/data/*.parquet")
    assert len(on_disk) == 1


def _sql_lineage(results):
    """FIXTURES.md §4 as one SQL expression: the reference the engine's
    Python lineage fold must match."""
    return results.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").alias("doc_count"),
        F.sum("bytes_in").alias("bytes_in"),
        (F.sum("parse_us") / 1e6).alias("parse"),
        F.sha2(F.concat_ws("", F.sort_array(F.collect_list(F.concat_ws(
            "|", "url", F.sha2(F.coalesce("text", F.lit("")), 256))))),
            256).alias("checksum"),
    )


def test_partition_lineage_matches_sql_reference(spark, documents_smoke,
                                                 tmp_path):
    from ollama_ocr_spark.operators.extract import extract_stage
    from ollama_ocr_spark.operators.maintenance import (
        latest_pages, partition_lineage)

    path = str(tmp_path / "results")
    extract_stage(latest_pages(synthesize_stage(documents_smoke))).write.parquet(
        path)
    results = spark.read.parquet(path)
    none = F.lit(None).cast("string")
    nulls = results.limit(2).withColumn("url", none).unionByName(
        results.limit(2).withColumn("text", none))
    nulls.write.parquet(str(tmp_path / "nulls"))
    with_nulls = results.unionByName(spark.read.parquet(str(tmp_path / "nulls")))
    cases = {
        "as written": results,
        "null url and text": with_nulls.repartition(3),
        "empty partitions": results.filter("pages = 1").limit(5).repartition(
            16, "url"),
        "coalesced": with_nulls.repartition(7, "url").coalesce(3),
    }
    for name, df in cases.items():
        got = sorted(
            (r.partition_id, r.doc_count, r.bytes_in, r.stage_secs.parse,
             r.stage_secs.total, r.checksum)
            for r in partition_lineage(df).collect())
        want = sorted(
            (r.partition_id, r.doc_count, r.bytes_in, r.parse, r.parse,
             r.checksum)
            for r in _sql_lineage(df).collect())
        assert got == want, name
    assert partition_lineage(results).columns == [
        "partition_id", "doc_count", "bytes_in", "stage_secs", "checksum"]
    empty = cases["empty partitions"]
    assert partition_lineage(empty).count() < empty.rdd.getNumPartitions()


def test_lineage_accumulator_keeps_one_row_per_partition(spark):
    """A retried or speculative task reports its partition again: the
    accumulator keeps that partition's one row."""
    from ollama_ocr_spark.operators.maintenance import RowsByPartition

    param = RowsByPartition()
    merged = param.zero({})
    for update in ({0: "first"}, {1: "other"}, {0: "retry"}):
        merged = param.addInPlace(merged, update)
    assert merged == {0: "retry", 1: "other"}

    acc = spark.sparkContext.accumulator({}, param)
    spark.sparkContext.parallelize(range(4), 2).foreach(
        lambda _: acc.add({7: "row"}))
    assert acc.value == {7: "row"}


def _arrow_nodes(spark, jobs):
    """Per SQL execution that ran any of ``jobs``: the descriptions of the
    ``MapInArrow`` nodes of its executed (final, post-AQE) plan, read from
    the SQL status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    found = []
    for i in range(execs.size()):
        e = execs.apply(i)
        ran = {int(j) for j in str(e.jobs().keys().mkString(",")).split(",")
               if j}
        if not ran & set(jobs):
            continue
        nodes = store.planGraph(e.executionId()).allNodes()
        found.append([nodes.apply(k).desc() for k in range(nodes.size())
                      if nodes.apply(k).name() == "MapInArrow"])
    return found


def test_run_extract_makes_one_pass(spark, documents_smoke, tmp_path,
                                    monkeypatch):
    """Into empty tables: scan→exchange, then kernel + lineage fold +
    results write. No cache, no recount, no metrics job, and the kernel's
    ``mapInArrow`` is the only Python stage of the write."""
    from pyspark.sql import DataFrame

    persisted = []
    monkeypatch.setattr(DataFrame, "persist",
                        lambda self, *a, **k: persisted.append(self))
    sc = spark.sparkContext
    rdds_before = sc._jsc.getPersistentRDDs().size()
    synthesize_stage(documents_smoke.filter("doc_id < 100")).write.parquet(
        str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    sc.setJobGroup("run_extract_one_pass", "run_extract into empty tables")
    try:
        stats = run_extract(spark, pages, IceTable(str(tmp_path / "r")),
                            IceTable(str(tmp_path / "m")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("run_extract_one_pass")
    assert (stats.docs_in, stats.docs_extracted) == (100, 100)
    assert len(jobs) <= 2, sorted(jobs)
    assert persisted == []
    assert sc._jsc.getPersistentRDDs().size() == rdds_before
    arrow = [descs for descs in _arrow_nodes(spark, jobs) if descs]
    assert len(arrow) == 1 and len(arrow[0]) == 1, arrow
    assert arrow[0][0].startswith("MapInArrow _extract_row("), arrow


def test_idle_reruns_leave_the_metrics_table_alone(spark, documents_smoke,
                                                   tmp_path):
    """A run with nothing left to extract commits an empty results
    snapshot; neither it nor a later run's repair adds a metrics snapshot
    for it."""
    results_tbl = IceTable(str(tmp_path / "results"))
    metrics_tbl = IceTable(str(tmp_path / "metrics"))
    pages = synthesize_stage(documents_smoke.filter("doc_id < 50"))
    assert run_extract(spark, pages, results_tbl,
                       metrics_tbl).docs_extracted == 50
    for _ in range(4):
        assert run_extract(spark, pages, results_tbl,
                           metrics_tbl).docs_extracted == 0
    assert results_tbl.current_snapshot_id() == 5
    assert metrics_tbl.current_snapshot_id() == 1
    assert len(metrics_tbl.snapshot().files) == 1
    assert metrics_tbl.read(spark).agg(F.sum("doc_count")).first()[0] == 50


def test_metrics_rows_keep_one_schema_and_measure_total(
        spark, documents_smoke, tmp_path):
    """A repaired row and a ``run_extract`` row read back with the
    FIXTURES.md §4 schema. ``run_extract`` measures ``stage_secs.total``
    around its kernel, so it holds ``parse`` and the batch building
    around it; a repaired row, for which no kernel ran, copies ``parse``."""
    from pyspark.sql.types import StructType

    from ollama_ocr_spark.operators.extract import extract_stage
    from ollama_ocr_spark.operators.maintenance import latest_pages

    results_tbl = IceTable(str(tmp_path / "results"))
    metrics_tbl = IceTable(str(tmp_path / "metrics"))
    crashed = extract_stage(latest_pages(synthesize_stage(
        documents_smoke.filter("doc_id < 40"))))
    repaired_sid = results_tbl.append(crashed)  # metrics append lost
    s = run_extract(spark, synthesize_stage(documents_smoke.filter(
        "doc_id < 100")), results_tbl, metrics_tbl)
    assert s.docs_extracted == 60

    metrics = metrics_tbl.read(spark)
    assert metrics.schema == StructType.fromDDL(
        "partition_id INT, doc_count BIGINT, bytes_in BIGINT, "
        "stage_secs STRUCT<parse: DOUBLE, total: DOUBLE>, checksum STRING, "
        "snapshot_id INT")
    rows = metrics.collect()
    assert {r.snapshot_id for r in rows} == {repaired_sid, s.snapshot_id}
    assert sum(r.doc_count for r in rows) == 100
    for r in rows:
        parse, total = r.stage_secs.parse, r.stage_secs.total
        if r.snapshot_id == repaired_sid:
            assert total == parse, r
        else:
            assert total > parse > 0, r


def test_run_extract_on_empty_input_returns_zero(documents_smoke, tmp_path):
    """Empty inputs of three kinds: the counts come back as (0, 0) and
    reading them does not wait forever."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import sys
sys.path.insert(0, {root!r})
from ollama_ocr_spark.operators.extract import PAGES_SCHEMA
from ollama_ocr_spark.pipeline import run_extract
from ollama_ocr_spark.session import get_spark
from ollama_ocr_spark.sources.icetbl import IceTable
spark = get_spark(master="local[2]", shuffle_partitions=2)
pages = spark.read.parquet({str(tmp_path / "pages")!r})
for name, empty in (("local", spark.createDataFrame([], PAGES_SCHEMA)),
                    ("filtered", pages.filter("url = ''")),
                    ("limit0", pages.limit(0))):
    s = run_extract(spark, empty, IceTable({str(tmp_path)!r} + "/r-" + name),
                    IceTable({str(tmp_path)!r} + "/m-" + name))
    print(name, s.docs_in, s.docs_extracted)
"""
    synthesize_stage(documents_smoke.limit(20)).write.parquet(
        str(tmp_path / "pages"))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, timeout=240, env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.split() == ["local", "0", "0", "filtered", "0", "0",
                                   "limit0", "0", "0"]


def _one_run_then_idle(spark, documents_smoke, tmp_path, idle_runs):
    results_tbl = IceTable(str(tmp_path / "results"))
    metrics_tbl = IceTable(str(tmp_path / "metrics"))
    pages = synthesize_stage(documents_smoke.filter("doc_id < 50"))
    assert run_extract(spark, pages, results_tbl,
                       metrics_tbl).docs_extracted == 50
    for _ in range(idle_runs):
        assert run_extract(spark, pages, results_tbl,
                           metrics_tbl).docs_extracted == 0
    return results_tbl, metrics_tbl, pages


def _assert_metrics_untouched(spark, metrics_tbl):
    assert metrics_tbl.current_snapshot_id() == 1
    assert metrics_tbl.read(spark).agg(F.sum("doc_count")).first()[0] == 50


def test_repair_skips_a_snapshot_whose_log_expired(spark, documents_smoke,
                                                   tmp_path):
    """Two idle runs, then expire: the idle snapshot 2 has no log left,
    and the next run skips it instead of failing on it."""
    results_tbl, metrics_tbl, pages = _one_run_then_idle(
        spark, documents_smoke, tmp_path, idle_runs=2)
    results_tbl.expire_snapshots(keep_last=1)
    assert results_tbl.snapshot(2) is None
    assert run_extract(spark, pages, results_tbl,
                       metrics_tbl).docs_extracted == 0
    _assert_metrics_untouched(spark, metrics_tbl)


def test_repair_finds_new_files_without_the_parent(spark, documents_smoke,
                                                   tmp_path):
    """One idle run, then expire: the idle snapshot's parent log is gone.
    Its new files are the ones it named, not every live file, so nothing
    is backfilled twice."""
    results_tbl, metrics_tbl, pages = _one_run_then_idle(
        spark, documents_smoke, tmp_path, idle_runs=1)
    results_tbl.expire_snapshots(keep_last=1)
    assert results_tbl.snapshot(1) is None
    assert run_extract(spark, pages, results_tbl,
                       metrics_tbl).docs_extracted == 0
    _assert_metrics_untouched(spark, metrics_tbl)


def test_repair_counts_a_compaction_as_covered(spark, documents_smoke,
                                               tmp_path):
    """A compaction rewrites counted rows into new files; its snapshot is
    a ``replace`` and gets no lineage rows of its own."""
    results_tbl, metrics_tbl, pages = _one_run_then_idle(
        spark, documents_smoke, tmp_path, idle_runs=0)
    sid = results_tbl.compact(spark)
    assert results_tbl.snapshot(sid).operation == "replace"
    assert results_tbl.snapshot(1).operation == "append"
    assert run_extract(spark, pages, results_tbl,
                       metrics_tbl).docs_extracted == 0
    _assert_metrics_untouched(spark, metrics_tbl)


def test_idle_rerun_job_count(spark, documents_smoke, tmp_path):
    """A run with nothing left to extract: ``repair_metrics`` reads the
    covered snapshot ids and the row counts from parquet on the driver,
    so it adds no Spark job (no schema inference, no distinct)."""
    synthesize_stage(documents_smoke.filter("doc_id < 50")).write.parquet(
        str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    results_tbl = IceTable(str(tmp_path / "r"))
    metrics_tbl = IceTable(str(tmp_path / "m"))
    assert run_extract(spark, pages, results_tbl,
                       metrics_tbl).docs_extracted == 50
    sc = spark.sparkContext
    sc.setJobGroup("idle_rerun", "run_extract with nothing to extract")
    try:
        stats = run_extract(spark, pages, results_tbl, metrics_tbl)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats.docs_extracted == 0
    jobs = sc.statusTracker().getJobIdsForGroup("idle_rerun")
    assert len(jobs) <= 5, sorted(jobs)  # 8 when repair read the metrics
