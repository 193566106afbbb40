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


def _plan_node_names(spark, first_execution):
    """The node names of the executed plan of every SQL execution with an
    id from ``first_execution`` on."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList()
    found = []
    for i in range(execs.size()):
        e = execs.apply(i)
        if e.executionId() < first_execution:
            continue
        nodes = store.planGraph(e.executionId()).allNodes()
        found += [nodes.apply(k).name() for k in range(nodes.size())]
    return found


def test_run_extract_makes_one_pass(spark, documents_smoke, tmp_path,
                                    monkeypatch):
    """Into empty tables: scan→exchange, then kernel + lineage fold +
    file write in the kernel's worker. No cache, no recount, no metrics
    job, the kernel's ``mapInArrow`` is the only Python stage, and no
    Spark file write runs: the results never go back through the JVM."""
    import os

    from pyspark.sql import DataFrame, DataFrameWriter

    persisted = []
    monkeypatch.setattr(DataFrame, "persist",
                        lambda self, *a, **k: persisted.append(self))
    sc = spark.sparkContext
    rdds_before = sc._jsc.getPersistentRDDs().size()
    synthesize_stage(documents_smoke.filter("doc_id < 100")).write.parquet(
        str(tmp_path / "pages"))
    pages = spark.read.parquet(str(tmp_path / "pages"))
    spark_writes = []
    monkeypatch.setattr(DataFrameWriter, "parquet",
                        lambda self, path, *a, **k: spark_writes.append(path))
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    first_execution = 1 + max((execs.apply(i).executionId()
                               for i in range(execs.size())), default=-1)
    results_tbl = IceTable(str(tmp_path / "r"))
    sc.setJobGroup("run_extract_one_pass", "run_extract into empty tables")
    try:
        stats = run_extract(spark, pages, results_tbl,
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
    # no Spark file write: no staging dir, no Hadoop write command
    assert spark_writes == []
    names = _plan_node_names(spark, first_execution)
    assert any("MapInArrow" in n for n in names), names
    assert not any("InsertIntoHadoopFsRelationCommand" in n
                   for n in names), names
    on_disk = os.listdir(results_tbl.data_dir)
    assert not [n for n in on_disk if n.startswith("_stage-")], on_disk
    assert sorted(on_disk) == sorted(
        os.path.basename(f) for f in results_tbl.snapshot(1).added_files())


def test_idle_reruns_leave_the_metrics_table_alone(spark, documents_smoke,
                                                   tmp_path):
    """A run with nothing left to extract commits a results snapshot that
    adds no data file; neither it nor a later run's repair adds a metrics
    snapshot for it."""
    results_tbl = IceTable(str(tmp_path / "results"))
    metrics_tbl = IceTable(str(tmp_path / "metrics"))
    pages = synthesize_stage(documents_smoke.filter("doc_id < 50"))
    assert run_extract(spark, pages, results_tbl,
                       metrics_tbl).docs_extracted == 50
    for _ in range(4):
        assert run_extract(spark, pages, results_tbl,
                           metrics_tbl).docs_extracted == 0
    assert results_tbl.current_snapshot_id() == 5
    for sid in range(2, 6):
        assert results_tbl.snapshot(sid).added_files() == []
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
    results = IceTable({str(tmp_path)!r} + "/r-" + name)
    s = run_extract(spark, empty, results,
                    IceTable({str(tmp_path)!r} + "/m-" + name))
    print(name, s.docs_in, s.docs_extracted, results.read(spark) is None)
"""
    synthesize_stage(documents_smoke.limit(20)).write.parquet(
        str(tmp_path / "pages"))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, timeout=240, env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    # an empty table that gained no rows still reads as None
    assert proc.stdout.split() == ["local", "0", "0", "True",
                                   "filtered", "0", "0", "True",
                                   "limit0", "0", "0", "True"]


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


def test_repair_backfills_a_snapshot_whose_log_expired(
        spark, documents_smoke, tmp_path):
    """Two results appends lose their metrics rows, then the first one's
    log expires. Its ``part-<sid>-`` files are still live in the current
    snapshot, so the next run backfills them too."""
    from ollama_ocr_spark.operators.extract import extract_stage
    from ollama_ocr_spark.operators.maintenance import latest_pages
    from ollama_ocr_spark.pipeline import repair_metrics

    results_tbl = IceTable(str(tmp_path / "results"))
    metrics_tbl = IceTable(str(tmp_path / "metrics"))
    for cond in ("doc_id < 40", "doc_id >= 40 AND doc_id < 60"):
        results_tbl.append(extract_stage(latest_pages(synthesize_stage(
            documents_smoke.filter(cond)))))
    results_tbl.expire_snapshots(keep_last=1)
    assert results_tbl.snapshot(1) is None
    assert repair_metrics(spark, results_tbl, metrics_tbl) == [1, 2]

    s = run_extract(spark, synthesize_stage(documents_smoke.filter(
        "doc_id < 100")), results_tbl, metrics_tbl)
    assert s.docs_extracted == 40
    assert results_tbl.read(spark).count() == 100
    metrics = metrics_tbl.read(spark)
    assert metrics.agg(F.sum("doc_count")).first()[0] == 100
    by_sid = {r.snapshot_id: r.n for r in metrics.groupBy("snapshot_id").agg(
        F.sum("doc_count").alias("n")).collect()}
    assert by_sid == {1: 40, 2: 20, s.snapshot_id: 40}


def test_repair_counts_an_expired_compaction_as_covered(
        spark, documents_smoke, tmp_path):
    """A compaction's log expires while its rewritten files stay live;
    the snapshots after it carry its id, so repair still knows those
    files hold rows that were counted when appended."""
    results_tbl, metrics_tbl, pages = _one_run_then_idle(
        spark, documents_smoke, tmp_path, idle_runs=0)
    sid = results_tbl.compact(spark)
    assert run_extract(spark, pages, results_tbl,
                       metrics_tbl).docs_extracted == 0
    results_tbl.expire_snapshots(keep_last=1)
    assert results_tbl.snapshot(sid) is None
    assert results_tbl.snapshot().compaction == sid
    assert run_extract(spark, pages, results_tbl,
                       metrics_tbl).docs_extracted == 0
    _assert_metrics_untouched(spark, metrics_tbl)


def test_results_table_mixes_spark_and_sink_files(spark, documents_smoke,
                                                  tmp_path):
    """A results table holding Spark-written files (a crashed
    ``append(df)``) and files the extract tasks wrote with pyarrow reads
    back with the ``EXTRACT_SCHEMA`` types and the same rows as a table
    written by the sink alone, resumes against both, and compacts to the
    same rows."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from ollama_ocr_spark.operators.extract import EXTRACT_SCHEMA, extract_stage
    from ollama_ocr_spark.operators.maintenance import latest_pages

    def by_url(df):
        return {r.url: r.asDict() for r in df.drop("parse_us").collect()}

    results_tbl = IceTable(str(tmp_path / "results"))
    metrics_tbl = IceTable(str(tmp_path / "metrics"))
    results_tbl.append(extract_stage(latest_pages(synthesize_stage(
        documents_smoke.filter("doc_id < 40")))))  # metrics append lost
    pages = synthesize_stage(documents_smoke.filter("doc_id < 100"))
    assert run_extract(spark, pages, results_tbl,
                       metrics_tbl).docs_extracted == 60
    spark_file, sink_file = (results_tbl.snapshot(sid).added_files()[0]
                             for sid in (1, 2))
    spark_meta = b"org.apache.spark.sql.parquet.row.metadata"
    assert spark_meta in pq.read_metadata(spark_file).metadata
    assert spark_meta not in (pq.read_metadata(sink_file).metadata or {})

    mixed = results_tbl.read(spark)
    assert [(f.name, f.dataType) for f in mixed.schema] == [
        (f.name, f.dataType) for f in StructType.fromDDL(EXTRACT_SCHEMA)]
    clean_tbl = IceTable(str(tmp_path / "clean"))
    run_extract(spark, pages, clean_tbl, IceTable(str(tmp_path / "cm")))
    want = by_url(clean_tbl.read(spark))
    assert len(want) == 100 and by_url(mixed) == want

    more = synthesize_stage(documents_smoke.filter("doc_id < 120"))
    assert run_extract(spark, more, results_tbl,
                       metrics_tbl).docs_extracted == 20
    resumed = results_tbl.read(spark)
    assert resumed.count() == resumed.select("url").distinct().count() == 120
    assert metrics_tbl.read(spark).agg(F.sum("doc_count")).first()[0] == 120

    before = {r.url: r.asDict() for r in resumed.collect()}
    results_tbl.compact(spark)
    compacted = results_tbl.read(spark)
    assert [(f.name, f.dataType) for f in compacted.schema] == [
        (f.name, f.dataType) for f in resumed.schema]
    assert {r.url: r.asDict() for r in compacted.collect()} == before


def test_failed_task_attempt_leaves_an_unlisted_orphan(documents_smoke,
                                                       tmp_path):
    """At local[2,2] one extract task attempt fails after closing its
    file and the retry succeeds. The failed attempt's file is in no
    snapshot, results and metrics equal a clean run's, and
    ``expire_snapshots`` deletes the orphan."""
    import json
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = f"""
import json, os, sys
sys.path.insert(0, {root!r})
from pyspark import TaskContext
from ollama_ocr_spark import pipeline
from ollama_ocr_spark.operators import maintenance
from ollama_ocr_spark.session import get_spark
from ollama_ocr_spark.sources.icetbl import IceTable

spark = get_spark(master="local[2,2]", shuffle_partitions=2)
pages = spark.read.parquet({str(tmp_path / "pages")!r})

def flaky_sink(rows, data_dir, snapshot_id):
    sink = maintenance.parquet_sink(rows, data_dir, snapshot_id)
    def flaky(it):
        yield from sink(it)
        ctx = TaskContext.get()
        if ctx.partitionId() == 0 and ctx.attemptNumber() == 0:
            raise RuntimeError("attempt fails after closing its file")
    return flaky

def run(name):
    results = IceTable({str(tmp_path)!r} + "/r-" + name)
    metrics = IceTable({str(tmp_path)!r} + "/m-" + name)
    s = pipeline.run_extract(spark, pages, results, metrics)
    rows = sorted((r.url, r.warc_ts.isoformat(), r.lang, r.bytes_in, r.engine,
                   r.text, r.chars, r.pages, r.doc_type, r.error)
                  for r in results.read(spark).collect())
    lineage = sorted((r.partition_id, r.doc_count, r.bytes_in, r.checksum,
                      r.snapshot_id) for r in metrics.read(spark).collect())
    return results, s, rows, lineage

_, clean_stats, clean_rows, clean_lineage = run("clean")
pipeline.parquet_sink = flaky_sink
results, stats, rows, lineage = run("flaky")
live = {{os.path.basename(f) for f in results.snapshot().files}}
on_disk = set(os.listdir(results.data_dir))
deleted = results.expire_snapshots(keep_last=1)
print(json.dumps({{
    "clean": [clean_stats.docs_in, clean_stats.docs_extracted],
    "flaky": [stats.docs_in, stats.docs_extracted],
    "same_rows": rows == clean_rows, "n_rows": len(rows),
    "same_lineage": lineage == clean_lineage,
    "orphans": sorted(on_disk - live),
    "deleted": sorted(os.path.basename(f) for f in deleted),
    "after": sorted(os.listdir(results.data_dir)) == sorted(live),
}}))
"""
    synthesize_stage(documents_smoke.filter("doc_id < 60")).write.parquet(
        str(tmp_path / "pages"))
    env = dict(os.environ, SPARK_DRIVER_MEM="1g")
    proc = subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, timeout=300, env=env)
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["clean"] == out["flaky"] == [60, 60], out
    assert out["same_rows"] and out["n_rows"] == 60, out
    assert out["same_lineage"], out
    assert len(out["orphans"]) == 1, out
    assert out["orphans"][0].startswith("part-1-"), out
    assert out["deleted"] == out["orphans"], out
    assert out["after"], out
