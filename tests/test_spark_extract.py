"""Spark-level golden tests: synthesize → dedup → extract, byte-identical."""

from __future__ import annotations

from pyspark.sql import functions as F

from ollama_ocr_spark.operators.extract import extract_stage, synthesize_stage
from ollama_ocr_spark.operators.maintenance import (
    doc_id_expr,
    host_expr,
    latest_capture,
    salt_by_host,
)


def _extracted(spark, documents_smoke):
    pages = synthesize_stage(documents_smoke)
    return extract_stage(latest_capture(pages))


def test_extraction_byte_identical_to_golden(spark, documents_smoke):
    """The driver's north rule: byte-identical extracted text per url.

    Golden text is recomputed per-row from the documents table (independent
    pure function), then compared via sha256 on the Spark side.
    """
    from ollama_ocr_spark.corpus import golden_text

    results = _extracted(spark, documents_smoke).withColumn(
        "doc_id", doc_id_expr()
    )
    got = {
        r["doc_id"]: r["text"]
        for r in results.select("doc_id", "text").collect()
    }
    docs = documents_smoke.select("doc_id", "text").collect()
    assert len(got) == len(docs) == 500
    for row in docs:
        assert got[row["doc_id"]] == golden_text(row["doc_id"], row["text"]), row["doc_id"]


def test_dedup_keeps_latest_capture(spark, documents_smoke):
    pages = synthesize_stage(documents_smoke)
    n_all = pages.count()
    n_latest = latest_capture(pages).count()
    n_docs = documents_smoke.count()
    assert n_latest == n_docs
    # every doc_id % 5 == 0 has a stale duplicate capture
    assert n_all == n_docs + documents_smoke.filter("doc_id % 5 = 0").count()
    # and the stale capture must never win: stale text would differ
    # (covered byte-exactly by test_extraction_byte_identical_to_golden)


def test_route_and_type_distribution(spark, documents_smoke):
    results = _extracted(spark, documents_smoke)
    dist = {
        (r["engine"], r["doc_type"]): r["n"]
        for r in results.groupBy("engine", "doc_type").agg(F.count("*").alias("n")).collect()
    }
    # k=0..3,5 → printed HTML (250); k=4,6 → handwriting HTML (100, minus
    # the 25 doc_id%20==14 text/plain sub-slot docs → handwriting Text);
    # k=7 → printed PDF (50); k=8 → handwriting Image (50); k=9 → error (50)
    assert dist[("printed", "HTML")] == 250
    assert dist[("handwriting", "HTML")] == 75
    assert dist[("handwriting", "Text")] == 25
    assert dist[("printed", "PDF")] == 50
    assert dist[("handwriting", "Image")] == 50
    assert dist[("error", "error")] == 50


def test_salting_balances_partitions(spark, documents_smoke):
    pages = synthesize_stage(documents_smoke)
    balanced = salt_by_host(pages, 8)
    sizes = (
        balanced.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    counts = [r["count"] for r in sizes]
    # h0 holds 50% of docs; without salting one partition would hold >=50%.
    assert max(counts) < 0.4 * sum(counts)


def test_host_expr(spark, documents_smoke):
    pages = synthesize_stage(documents_smoke.limit(20))
    hosts = pages.select(host_expr().alias("h")).distinct().collect()
    assert all(r["h"].endswith(".example.com") for r in hosts)


def test_url_doc_id_roundtrip(spark):
    """Every capture url embeds its document's own doc_id, and
    ``doc_id_expr`` reads it back: ids over every residue mod 100 (all
    archetypes and hosts), nine-digit ids, every source name."""
    from ollama_ocr_spark.corpus import url_for

    ids = list(range(200)) + [
        m * 10_000_000 + i for m in (10, 57, 99) for i in range(0, 5000, 37)
    ]
    sources = [f"src{i}" for i in range(20)] + ["web"]
    rows = [(url_for(d, s), d) for d in ids for s in sources[d % 3::3]]
    df = spark.createDataFrame(rows, "url string, doc_id bigint")
    bad = df.filter(~doc_id_expr().eqNullSafe(F.col("doc_id")))
    assert bad.limit(5).collect() == []


def test_doc_id_slice_before_synthesis_is_exact(spark, monkeypatch):
    """Each sliced query cuts ``documents`` on doc_id before synthesis.
    That must keep exactly the rows (every column, every capture's dedup
    winner) that the same predicate keeps on the url-derived doc_id after
    the full path."""
    import __spark_entry__ as entry
    from conftest import SF_SMOKE as sf

    real = {"_extracted": entry._extracted,
            "_latest_pages": entry._latest_pages}
    seen, active = [], []

    def spy(name):
        def wrapped(spark, sf_dir, keep=None):
            if not active:  # _extracted's own _latest_pages call is inside
                seen.append((name, keep))
            active.append(name)
            try:
                return real[name](spark, sf_dir, keep)
            finally:
                active.pop()
        return wrapped

    for name in real:
        monkeypatch.setattr(entry, name, spy(name))
    consumers = ("extract_text_roundtrip", "extract_pdf_fold",
                 "extract_handwriting", "extract_error_rows",
                 "extract_image_text", "extract_text_plain",
                 "golden_compare", "template_mining", "analyze_metadata",
                 "multi_step")
    for q in consumers:
        entry.queries()[q](spark, sf)
    monkeypatch.undo()
    assert len(seen) == len(consumers)
    assert all(keep is not None for _, keep in seen)

    def rows(df):
        return sorted(df.collect(), key=lambda r: r["url"])

    full = {
        "_extracted": real["_extracted"](spark, sf).drop("parse_us"),
        "_latest_pages": real["_latest_pages"](spark, sf)
        .withColumn("doc_id", doc_id_expr()),
    }
    for df in full.values():
        df.persist()
    try:
        for name, keep in seen:
            sliced = real[name](spark, sf, keep)
            expect = full[name].filter(keep)
            if name == "_extracted":
                sliced = sliced.drop("parse_us")
            else:
                expect = expect.drop("doc_id")
            got = rows(sliced)
            assert got, (name, str(keep))
            assert got == rows(expect), (name, str(keep))
    finally:
        for df in full.values():
            df.unpersist()
