"""Physical-plan audits + reference-format export sink."""

from __future__ import annotations

import csv
import itertools
import os
import types

import pytest
from pyspark.sql import functions as F

from ollama_ocr_spark.operators.extract import extract_stage, synthesize_stage
from ollama_ocr_spark.operators.maintenance import balance_by_url, latest_capture
from ollama_ocr_spark.plans import audit_plan, plan_report
from ollama_ocr_spark.sources.export import export_reference_outputs


def test_extract_pipeline_plan_invariants(spark, documents_smoke):
    pages = synthesize_stage(documents_smoke)
    df = extract_stage(latest_capture(balance_by_url(pages, 8)))
    report = audit_plan(df, max_exchanges=1)
    assert "WindowGroupLimit" in report.raw


def _noop_final_plan(df) -> str:
    """Run ``df`` with a noop write and return the AQE final plan of that
    execution as Spark's formatted explain text (node tree, then one
    numbered detail block per node)."""
    spark = df.sparkSession
    df.write.format("noop").mode("overwrite").save()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    desc = store.executionsList().last().physicalPlanDescription()
    assert "isFinalPlan=true" in desc, desc[:2000]
    return desc


def test_extract_query_slices_documents_before_synthesis(spark):
    """An extract query's doc_id slice filters the documents scan, below
    both Python stages (synthesis and the kernel), and the kernel reads a
    url-balanced input: one exchange under it, a fixed-count url hash that
    AQE may not coalesce, so the kernel runs on every core."""
    import re

    import __spark_entry__ as entry
    from conftest import SF_SMOKE

    df = entry.queries()["extract_pdf_fold"](spark, SF_SMOKE)

    lines = df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    arrows = [i for i, s in enumerate(lines) if "MapInArrow" in s]
    slices = [i for i, s in enumerate(lines)
              if "Filter" in s and "% 10) = 7" in s]
    assert len(arrows) == 2 and len(slices) == 1, "\n".join(lines)
    assert slices[0] > max(arrows), "\n".join(lines)
    assert "Relation" in lines[slices[0] + 1], "\n".join(lines)

    desc = _noop_final_plan(df)
    tree, details = desc.split("\n\n\n", 1)
    final = tree.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    detail = dict(re.findall(r"^\((\d+)\) (\w+.*?)(?=^\(\d+\) |\Z)",
                             details, re.S | re.M))
    arrow_ids = re.findall(r"MapInArrow \((\d+)\)", final)
    kernel = [i for i in arrow_ids if "_extract_row" in detail[i]]
    assert len(kernel) == 1, final
    below = final.split(f"MapInArrow ({kernel[0]})", 1)[1]
    exchanges = re.findall(r"\bExchange \((\d+)\)", below)
    assert len(exchanges) == 1, final
    n = spark.sparkContext.defaultParallelism
    assert re.search(
        rf"Arguments: hashpartitioning\(url#\d+, {n}\), REPARTITION_BY_NUM",
        detail[exchanges[0]],
    ), detail[exchanges[0]]


def _dedup_consumers() -> list[str]:
    """Registry queries whose function reaches ``_latest_pages`` or
    ``_extracted``, directly or through other module-level helpers."""
    import __spark_entry__ as entry

    def names(code):
        yield from code.co_names
        for c in code.co_consts:
            if isinstance(c, types.CodeType):
                yield from names(c)

    uses = {k: set(names(v.__code__)) for k, v in vars(entry).items()
            if isinstance(v, types.FunctionType)}
    reach = {"_latest_pages", "_extracted"}
    while more := {k for k, u in uses.items() if u & reach} - reach:
        reach |= more
    return [fn.__name__[2:] for fn, _ in entry.REGISTRY
            if fn.__name__ in reach]


_DEDUP_CONSUMERS = _dedup_consumers()


# query -> (exchanges, url dedup Windows) in its sf0.001 physical plan.
# The graph queries with no Window materialize their pages eagerly.
_DEDUP_CONSUMER_PLANS = {
    "analyze_metadata": (1, 1), "anchor_text_stats": (2, 1),
    "community_budget": (36, 6), "community_quarantine": (12, 2),
    "crawl_priority": (5, 1), "crawl_reachability": (4, 0),
    "domain_quality": (3, 1), "extract_error_rows": (1, 1),
    "extract_handwriting": (1, 1), "extract_image_text": (1, 1),
    "extract_pdf_fold": (1, 1), "extract_route_counts": (2, 1),
    "extract_text_plain": (1, 1), "extract_text_roundtrip": (1, 1),
    "fetch_frontier": (23, 6), "golden_compare": (3, 1),
    "host_assortativity": (8, 0), "host_communities": (8, 1),
    "host_content_entropy": (8, 2), "host_degree_stats": (6, 2),
    "host_hits": (2, 0), "host_kcore": (8, 0), "host_link_graph": (2, 1),
    "host_mirrors": (22, 0), "host_pagerank": (0, 0),
    "host_pagerank_delta": (2, 0), "host_reciprocity": (7, 0),
    "host_seed_distance": (0, 0), "host_skew_counts": (2, 1),
    "host_template_entropy": (7, 2), "host_topic_labels": (61, 21),
    "host_triangles": (20, 6), "host_trustrank": (0, 0),
    "image_features": (1, 1), "image_metadata": (1, 1), "image_resize": (1, 1),
    "multi_step": (1, 1), "politeness_waves": (2, 1), "robots_filter": (2, 1),
    "robots_rule_stats": (4, 1), "structured_forms": (1, 1),
    "structured_price_tags": (1, 1), "structured_receipts": (1, 1),
    "template_mining": (2, 1), "token_gini": (4, 1), "url_filter": (1, 1),
    "url_normalize": (1, 1), "wave_makespan": (12, 3),
    "wave_makespan_mix": (27, 6),
}


@pytest.mark.parametrize(
    "name", sorted(set(_DEDUP_CONSUMERS) | set(_DEDUP_CONSUMER_PLANS)))
def test_every_dedup_consumer_reads_url_balanced_pages(spark, name):
    """Every query built on the shared pages dedups through
    ``maintenance.latest_pages``: each url dedup Window sits on the
    fixed-count url hash that AQE may not coalesce, and the plan's
    exchange and dedup-Window counts match the pinned ones."""
    import re

    import __spark_entry__ as entry
    from conftest import SF_SMOKE

    def depth(s):
        return len(s) - len(s.lstrip(" :+-"))

    assert name in _DEDUP_CONSUMERS, f"{name} no longer dedups pages"
    assert name in _DEDUP_CONSUMER_PLANS, f"{name}: add its plan counts"
    report = plan_report(entry.queries()[name](spark, SF_SMOKE))
    lines = report.raw.splitlines()
    n = spark.sparkContext.defaultParallelism
    dedups = 0
    for i, line in enumerate(lines):
        if not re.search(r"\bWindow \[row_number\(\).*\], \[url#\d+\], "
                         r"\[warc_ts#\d+ DESC", line):
            continue
        dedups += 1
        d = depth(line)
        below = list(itertools.takewhile(lambda s: depth(s) > d,
                                         lines[i + 1:]))
        exchange = next((s for s in below if "Exchange " in s), "")
        assert re.search(rf"Exchange hashpartitioning\(url#\d+, {n}\), "
                         r"REPARTITION_BY_NUM\b", exchange), \
            "\n".join([line, *below])
    assert (report.n_exchanges, dedups) == _DEDUP_CONSUMER_PLANS[name], \
        report.raw


def test_filter_pushdown_reaches_parquet_scan(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    q = docs.filter(F.col("lang") == "en").select("doc_id", "n_chars")
    report = audit_plan(
        q, require_pushed_filter="lang", max_scan_columns=3
    )
    assert report.has_wholestage_codegen


def test_small_dim_join_broadcasts(spark):
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    customer = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    joined = orders.join(
        F.broadcast(customer), orders.o_custkey == customer.c_custkey
    ).groupBy("c_mktsegment").count()
    audit_plan(joined, require_broadcast=True)


def test_dedup_plans_minimize_shuffles(spark, documents_smoke):
    """The single-scan dedup restructure: jaccard carries set sizes through
    the posting lists (no sizes branch, no a/b size joins) and minhash
    signatures are computed per-row with array_min (no explode/groupBy)."""
    from ollama_ocr_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_candidates,
        minhash_signatures,
    )

    # +1 exchange each = ensure_parallelism's input repartition (this tiny
    # input scans as one partition; the guard fans the CPU-heavy shingle
    # stage out to all cores and is a no-op on well-partitioned inputs)
    assert plan_report(minhash_signatures(documents_smoke)).n_exchanges == 1
    # input guard + postings groupBy + pair groupBy only
    assert plan_report(jaccard_pairs(documents_smoke)).n_exchanges == 3
    # input guard + band-bucket groupBy + distinct only
    assert plan_report(minhash_lsh_candidates(documents_smoke)).n_exchanges == 3


def test_range_join_binned_matches_broadcast_and_is_equijoin(spark,
                                                             documents_smoke):
    """The binned quantized range join must equal the broadcast non-equi
    form row-for-row and plan as a HASH join (no nested loop over the
    fact side) — including intervals that straddle bin boundaries."""
    from pyspark.sql import functions as F

    from ollama_ocr_spark.operators.reports import range_join

    intervals = spark.range(12).select(
        F.concat(F.lit("c"), F.col("id")).alias("label"),
        (F.col("id") * 130 + 7).alias("lo"),      # deliberately bin-
        ((F.col("id") + 1) * 130 + 7).alias("hi"),  # boundary-straddling
    )
    facts = documents_smoke.select("doc_id", "n_chars")

    def rows(strategy):
        return sorted(
            (r["doc_id"], r["label"])
            for r in range_join(facts, intervals, "n_chars",
                                strategy=strategy).collect()
        )

    got = rows("binned")
    assert got == rows("broadcast")
    assert got, "no docs matched any interval"
    report = plan_report(
        range_join(facts, intervals, "n_chars", strategy="binned")
    )
    assert "BroadcastNestedLoopJoin" not in report.raw

    # degenerate intervals (hi <= lo) must emit NO bins — an unguarded
    # F.sequence yields a DESCENDING array there (documented gotcha) and
    # explodes spurious bin rows
    degen = spark.createDataFrame(
        [("empty", 500, 500), ("inverted", 900, 100), ("ok", 0, 10_000)],
        "label string, lo bigint, hi bigint",
    )
    out = range_join(facts, degen, "n_chars", strategy="binned")
    labels = {r["label"] for r in out.select("label").distinct().collect()}
    assert labels == {"ok"}


def test_as_of_join_is_joinless(spark):
    """The as-of composition must contain NO join operator (a non-equi
    range join would plan as a nested loop): union + one key-window."""
    from pyspark.sql import functions as F

    from ollama_ocr_spark.operators.reports import as_of_join

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    right = e.filter("event_id % 5 = 0").select(
        "user_id", "ts", F.col("value").alias("snap_value"))
    left = e.select("user_id", "event_id", "ts", "event_type")
    out = as_of_join(left, right, key="user_id", ts="ts",
                     value_cols=["snap_value"])
    report = plan_report(out)
    assert "Join" not in report.raw, report.raw
    assert report.n_exchanges <= 2  # two scans feed one key shuffle
    # semantic spot-check: a snapshot applies at and after its own ts
    rows = out.filter("snap_value IS NOT NULL").count()
    assert rows > 0


def test_as_of_join_preserves_null_snapshot_values(spark):
    """A right row whose VALUE column is legitimately NULL must still win
    the as-of race (yielding NULL), not be skipped in favor of an older
    non-null snapshot — DuckDB ASOF JOIN semantics."""
    from ollama_ocr_spark.operators.reports import as_of_join

    left = spark.createDataFrame(
        [("u", 10), ("u", 25), ("u", 35)], "user_id string, ts bigint"
    )
    right = spark.createDataFrame(
        [("u", 5, 1.0), ("u", 20, None), ("u", 30, 3.0)],
        "user_id string, ts bigint, v double",
    )
    out = as_of_join(left, right, key="user_id", ts="ts", value_cols=["v"])
    got = {r["ts"]: r["v"] for r in out.collect()}
    assert got == {10: 1.0, 25: None, 35: 3.0}


def test_curate_corpus_plan_has_no_nested_loop(spark):
    """The nightly composite (LSH candidates → components → keeper →
    gates) must stay equi-join/broadcast shaped end-to-end — no
    BroadcastNestedLoopJoin / cartesian anywhere in the final plan."""
    import __spark_entry__ as entry

    out = entry.queries()["curate_corpus"](spark, "/root/testdata/sf0.001")
    audit_plan(
        out, forbid_ops=["BroadcastNestedLoopJoin", "CartesianProduct"]
    )
    rows = out.collect()
    assert len(rows) == 500
    reasons = {r["reason"] for r in rows}
    assert "ok" in reasons and "near_duplicate" in reasons


def test_aqe_skew_join_engages_on_zipf_host(spark, documents_smoke):
    """Skew realism (SURVEY §7.3): the corpus zipf head (h0 owns 50% of
    captures) must trigger AQE's skew-join split on a host-keyed
    sort-merge join — the executed plan shows SortMergeJoin(skew=true)
    with an AQEShuffleRead-skewed child. Thresholds are scaled down to
    test-sized shuffles; on a production corpus the defaults (256MB)
    engage the same rule."""
    from pyspark.sql import functions as F

    from ollama_ocr_spark.operators.extract import synthesize_stage
    from ollama_ocr_spark.operators.maintenance import host_expr

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k) for k in tuned}
    try:
        for k, v in tuned.items():
            spark.conf.set(k, v)
        reps = spark.range(20).withColumnRenamed("id", "rep")
        big = (
            documents_smoke.crossJoin(reps)
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * 10_000_000)
            .drop("rep")
        )
        pages = (
            synthesize_stage(big)
            .withColumn("host", host_expr())
            .select("url", "host")
        )
        host_dim = spark.createDataFrame(
            [(f"h{i}.example.com", 100) for i in range(16)],
            "host string, crawl_delay_ms int",
        )
        joined = pages.join(host_dim, "host")
        joined.foreachPartition(lambda it: None)  # execute THIS plan
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bucketed_tables_join_without_shuffle(spark, documents_smoke):
    """Two tables bucketed on the same key join with ZERO exchanges —
    the co-location layout for a corpus repeatedly joined on its key."""
    from pyspark.sql import functions as F

    from ollama_ocr_spark.operators.maintenance import write_bucketed

    left = documents_smoke.select("doc_id", "n_chars")
    right = documents_smoke.select("doc_id", "lang")
    write_bucketed(left, "bkt_left", "doc_id", num_buckets=8)
    write_bucketed(right, "bkt_right", "doc_id", num_buckets=8)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable auto-broadcast so the plan must rely on bucket
        # co-location (at real scale neither side broadcasts anyway)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = (
            spark.table("bkt_left")
            .join(spark.table("bkt_right"), "doc_id")
            .groupBy("lang")
            .agg(F.sum("n_chars").alias("chars"))
        )
        report = plan_report(joined)
        # the join itself is shuffle-free; the only shuffle allowed is
        # the final groupBy("lang") aggregation
        assert report.raw.count("Exchange hashpartitioning") <= 1, report.raw
        assert "SortMergeJoin" in report.raw
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


def test_round4_report_plan_shapes(spark, documents_smoke):
    """Scale-shape audits for the round-4 report operators: the
    contamination drill-down broadcasts the benchmark shingles (never a
    big-big join); dedup_savings and the bucket histogram get map-side
    partial aggregation (two HashAggregate levels — counter rows shuffle,
    never text); the span cut never degrades to a nested-loop join."""
    from pyspark.sql import functions as F

    from ollama_ocr_spark.operators.dedup import (contamination_by_source,
                                                  dedup_savings,
                                                  lsh_bucket_histogram,
                                                  remove_duplicate_spans)

    docs = documents_smoke.select("doc_id", "source", "text")
    bench = documents_smoke.filter("doc_id % 101 = 0").select("text")
    cont = plan_report(contamination_by_source(docs, bench))
    assert cont.n_broadcasts >= 1

    sav = plan_report(dedup_savings(docs)).raw
    assert sav.count("HashAggregate") >= 2
    hist = plan_report(lsh_bucket_histogram(docs)).raw
    assert hist.count("HashAggregate") >= 2

    cut = plan_report(remove_duplicate_spans(docs)).raw
    assert "CartesianProduct" not in cut
    assert "BroadcastNestedLoopJoin" not in cut


def test_zipf_deciles_representatives_plan_shapes(spark, documents_smoke):
    """Scale-shape audits for the late-round-4 reports: the Zipf rank cut
    must be TakeOrdered (per-partition top-k, never a global sort of the
    vocabulary); the window then sorts only the 500 surviving rows.
    dedup_representatives must BROADCAST the component labels (clusters
    cover only candidate-pair docs) and never degrade to a nested loop;
    bigram_logprob's LM join must stay a hash/merge join with map-side
    partial aggregation on the bigram counts."""
    from ollama_ocr_spark.operators.dedup import dedup_representatives
    from ollama_ocr_spark.operators.textstats import (bigram_logprob_scores,
                                                      quality_deciles,
                                                      zipf_slope)

    docs = documents_smoke.select("doc_id", "text")
    z = plan_report(zipf_slope(docs)).raw
    assert "TakeOrderedAndProject" in z, (
        "zipf_slope's top-N cut lost TakeOrdered — a global vocab sort "
        "does not survive a 100x vocabulary")

    rep = plan_report(dedup_representatives(docs))
    assert rep.n_broadcasts >= 1
    assert "CartesianProduct" not in rep.raw
    assert "BroadcastNestedLoopJoin" not in rep.raw

    bg = plan_report(bigram_logprob_scores(docs)).raw
    assert bg.count("HashAggregate") >= 4  # partial+final on both aggs
    assert "CartesianProduct" not in bg

    qd = plan_report(quality_deciles(docs)).raw
    assert qd.count("HashAggregate") >= 4


def test_parallelism_guard_win_loss_boundary(spark, documents_smoke):
    """Lock the MEASURED ensure_parallelism win/loss boundary into the
    plan (BENCH.md round 3): the guard's round-robin repartition wins on
    expression-heavy SINGLE-PASS text operators (curation_verdict 5.2 ->
    2.1 s at sf0.1) but is a measured LOSS on small ITERATIVE vector
    pipelines (semantic_dedup 8.8 -> 15.0 s: many short k-means/pair
    passes each re-pay 32-task scheduling + a shuffle). A refactor that
    'helpfully' adds the guard to semantic_dedup re-introduces that
    regression — this test is the tripwire."""
    from ollama_ocr_spark.operators.similarity import semantic_dedup
    from ollama_ocr_spark.operators.textstats import curation_verdict

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sd = plan_report(semantic_dedup(emb)).raw
    assert "RoundRobinPartitioning" not in sd, (
        "semantic_dedup gained a parallelism-guard repartition — this was "
        "a measured 8.8 -> 15.0 s LOSS at sf0.1 (BENCH.md round 3); the "
        "guard belongs on single-pass text operators only")
    cv = plan_report(curation_verdict(documents_smoke)).raw
    assert "RoundRobinPartitioning" in cv, (
        "curation_verdict lost its parallelism guard — single-file scans "
        "otherwise run the expression-heavy verdict on ONE core "
        "(measured 5.2 -> 2.1 s win at sf0.1)")


def test_chunk_ann_index_pruning(spark, documents_smoke, tmp_path):
    """Chunk-to-retrieval path (RAG prep): chunk → stub-embed →
    materialized IVF index → probe. Probing must partition-prune to the
    probed cells and agree with the in-memory ivf_topk at the same
    n_probe. Same contract as test_ivf_index_partition_pruning, over
    CHUNK vectors built by the embed stub instead of the embeddings
    table."""
    from pyspark.sql import functions as F

    from ollama_ocr_spark.operators.similarity import (
        embed_text_stub, ivf_topk, ivf_topk_indexed, ivf_write_index)
    from ollama_ocr_spark.operators.textstats import chunk_documents

    chunks = chunk_documents(documents_smoke, size=32, stride=24)
    vecs = chunks.select(
        (F.col("doc_id") * 1024 + F.col("chunk_id")).alias("ck"),
        "doc_id", embed_text_stub(F.col("chunk"), dim=16).alias("v"),
    )
    corpus = vecs.filter("doc_id % 100 != 0").drop("doc_id")
    queries = vecs.filter("doc_id % 100 = 0").drop("doc_id").limit(3)
    path = str(tmp_path / "chunk_ivf")
    ivf_write_index(corpus, path, key="ck", vec="v", n_centroids=4, dim=16)

    got_df = ivf_topk_indexed(spark, path, queries, k=3, key="ck", vec="v",
                              n_probe=2)
    got = {(r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
           for r in got_df.collect()}
    want = {(r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in ivf_topk(corpus, queries, k=3, key="ck", vec="v",
                              n_centroids=4, n_probe=2, dim=16).collect()}
    assert got == want and got
    report = plan_report(got_df)
    assert any(
        "cluster" in p and ("IN" in p or "in(" in p.lower())
        for p in report.partition_filters
    ), f"no cluster partition filter: {report.partition_filters}"


def test_ref_bucket_join_no_ref_exchange(spark, documents_smoke):
    """Nightly incremental dedup plan shape: the persisted (band, bucket)-
    bucketed reference table reads straight into the cross-corpus join —
    NO exchange above the ref-side scan; only tonight's delta shuffles.
    This is the curate_corpus_incremental scale contract (nightly cost is
    O(delta), not O(corpus))."""
    from ollama_ocr_spark.operators.dedup import (cross_corpus_near_dupes,
                                                  write_band_buckets)

    ref = documents_smoke.filter("doc_id % 10 != 0")
    delta = documents_smoke.filter("doc_id % 10 = 0")
    write_band_buckets(ref, "ref_bkt_test", num_buckets=8)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a non-broadcast join so the plan must use the bucket layout
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = cross_corpus_near_dupes(
            delta, None, ref_buckets=spark.table("ref_bkt_test"))
        raw = plan_report(out).raw
        assert "SortMergeJoin" in raw, raw
        # exactly ONE exchange on the (band, bucket) join key — the delta
        # side entering the join. A second would mean the bucketed
        # reference corpus re-shuffled. (The other two exchanges are the
        # operator's own pair-distinct and per-new-doc groupBy, both over
        # id-only pair rows, not the corpus.)
        assert raw.count("Exchange hashpartitioning(band") == 1, raw
        assert raw.count("Exchange hashpartitioning") <= 3, raw
        assert "ref_bkt_test" in raw
        assert out.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS ref_bkt_test")


def test_vocab_and_curation_plan_shapes(spark, documents_smoke):
    """vocab_topk: token counts get map-side partial aggregation (two
    HashAggregate levels) so only (token, partial-count) shuffles;
    curation_verdict: the digest keeper agg is the same two-level shape
    and the whole verdict needs at most 3 exchanges (keeper agg + join +
    guard)."""
    from ollama_ocr_spark.operators.textstats import (
        curation_verdict, vocab_topk)

    vocab = plan_report(vocab_topk(documents_smoke, k=10))
    assert vocab.raw.count("HashAggregate") >= 2

    verdict = plan_report(curation_verdict(documents_smoke))
    assert verdict.raw.count("HashAggregate") >= 2
    assert verdict.n_exchanges <= 4


def test_ivf_index_partition_pruning(spark, tmp_path):
    """The materialized IVF index is partitioned by centroid cell; probing
    must read ONLY the probed cells' directories (partition pruning) and
    return exactly what the in-memory ivf_topk computes."""
    from ollama_ocr_spark.operators.similarity import (
        ivf_topk, ivf_topk_indexed, ivf_write_index)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.filter("vec_id >= 10")
    queries = emb.filter("vec_id = 0")  # one query → ≤ n_probe cells
    path = str(tmp_path / "ivf")
    ivf_write_index(corpus, path, n_centroids=8)

    got_df = ivf_topk_indexed(spark, path, queries, k=5, n_probe=2)
    got = {(r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
           for r in got_df.collect()}
    want = {(r["query_id"], r["neighbor_id"], r["cosine"], r["rank"])
            for r in ivf_topk(corpus, queries, k=5, n_centroids=8,
                              n_probe=2).collect()}
    assert got == want

    # partition pruning is visible as a static PartitionFilter on the
    # cluster column (DataFrame.inputFiles() ignores pushed filters, so
    # the plan is the reliable witness)
    report = plan_report(got_df)
    assert any(
        "cluster" in p and ("IN" in p or "in(" in p.lower())
        for p in report.partition_filters
    ), f"no cluster partition filter: {report.partition_filters}"


def test_resume_anti_join_bloom_matches_exact(spark, documents_smoke):
    """The bloom prefilter only ROUTES rows — membership stays exact, so
    the result must equal the plain anti-join even when bloom_bits is
    tiny and nearly every row collides into the maybe-branch."""
    from ollama_ocr_spark.operators.maintenance import resume_anti_join

    done = documents_smoke.filter("doc_id % 3 = 0").select("doc_id")
    want = sorted(
        r["doc_id"]
        for r in resume_anti_join(documents_smoke, done, key="doc_id")
        .select("doc_id").collect()
    )
    for bits in (1 << 23, 64):  # roomy and collision-heavy
        got = sorted(
            r["doc_id"]
            for r in resume_anti_join(
                documents_smoke, done, key="doc_id",
                strategy="bloom", bloom_bits=bits,
            ).select("doc_id").collect()
        )
        assert got == want, f"bloom_bits={bits}"
    report = plan_report(
        resume_anti_join(documents_smoke, done, key="doc_id",
                         strategy="bloom")
    )
    # the occupied-bucket set broadcasts to both branches
    assert report.n_broadcasts >= 2


def test_embedding_near_dupes_bucketed_is_equijoin(spark):
    """The LSH-bucketed scale path must never plan a nested-loop /
    cartesian join (the exact strategy's O(n²) shape), and its candidate
    pairs must exact-rerank to a subset of the exact result."""
    from ollama_ocr_spark.operators.dedup import embedding_near_dupes

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bucketed = embedding_near_dupes(emb, threshold=0.45, strategy="bucketed")
    audit_plan(
        bucketed,
        forbid_ops=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )
    # a BARE call (no strategy kwarg) must take the bucketed scale path —
    # the O(n²) nested loop is opt-in only
    audit_plan(
        embedding_near_dupes(emb, threshold=0.45),
        forbid_ops=["BroadcastNestedLoopJoin", "CartesianProduct"],
    )
    exact = embedding_near_dupes(emb, threshold=0.45, strategy="exact")
    got = {(r["a"], r["b"], r["cosine"]) for r in bucketed.collect()}
    want = {(r["a"], r["b"], r["cosine"]) for r in exact.collect()}
    assert got <= want, "bucketed rerank produced a pair the exact path lacks"
    # the exact strategy, by contrast, IS a nested-loop plan (documented)
    report = plan_report(exact)
    assert "BroadcastNestedLoopJoin" in report.raw or "Cartesian" in report.raw


def test_resume_anti_join_broadcasts_small_done_set(spark, documents_smoke):
    from ollama_ocr_spark.operators.maintenance import resume_anti_join

    done = documents_smoke.filter("doc_id % 7 = 0").select("doc_id")
    out = resume_anti_join(documents_smoke, done, key="doc_id")
    report = plan_report(out)
    assert report.n_broadcasts >= 1  # AQE/Catalyst picks broadcast anti-join


def test_export_reference_outputs(spark, documents_smoke, tmp_path):
    results = extract_stage(
        latest_capture(synthesize_stage(documents_smoke.filter("doc_id < 40")))
    )
    out_dir = str(tmp_path / "export")
    csv_path = export_reference_outputs(results, out_dir)

    with open(csv_path, newline="", encoding="utf-8") as fh:
        rows = list(csv.reader(fh))
    assert rows[0] == ["file", "engine", "chars", "pages", "type"]
    assert len(rows) == 41  # header + one row per doc

    # text files exist for non-error docs, named OCR_{stem}.txt
    assert os.path.exists(os.path.join(out_dir, "OCR_article-0.txt"))
    with open(os.path.join(out_dir, "OCR_playbook-7.txt"),
              encoding="utf-8") as fh:
        assert "--- Page 1 ---" in fh.read()
    # error docs get CSV error rows but no text file
    err_rows = [r for r in rows[1:] if r[1] == "error"]
    assert err_rows and all(r[2:] == ["0", "0", "error"] for r in err_rows)
    assert not os.path.exists(os.path.join(out_dir, "OCR_page-9.txt"))


def test_cli_batch_and_single_url(spark, tmp_path, capsys):
    """Reference-CLI parity: batch run exports OCR_{stem}.txt + summary.csv,
    re-run resumes (0 new docs), --url prints the 400-char preview."""
    from ollama_ocr_spark.cli import main

    workdir = str(tmp_path / "run")
    outdir = str(tmp_path / "out")
    base = ["--input", "/root/testdata/sf0.001/documents.parquet",
            "--synthesize", "--workdir", workdir]
    assert main(base + ["--outdir", outdir, "--csv"]) == 0
    out = capsys.readouterr().out
    assert "extracted 500 new / 500 docs" in out
    assert os.path.exists(os.path.join(outdir, "summary.csv"))
    assert os.path.exists(os.path.join(outdir, "OCR_article-0.txt"))

    # resume: nothing new
    assert main(base) == 0
    assert "extracted 0 new / 500 docs" in capsys.readouterr().out

    # single-file mode analog
    assert main(base + ["--url", "https://h0.example.com/src0/article-0.html"]) == 0
    out = capsys.readouterr().out
    assert out.startswith("[printed] https://h0.example.com/src0/article-0.html")

    # --outdir without --csv writes text files only
    outdir2 = str(tmp_path / "out2")
    assert main(base + ["--outdir", outdir2]) == 0
    assert os.path.exists(os.path.join(outdir2, "OCR_article-0.txt"))
    assert not os.path.exists(os.path.join(outdir2, "summary.csv"))

    # --page on a multi-page PDF (cloud-CLI --page analog): page text only
    pdf_url = "https://h0.example.com/src7/playbook-7.pdf"
    assert main(base + ["--url", pdf_url, "--page", "2"]) == 0
    out = capsys.readouterr().out
    assert "--- Page" not in out.splitlines()[1]
    assert main(base + ["--url", pdf_url, "--page", "99"]) == 1
    capsys.readouterr()

    # --show-timing prints the timing block in both modes
    assert main(base + ["--url", pdf_url, "--show-timing"]) == 0
    assert "Performance timing:" in capsys.readouterr().out
    assert main(base + ["--show-timing"]) == 0
    out = capsys.readouterr().out
    assert "wall:" in out and "throughput:" not in out  # 0 new docs on resume

    # --mode dispatch (cloud-CLI analog): analyze on a single url
    assert main(base + ["--mode", "analyze",
                        "--url", "https://h0.example.com/src0/article-0.html"]) == 0
    out = capsys.readouterr().out
    assert "title: article 0" in out and "doc_class: structured" in out
    assert main(base + ["--mode", "structured"]) == 0
    assert "structured:" in capsys.readouterr().out


def test_cli_stream(spark, tmp_path, capsys):
    """--stream (ollama_cloud_ocr.py:691,206-215 analog): single-url mode
    emits the FULL extracted text in flushed chunks — no 400-char preview
    truncation — and matches the committed results-table text exactly."""
    from pyspark.sql import functions as F

    from ollama_ocr_spark.cli import PREVIEW_CHARS, main
    from ollama_ocr_spark.sources.icetbl import IceTable

    workdir = str(tmp_path / "run")
    base = ["--input", "/root/testdata/sf0.001/documents.parquet",
            "--synthesize", "--workdir", workdir]
    assert main(base) == 0
    capsys.readouterr()

    results = IceTable(os.path.join(workdir, "results")).read(spark)
    row = (
        results.filter(F.col("chars") > PREVIEW_CHARS)
        .orderBy("url").first()
    )
    assert row is not None, "corpus has no >400-char doc?"

    assert main(base + ["--url", row["url"], "--stream"]) == 0
    streamed = capsys.readouterr().out
    header, body = streamed.split("\n", 1)
    assert header.startswith(f"[{row['engine']}] {row['url']}")
    assert body.rstrip("\n") == row["text"]  # full text, byte-identical

    # without --stream the same doc truncates to the preview contract
    assert main(base + ["--url", row["url"]]) == 0
    preview_body = capsys.readouterr().out.split("\n", 1)[1]
    assert preview_body.rstrip("\n") == row["text"][:PREVIEW_CHARS] + "..."


def test_export_refuses_bulk(spark, documents_smoke, tmp_path, monkeypatch):
    import ollama_ocr_spark.sources.export as ex

    monkeypatch.setattr(ex, "MAX_EXPORT_ROWS", 10)
    results = extract_stage(synthesize_stage(documents_smoke))
    with pytest.raises(ValueError, match="golden/fixture sink"):
        ex.export_reference_outputs(results, str(tmp_path / "x"))


def test_bucketed_write_one_file_per_bucket(spark, documents_smoke):
    """Regression pin for the small-file trap: the bucketed write must
    pre-repartition onto the bucket keys so each bucket lands in ONE
    parquet file — without it every upstream task writes a file per
    bucket it sees (measured 513 files for an 18k-row table, 4x slower
    write, per-FILE downstream task scheduling)."""
    import glob
    import os
    from urllib.parse import urlparse

    from ollama_ocr_spark.operators.maintenance import write_bucketed

    df = documents_smoke.select("doc_id", "source").repartition(8)
    write_bucketed(df, "bkt_files", "doc_id", num_buckets=4)
    try:
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
        files = glob.glob(os.path.join(wh.path, "bkt_files", "*.parquet"))
        assert len(files) == 4, sorted(os.path.basename(f) for f in files)
        assert spark.table("bkt_files").count() == df.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_files")


def test_fourth_sitting_plan_shapes(spark, documents_smoke):
    """Scale-shape pins for the fourth-sitting operators: the graph
    iteratives never degrade to a nested loop; the histogram/KL/
    co-occurrence reports keep hash joins + map-side partial aggs; the
    only nested-loop joins anywhere are against broadcast
    checkpoint-row tables (heaps_law's 10-row cut/beta attach, the
    one-row grand-total crossJoins)."""
    from pyspark.sql import functions as F

    from ollama_ocr_spark.operators.extract import synthesize_stage
    from ollama_ocr_spark.operators.linkgraph import (host_hits, host_kcore,
                                                      outlink_edges)
    from ollama_ocr_spark.operators.maintenance import latest_capture
    from ollama_ocr_spark.operators.reports import (event_cooccurrence,
                                                    interevent_histogram)
    from ollama_ocr_spark.operators.textstats import (heaps_law,
                                                      source_token_kl)
    from ollama_ocr_spark.plans.audit import plan_report

    edges = outlink_edges(latest_capture(synthesize_stage(documents_smoke)))
    # the iteratives' crossJoin/max-rescale branches all live INSIDE
    # eager localCheckpoints — the downstream plan joins checkpointed
    # host tables only, so strictly zero nested-loop operators remain
    for df in (host_kcore(edges, k=5, rounds=2), host_hits(edges, 1)):
        raw = plan_report(df).raw
        assert "BroadcastNestedLoopJoin" not in raw
        assert "CartesianProduct" not in raw

    ev = spark.createDataFrame(
        [(1, 1, "a", 100), (1, 2, "a", 200), (2, 3, "b", 150)],
        ["user_id", "event_id", "event_type", "ts_us"])
    hist = plan_report(interevent_histogram(ev))
    assert hist.raw.count("Exchange") <= 2      # window + (type,bucket) agg
    assert "CartesianProduct" not in hist.raw

    co = plan_report(event_cooccurrence(ev)).raw
    assert "CartesianProduct" not in co
    # the only BNLJ is the one-row n_users broadcast attach
    assert co.count("BroadcastNestedLoopJoin") <= 1

    docs = documents_smoke.select("doc_id", "source", "text")
    hl = plan_report(heaps_law(docs)).raw
    # curve is checkpointed: downstream plan is the 10-row curve + the
    # broadcast beta attach only — the corpus tokenize appears ZERO
    # times in the FINAL plan (it ran inside the checkpoint: twice
    # there, once per map-side branch — see the heaps_law cost note —
    # but never again downstream)
    assert hl.count("BroadcastNestedLoopJoin") <= 1
    assert hl.count("Exchange") <= 2
    assert "regexp_extract_all" not in hl

    kl = plan_report(source_token_kl(docs)).raw
    assert "CartesianProduct" not in kl
    assert kl.count("BroadcastNestedLoopJoin") <= 1   # one-row N attach
