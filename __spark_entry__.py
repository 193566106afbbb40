"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction pipeline at sf0.001.
``queries()`` — one entry per implemented operator (SURVEY.md §2 + the
training-data-pipeline operators: dedup families, similarity search, text
stats). Each callable takes ``(spark, sf_dir)`` and returns a DataFrame.
``oracle_sql()`` — DuckDB-ANSI equivalents over the pre-registered views.

The extraction queries run the REAL engine end-to-end: the pages corpus is a
pure function of the ``documents`` table (ollama_ocr_spark.corpus), so the
DuckDB oracle can state the expected *byte-identical* output in plain SQL —
that is the north-rule correctness gate, driver-checked.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

_SHIPPED = set()


def _ensure_shipped(spark: SparkSession) -> None:
    """Ship the package zip to this session's Python workers exactly once,
    and pin UTC session semantics (timestamp queries assume it; the driver's
    session timezone is not guaranteed)."""
    key = id(spark.sparkContext)
    if key not in _SHIPPED:
        from ollama_ocr_spark.session import _ship_package

        _ship_package(spark)
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        _SHIPPED.add(key)


def _docs(spark: SparkSession, sf_dir: str, keep=None) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs if keep is None else docs.filter(keep)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _latest_pages(spark: SparkSession, sf_dir: str, keep=None) -> DataFrame:
    """Synthesized pages after the engine's dedup
    (``maintenance.latest_pages``), no extraction.

    ``keep`` is an optional predicate on ``documents.doc_id``, applied to
    the scan before synthesis. Every capture url embeds its own doc_id
    (``corpus.url_for``), so this keeps exactly the rows the same filter
    on the url-derived ``doc_id`` would keep downstream, without
    synthesizing, shuffling or parsing the rest."""
    from ollama_ocr_spark.operators.extract import synthesize_stage
    from ollama_ocr_spark.operators.maintenance import latest_pages

    _ensure_shipped(spark)
    return latest_pages(synthesize_stage(_docs(spark, sf_dir, keep)))


def _extracted(spark: SparkSession, sf_dir: str, keep=None) -> DataFrame:
    """Full engine path: :func:`_latest_pages` → extract, with the
    recovered doc_id column for oracle joins."""
    from ollama_ocr_spark.operators.extract import extract_stage
    from ollama_ocr_spark.operators.maintenance import doc_id_expr

    return extract_stage(_latest_pages(spark, sf_dir, keep)).withColumn(
        "doc_id", doc_id_expr()
    )


# ---------------------------------------------------------------------------
# entry — flagship: the end-to-end extraction pipeline + summary report
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Extract the sf0.001 corpus and report per (lang, engine) volumes."""
    results = _extracted(spark, "/root/testdata/sf0.001")
    return results.groupBy("lang", "engine").agg(
        F.count("*").alias("n_docs"),
        F.sum("chars").alias("total_chars"),
        F.sum("pages").alias("total_pages"),
    )


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_extract_text_roundtrip(spark, sf_dir):
    """North rule: byte-identical extracted text per document (HTML paths)."""
    return (
        _extracted(spark, sf_dir, F.col("doc_id") % 10 <= 6)
        .select("doc_id", "text", "chars")
    )


def q_extract_pdf_fold(spark, sf_dir):
    """PDF page explode/fold with byte-exact '--- Page N ---' separators."""
    return (
        _extracted(spark, sf_dir, F.col("doc_id") % 10 == 7)
        .select("doc_id", "text", "chars", "pages")
    )


def q_extract_handwriting(spark, sf_dir):
    """T7 handwriting transcription: the handwriting-routed HTML classes
    (k=4 memo via structure heuristic, k=6 draft via url keyword) must
    reproduce the source layout byte-for-byte — newlines and indentation
    preserved, never whitespace-collapsed."""
    return (
        _extracted(spark, sf_dir, (F.col("doc_id") % 10).isin(4, 6))
        .select("doc_id", "text", "chars", "engine")
    )


def q_extract_route_counts(spark, sf_dir):
    """Routing decision table: engine × doc_type counts over the corpus."""
    return (
        _extracted(spark, sf_dir)
        .groupBy("engine", "doc_type")
        .agg(F.count("*").alias("n_docs"))
    )


def q_extract_error_rows(spark, sf_dir):
    """Error-row contract: (engine='error', 0 chars, 0 pages) for junk/null
    payloads + the image rows (comment-text extraction, never errors)."""
    return (
        _extracted(spark, sf_dir, F.col("doc_id") % 10 >= 8)
        .select("doc_id", "engine", "chars", "pages", "doc_type", "error")
    )


def q_structured_receipts(spark, sf_dir):
    """T8 structured mode: schema.org JSON-LD receipt field extraction."""
    from ollama_ocr_spark.operators.maintenance import doc_id_expr
    from ollama_ocr_spark.operators.modes import structured_stage

    return (
        structured_stage(_latest_pages(spark, sf_dir))
        .filter(F.col("error").isNull())
        .withColumn("doc_id", doc_id_expr())
        .select("doc_id", "store_name", "date", "total_cents", "n_items")
    )


def q_structured_forms(spark, sf_dir):
    """T8 structured mode, --data-type form (reference
    `ollama_cloud_ocr.py:406-409`): field-name/value extraction from the
    table-archetype pages' Form JSON-LD."""
    from ollama_ocr_spark.operators.maintenance import doc_id_expr
    from ollama_ocr_spark.operators.modes import structured_stage

    return (
        structured_stage(_latest_pages(spark, sf_dir), data_type="form")
        .filter(F.col("error").isNull())
        .withColumn("doc_id", doc_id_expr())
        .select("doc_id", "form_name", "n_fields", "contact_email")
    )


def q_structured_price_tags(spark, sf_dir):
    """T8 structured mode, --data-type price_tag (reference
    `ollama_cloud_ocr.py:410-413`): product_name/price/sku from the
    list-archetype pages' PriceTag JSON-LD."""
    from ollama_ocr_spark.operators.maintenance import doc_id_expr
    from ollama_ocr_spark.operators.modes import structured_stage

    return (
        structured_stage(_latest_pages(spark, sf_dir),
                         data_type="price_tag")
        .filter(F.col("error").isNull())
        .withColumn("doc_id", doc_id_expr())
        .select("doc_id", "product_name", "price_cents", "sku")
    )


def q_analyze_metadata(spark, sf_dir):
    """T9 analyze mode: title/h1/structure metadata per HTML document."""
    from ollama_ocr_spark.operators.maintenance import doc_id_expr
    from ollama_ocr_spark.operators.modes import analyze_stage

    return (
        analyze_stage(
            _latest_pages(spark, sf_dir, F.col("doc_id") % 10 <= 6))
        .withColumn("doc_id", doc_id_expr())
        .select("doc_id", "title", "h1", "has_structure", "doc_class")
    )


def q_multi_step(spark, sf_dir):
    """T10 multi-step: one parse pass → text + metadata + structured."""
    from ollama_ocr_spark.operators.maintenance import doc_id_expr
    from ollama_ocr_spark.operators.modes import multi_step_stage

    return (
        multi_step_stage(
            _latest_pages(spark, sf_dir, F.col("doc_id") % 10 <= 6))
        .withColumn("doc_id", doc_id_expr())
        .select("doc_id", "text", "chars", "title", "has_receipt",
                "total_cents")
    )


def q_image_metadata(spark, sf_dir):
    """Multimodal columns: real header-level image metadata (format+dims)."""
    from ollama_ocr_spark.operators.maintenance import doc_id_expr
    from ollama_ocr_spark.operators.media import image_metadata_stage

    return (
        image_metadata_stage(_latest_pages(spark, sf_dir))
        .filter(F.col("format").isNotNull())
        .withColumn("doc_id", doc_id_expr())
        .select("doc_id", "format", "width", "height")
    )


def q_media_metadata(spark, sf_dir):
    """Audio/video metadata roundtrip: deterministic WAV/MP4 fixture payloads
    (synthesize_media_stage) parsed back by the real RIFF/ISO-BMFF header
    walkers; the oracle mirrors the doc_id arithmetic."""
    from ollama_ocr_spark.operators.media import (
        media_metadata_stage, synthesize_media_stage)

    _ensure_shipped(spark)
    media = synthesize_media_stage(_docs(spark, sf_dir))
    return media_metadata_stage(media).select(
        F.regexp_extract("url", r"media://(\d+)", 1).cast("bigint").alias("doc_id"),
        "media_type", "format", "channels", "sample_rate",
        F.round("duration_secs", 4).alias("dur_secs"),
        F.col("bytes").alias("hdr_bytes"),
    )


def q_image_features(spark, sf_dir):
    """REAL byte-level image feature vectors (dims/aspect/size/text-density/
    char-class histogram/format flag — operators.media.image_features),
    fully oracled: every component is a ratio of integers the DuckDB oracle
    recomputes from the corpus mapping, float32-cast on both sides. The
    vector is serialized to a micro-unit CSV string so the driver's
    sort_values canonicalization can handle the frame."""
    from ollama_ocr_spark.operators.maintenance import doc_id_expr
    from ollama_ocr_spark.operators.media import image_features_stage

    pages = _latest_pages(spark, sf_dir)
    out = image_features_stage(pages.filter(F.col("url").endswith(".jpg")))
    return out.select(
        doc_id_expr().alias("doc_id"),
        _micro_csv(F.col("feature")).alias("feature_csv"),
        "feature_dim",
    )


def q_image_resize(spark, sf_dir):
    """Distributed image resize over the opaque binary column: REAL header
    dimension parse + integer aspect-preserving fit into a 128x128 box
    (operators.media.fit_box — pure floor-div arithmetic the oracle
    mirrors), STUB pixel resample behind the MEDIA_KERNELS swap seam (its
    deterministic plan-string payload is md5-compared against the oracle,
    so the whole stage — plan AND fake bytes — is hash-verified)."""
    from ollama_ocr_spark.operators.maintenance import doc_id_expr
    from ollama_ocr_spark.operators.media import resize_images_stage

    pages = _latest_pages(spark, sf_dir).filter(F.col("url").endswith(".jpg"))
    out = resize_images_stage(pages, box_w=128, box_h=128)
    return out.select(
        doc_id_expr().alias("doc_id"),
        "src_w", "src_h", "out_w", "out_h", "plan_bytes",
        F.md5(F.col("resized")).alias("resized_md5"),
    )


def q_frame_sample(spark, sf_dir):
    """Distributed video frame sampling: REAL mvhd timing parse (integer
    ticks), ENGINE-SIDE frame plan (sequence/explode every 300 ticks —
    the row expansion runs in codegen, no Python), STUB frame-grab kernel
    over the post-explode rows (deterministic bytes, md5-compared). WAV
    payloads (even doc_ids) drop at the timing filter — audio has no
    frames to sample."""
    from ollama_ocr_spark.operators.media import (sample_frames_stage,
                                                  synthesize_media_stage)

    _ensure_shipped(spark)
    media = synthesize_media_stage(_docs(spark, sf_dir))
    out = sample_frames_stage(media, step_ticks=300)
    return out.select(
        F.regexp_extract("url", r"media://(\d+)", 1).cast("bigint")
        .alias("doc_id"),
        "frame_idx", "ts_ticks", "ts_ms",
        F.md5(F.col("frame")).alias("frame_md5"),
    )


def q_template_mining(spark, sf_dir):
    """Per-host template blocks via applyInPandas over the HTML archetypes
    (k <= 6). The oracle reconstructs each page's block inventory (chrome +
    content) in SQL from the corpus mapping, mirrors the per-host url-order
    sample cap, and recomputes support."""
    from ollama_ocr_spark.operators.templates import mine_templates

    pages = _latest_pages(spark, sf_dir, F.col("doc_id") % 10 <= 6)
    out = mine_templates(pages, min_support=0.5)
    return out.select(
        "host", "block", F.round("support", 4).alias("support"), "n_docs"
    )


def q_host_skew_counts(spark, sf_dir):
    """Per-host doc counts (salting-factor input, N6)."""
    from ollama_ocr_spark.operators.maintenance import host_expr

    pages = _latest_pages(spark, sf_dir)
    return pages.groupBy(host_expr().alias("host")).agg(
        F.count("*").alias("n_docs")
    )


def q_corpus_cardinality(spark, sf_dir):
    """Exact cardinality sanity on urls/hosts (N8)."""
    from ollama_ocr_spark.operators.extract import synthesize_stage
    from ollama_ocr_spark.operators.maintenance import host_expr

    _ensure_shipped(spark)
    pages = synthesize_stage(_docs(spark, sf_dir)).withColumn("host", host_expr())
    return pages.agg(
        F.countDistinct("url").alias("n_urls"),
        F.countDistinct("host").alias("n_hosts"),
    )


def q_latest_event_per_user(spark, sf_dir):
    """Latest-capture dedup window (N3) on the events table."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "event_id",
            # parquet ts is TIMESTAMP_NTZ; session TZ is UTC so the cast
            # gives the same epoch DuckDB's epoch_us computes
            F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
            "event_type",
            F.round("value", 4).alias("value_r"),
        )
    )


def q_resume_anti_join(spark, sf_dir):
    """Resume-from-snapshot anti-join (N2): drop already-done docs."""
    from ollama_ocr_spark.operators.maintenance import resume_anti_join

    docs = _docs(spark, sf_dir)
    done = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    return resume_anti_join(docs, done, key="doc_id").select("doc_id", "n_chars")


def q_pack_sequences(spark, sf_dir):
    """Pretraining sequence packing: per-bucket greedy token-budget bins
    (windowed running sum; global packing would be a one-partition window
    and is deliberately not offered)."""
    from ollama_ocr_spark.operators.textstats import (
        pack_sequences, with_token_counts)

    docs = with_token_counts(_docs(spark, sf_dir))
    return pack_sequences(docs, budget=2048, buckets=8).select(
        "doc_id", "bucket", "bin_id", "tokens"
    )


def _micro_csv(arr_col):
    """array<double> → deterministic CSV of micro-units (×1e6 bigints).

    The driver's canonicalizer ``sort_values``-es the result frame — list
    cells are unhashable there, so array outputs must leave the query as
    scalar strings. Integer micro-units dodge double→string formatting
    differences between engines entirely."""
    return F.array_join(
        F.transform(
            arr_col,
            lambda x: F.round(x.cast("double") * 1000000).cast("bigint")
            .cast("string"),
        ),
        ",",
    )


def q_normalize_embeddings(spark, sf_dir):
    """Unit-norm embedding vectors (map-side; cosine becomes dot). The unit
    vector is emitted as a micro-unit CSV string (components are already
    round(x/norm, 6), so ×1e6 is integral) for driver-canonicalizer
    compatibility."""
    from ollama_ocr_spark.operators.similarity import normalize_embeddings

    out = normalize_embeddings(_emb(spark, sf_dir))
    return out.select(
        "vec_id", _micro_csv(F.col("unit")).alias("unit_u6"), "norm"
    )


def q_quantize_embeddings(spark, sf_dir):
    """Symmetric int8 quantization + per-row dequant scale (4x ANN
    shuffle/index size cut). The int8 vector leaves the query as a CSV
    string (driver canonicalizer can't sort list cells)."""
    from ollama_ocr_spark.operators.similarity import quantize_embeddings

    out = quantize_embeddings(_emb(spark, sf_dir))
    return out.select(
        "vec_id",
        F.array_join(
            F.transform(F.col("qvec"), lambda x: x.cast("string")), ","
        ).alias("qvec_csv"),
        "scale",
    )


def q_dedup_components(spark, sf_dir):
    """Connected components over deterministic multi-hop edges (chains
    doc_id→doc_id+1 for doc_id%10<2, long-range links doc_id→2*doc_id for
    doc_id%97==0): every node must get the min reachable id as its cluster
    label. Oracle = DuckDB recursive CTE transitive closure."""
    from ollama_ocr_spark.operators.dedup import dedup_components

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    chain = docs.filter(did % 10 < 2).select(
        did.alias("a"), (did + 1).alias("b"))
    longr = docs.filter((did % 97 == 0) & (did > 0)).select(
        did.alias("a"), (did * 2).alias("b"))
    return dedup_components(chain.union(longr)).select("node", "label")


def q_hash_split(spark, sf_dir):
    """Deterministic md5-bucket train/val/test assignment — engine-portable
    (no RNG/seed), so the oracle reproduces every row's split."""
    from ollama_ocr_spark.operators.maintenance import hash_split

    return hash_split(_docs(spark, sf_dir), key="doc_id").select(
        "doc_id", "split"
    )


def q_deterministic_sample(spark, sf_dir):
    """Reproducible 25% uniform sample by md5 bucket (scale-safe df.sample
    replacement: same rows on any engine / partitioning / run)."""
    from ollama_ocr_spark.operators.maintenance import deterministic_sample

    return deterministic_sample(
        _docs(spark, sf_dir), key="doc_id", fraction=0.25
    ).select("doc_id", "n_chars")


def q_line_filter(spark, sf_dir):
    """C4-style line filter: both engines build the same 4-line input
    (good sentence / too-short / javascript / cookie lines) and must keep
    exactly the same lines."""
    from ollama_ocr_spark.operators.textstats import with_line_filter

    t = F.concat(
        F.col("text"), F.lit(".\n"),
        F.lit("short line\n"),
        F.lit("Please enable javascript to view this page.\n"),
        F.lit("This site uses cookie consent banners everywhere."),
    )
    docs = _docs(spark, sf_dir).select("doc_id", t.alias("text"))
    return with_line_filter(docs).select(
        "doc_id", "n_lines", "n_lines_kept", "clean_text"
    )


def q_paragraph_dedup(spark, sf_dir):
    """Inter-document duplicate-paragraph removal (Gopher/C4-style): both
    engines wrap documents.text with a shared boilerplate header (all docs)
    and a 1-in-4 shared footer; the operator must drop exactly those (plus
    any corpus-level exact-dup middles) and keep paragraph order."""
    from ollama_ocr_spark.operators.dedup import drop_duplicate_paragraphs

    did = F.col("doc_id")
    t = F.concat(
        F.lit("subscribe to our newsletter today\n\n"), F.col("text"),
        F.when(did % 4 == 0, F.lit("\n\nfollow us on social media"))
        .otherwise(F.concat(F.lit("\n\nunique tail "), did.cast("string"))),
    )
    docs = _docs(spark, sf_dir).select("doc_id", t.alias("text"))
    return drop_duplicate_paragraphs(docs).select(
        "doc_id", "text", "n_paras_in",
        F.col("n_paras_kept").cast("int").alias("n_paras_kept"),
    )


def q_boilerplate_paragraphs(spark, sf_dir):
    """Boilerplate mining over the same synthetic paragraph structure as
    paragraph_dedup (shared header on all docs, 1-in-4 footer): report
    the top cross-document paragraphs by distinct-doc frequency —
    deterministic (n_docs desc, digest) cut in both engines."""
    from ollama_ocr_spark.operators.dedup import boilerplate_paragraphs

    did = F.col("doc_id")
    t = F.concat(
        F.lit("subscribe to our newsletter today\n\n"), F.col("text"),
        F.when(did % 4 == 0, F.lit("\n\nfollow us on social media"))
        .otherwise(F.concat(F.lit("\n\nunique tail "), did.cast("string"))),
    )
    docs = _docs(spark, sf_dir).select("doc_id", t.alias("text"))
    return boilerplate_paragraphs(docs, min_docs=2, k=20)


def _pii_text_expr():
    """Deterministic synthetic PII appended to documents.text — shared by
    q_pii_scrub and q_pii_stats; the oracle mirrors it in SQL (doc_id
    arithmetic: every doc gains an email + IPv4, every third a phone)."""
    s = lambda c: c.cast("string")  # noqa: E731
    did = F.col("doc_id")
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), s(did), F.lit("@mail.example.com or 10.0."),
        s(did % 256), F.lit("."), s((did * 7) % 256),
        F.when(
            did % 3 == 0,
            F.concat(F.lit(" ring +1 555 010 "),
                     F.lpad(s(did % 10000), 4, "0")),
        ).otherwise(F.lit("")),
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction (emails / IPv4 / phones) — native regexp ops. Both
    engines append the same deterministic PII to documents.text, then the
    oracle re-runs the scrub with DuckDB's RE2 engine: the patterns are a
    shared dialect-safe subset (see textstats.PII_*_RE)."""
    docs = _docs(spark, sf_dir)
    from ollama_ocr_spark.operators.textstats import with_pii_scrub

    return with_pii_scrub(
        docs.select("doc_id", _pii_text_expr().alias("text"))
    ).select("doc_id", "n_emails", "n_ipv4", "n_phones", "scrubbed",
             "pii_free")


def q_pii_stats(spark, sf_dir):
    """Per-source PII exposure audit over the same synthesized PII text
    as pii_scrub: doc counts, any-hit docs, per-type totals, hit-doc
    rate — the pre-export privacy report. Counts only; scrubbed text is
    never materialized."""
    docs = _docs(spark, sf_dir)
    from ollama_ocr_spark.operators.textstats import pii_stats

    return pii_stats(
        docs.select("doc_id", "source", _pii_text_expr().alias("text"))
    )


def q_resume_anti_join_bloom(spark, sf_dir):
    """Late-resume bloom prefilter (N2 at scale): a broadcast occupied-
    bucket set routes definitely-new rows around the shuffle; only the
    bloom-positive sliver takes the exact anti-join. Output rows are
    identical to the exact strategy by construction — same oracle."""
    from ollama_ocr_spark.operators.maintenance import resume_anti_join

    docs = _docs(spark, sf_dir)
    done = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    return resume_anti_join(
        docs, done, key="doc_id", strategy="bloom"
    ).select("doc_id", "n_chars")


def q_extract_image_text(spark, sf_dir):
    """Image-branch extraction (T3): text embedded in JPEG COM / PNG tEXt
    chunks is parsed back byte-identically — the in-sandbox OCR analog
    (production swaps the comment parser for a real OCR kernel)."""
    return (
        _extracted(spark, sf_dir, F.col("doc_id") % 10 == 8)
        .select("doc_id", "text", "chars", "engine", "doc_type")
    )


def q_extract_text_plain(spark, sf_dir):
    """Text archetype end-to-end: text/plain captures served under .html
    urls (web reality) are content-sniffed, routed Text/handwriting, and
    extract as the raw-text identity."""
    return (
        _extracted(spark, sf_dir, F.col("doc_id") % 20 == 14)
        .select("doc_id", "text", "chars", "engine", "doc_type")
    )


def q_politeness_waves(spark, sf_dir):
    """Per-host politeness scheduling: deterministic wave assignment
    capping each host at 16 docs per wave (url order)."""
    from ollama_ocr_spark.operators.maintenance import (
        doc_id_expr, politeness_waves)

    out = politeness_waves(_latest_pages(spark, sf_dir), per_host_burst=16)
    return out.select(doc_id_expr().alias("doc_id"), "wave")


def q_top_docs_by_chars(spark, sf_dir):
    """Top-k largest docs (N4), deterministic tie-break."""
    from ollama_ocr_spark.operators.reports import top_k_largest

    return top_k_largest(
        _docs(spark, sf_dir).select("doc_id", "n_chars"),
        "n_chars", k=20, tiebreak="doc_id",
    )


def q_report_cube(spark, sf_dir):
    """Grouping-sets report (N9): metrics by (lang), (source), both, total."""
    from ollama_ocr_spark.operators.reports import cube_report

    return cube_report(_docs(spark, sf_dir), ["lang", "source"], "n_chars")


def q_quantile_report(spark, sf_dir):
    """Per-lang exact p50/p90/p99 of document size (Spark percentile ==
    DuckDB quantile_cont; at scale swap approx_percentile with this as
    its oracle)."""
    from ollama_ocr_spark.operators.reports import quantile_report

    return quantile_report(_docs(spark, sf_dir), "lang", "n_chars")


def q_as_of_join(spark, sf_dir):
    """AS-OF temporal join: every event picks up the latest snapshot row
    (events with event_id % 5 == 0, deduped per (user, ts)) at or before
    its timestamp. Spark composition = union + one key-window carry (no
    non-equi join, no nested loop); the oracle uses DuckDB's NATIVE
    ASOF LEFT JOIN — two independent formulations, one result."""
    from pyspark.sql import Window

    from ollama_ocr_spark.operators.reports import as_of_join

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    right = (
        e.filter(F.col("event_id") % 5 == 0)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts", F.col("value").alias("snap_value"))
    )
    left = e.select("user_id", "event_id", "ts", "event_type")
    out = as_of_join(left, right, key="user_id", ts="ts",
                     value_cols=["snap_value"])
    return out.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
        "event_type",
        F.round("snap_value", 4).alias("snap_value"),
    )


def q_range_join_binned(spark, sf_dir):
    """Interval containment via the binned EQUI-join scale path: docs fall
    into deterministic size-class intervals [i*150, (i+1)*150) for
    i in 0..19. The oracle is a plain BETWEEN join."""
    from ollama_ocr_spark.operators.reports import range_join

    intervals = spark.range(20).select(
        F.concat(F.lit("c"), F.col("id")).alias("size_class"),
        (F.col("id") * 150).alias("lo"),
        ((F.col("id") + 1) * 150).alias("hi"),
    )
    facts = _docs(spark, sf_dir).select("doc_id", "n_chars")
    out = range_join(facts, intervals, "n_chars", strategy="binned")
    return out.select("doc_id", "n_chars", "size_class")


def q_time_rollup(spark, sf_dir):
    """Hypertable-style hour+day continuous-aggregate rollup over events."""
    from ollama_ocr_spark.operators.reports import time_rollup

    return time_rollup(_events(spark, sf_dir))


def q_lang_summary(spark, sf_dir):
    """Per-group batch summary (A4 analog)."""
    from ollama_ocr_spark.operators.reports import summary_stats

    return summary_stats(_docs(spark, sf_dir), "lang", "n_chars")


def q_dedup_exact(spark, sf_dir):
    from ollama_ocr_spark.operators.dedup import exact_dupes

    return exact_dupes(_docs(spark, sf_dir))


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Inverted-index exact Jaccard with the hot-shingle guard ON
    (max_posting=1000, the web-scale default — a no-op on this corpus,
    whose largest posting list is 4; the oracle mirrors the cap)."""
    from ollama_ocr_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(_docs(spark, sf_dir))


def q_minhash_lsh_candidates(spark, sf_dir):
    from ollama_ocr_spark.operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(_docs(spark, sf_dir))


def q_winnow_fingerprints(spark, sf_dir):
    """MOSS-style winnowing fingerprints (rolling k-gram hash, window min)."""
    from ollama_ocr_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir))


def q_simhash_buckets(spark, sf_dir):
    """SimHash signatures — md5-derived bit vectors, so the DuckDB oracle
    reproduces every signature and blocking bucket bit-for-bit."""
    from ollama_ocr_spark.operators.dedup import simhash64

    return simhash64(_docs(spark, sf_dir), hash_fn="md5")


def q_token_counts(spark, sf_dir):
    from ollama_ocr_spark.operators.textstats import with_token_counts

    return with_token_counts(_docs(spark, sf_dir)).select(
        "doc_id", "n_ws_tokens", "n_re_tokens"
    )


_DUP_TEXT = ("the quick brown fox jumps over the lazy dog again and "
             "again tonight")


def q_curation_verdict(spark, sf_dir):
    """End-to-end curation verdict (dup-keeper + quality + repetition
    gates, first failing reason). Every doc_id % 11 == 7 document gets the
    same injected text so the duplicate branch is exercised: min doc_id
    keeps, the rest drop as 'duplicate'."""
    from ollama_ocr_spark.operators.textstats import curation_verdict

    docs = _docs(spark, sf_dir)
    t = F.when(F.col("doc_id") % 11 == 7, F.lit(_DUP_TEXT)).otherwise(
        F.col("text")
    )
    return curation_verdict(docs.select("doc_id", t.alias("text")))


def q_curate_corpus(spark, sf_dir):
    """The nightly 100 TB curate pipeline as ONE composite query:
    minhash-LSH candidate pairs → connected components → per-cluster
    keeper (min doc_id) → exact-dup/quality/repetition gates on the rest.
    First failing reason wins: near_duplicate > duplicate > quality >
    repetition > ok.

    Scale shape: the component labels cover only docs that appeared in a
    candidate pair (a tiny fraction of the corpus), so the label join
    broadcasts; curation_verdict adds one md5-digest shuffle; everything
    else is map-side. Oracle = the LSH bands + recursive-CTE closure +
    gate CTEs composed in one DuckDB statement."""
    from ollama_ocr_spark.operators.dedup import (
        dedup_components, minhash_lsh_candidates)
    from ollama_ocr_spark.operators.textstats import curation_verdict

    docs = _docs(spark, sf_dir)
    pairs = minhash_lsh_candidates(docs)
    comps = dedup_components(pairs)  # (node, label=min reachable doc_id)
    labeled = (
        docs.select("doc_id")
        .join(F.broadcast(comps), F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("cluster"),
        )
    )
    verdict = curation_verdict(docs.select("doc_id", "text"))
    out = labeled.join(verdict, "doc_id")
    reason = F.when(
        F.col("doc_id") != F.col("cluster"), F.lit("near_duplicate")
    ).otherwise(F.col("reason"))
    return out.select(
        "doc_id", "cluster", reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


def q_curate_corpus_incremental(spark, sf_dir):
    """Nightly INCREMENTAL curate — the delta-only twin of q_curate_corpus:
    the reference corpus's LSH band buckets are PERSISTED once as a table
    bucketed by (band, bucket) (dedup.write_band_buckets), and tonight's
    delta (doc_id % 10 == 0, same split as cross_corpus_dedup) is curated
    against them: cross-corpus near-dup flag + the exact-dup/quality/
    repetition gates, first failing reason wins. Plan shape (audited in
    tests/test_plans_export.py::test_ref_bucket_join_no_ref_exchange): the
    reference side reads its bucketed layout straight into the join — NO
    ref-side exchange and no ref-side signature recompute; only the delta
    hashes and shuffles. Nightly cost is O(delta), not O(corpus)."""
    from ollama_ocr_spark.operators.dedup import (cross_corpus_near_dupes,
                                                  write_band_buckets)
    from ollama_ocr_spark.operators.textstats import curation_verdict

    d = _docs(spark, sf_dir)
    delta = d.filter(F.col("doc_id") % 10 == 0)
    tbl = "ref_band_buckets_" + "".join(
        c if c.isalnum() else "_" for c in os.path.basename(sf_dir.rstrip("/"))
    )
    write_band_buckets(d.filter(F.col("doc_id") % 10 != 0), tbl)
    hits = cross_corpus_near_dupes(delta, None,
                                   ref_buckets=spark.table(tbl))
    verdict = curation_verdict(delta.select("doc_id", "text"))
    out = verdict.join(hits, "doc_id", "left")
    reason = F.when(
        F.col("n_ref_hits").isNotNull(), F.lit("near_duplicate")
    ).otherwise(F.col("reason"))
    return out.select(
        "doc_id",
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
        F.coalesce(F.col("n_ref_hits"), F.lit(0)).cast("bigint")
        .alias("n_ref_hits"),
        F.coalesce(F.col("first_ref"), F.lit(-1)).cast("bigint")
        .alias("first_ref"),
    )


def q_benchmark_contamination(spark, sf_dir):
    """Eval-set decontamination screen: flag docs sharing any 4-gram
    shingle with a 'benchmark' set (deterministically drawn from the
    corpus: doc_id % 101 == 0, so exact dups and the drawn docs themselves
    must flag). Benchmark shingles broadcast; one corpus-side shingle
    explode + groupBy — no big-side join."""
    from ollama_ocr_spark.operators.dedup import benchmark_contamination

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 101 == 0).select("text")
    return benchmark_contamination(docs, bench).select(
        "doc_id", "n_hits", "n_shingles", "contaminated"
    )


def q_lsh_bucket_histogram(spark, sf_dir):
    """LSH bucket-size histogram per band (exact integer size classes +
    quadratic pair bound) — the pre-run skew diagnostic for banded dedup."""
    from ollama_ocr_spark.operators.dedup import lsh_bucket_histogram

    return lsh_bucket_histogram(_docs(spark, sf_dir))


def q_split_leakage(spark, sf_dir):
    """Near-dup leakage across a ROW-level train/val/test split: LSH
    candidate pairs counted per split combination — any train×{val,test}
    mass is eval content leaking into train (the audit that motivates
    group_holdout_split). Pairs ride id-only; labels join as (id, split)
    rows."""
    from ollama_ocr_spark.operators.dedup import split_leakage
    from ollama_ocr_spark.operators.maintenance import hash_split

    return split_leakage(hash_split(_docs(spark, sf_dir), key="doc_id"))


def q_vocab_coverage(spark, sf_dir):
    """Tokenizer-sizing coverage curve: token-occurrence coverage of a
    top-N vocabulary at N in {100, 1k, 10k} — one partial-agg token
    shuffle, ranking window over the vocab-sized distinct-token relation."""
    from ollama_ocr_spark.operators.textstats import vocab_coverage

    return vocab_coverage(_docs(spark, sf_dir))


def q_dedup_savings(spark, sf_dir):
    """Per-source exact-dedup savings (docs + whitespace tokens before vs
    after digest dedup). Every doc_id % 11 == 7 document gets the same
    injected text (the q_curation_verdict duplicate fixture) so the
    savings are nonzero per source."""
    from ollama_ocr_spark.operators.dedup import dedup_savings

    docs = _docs(spark, sf_dir)
    t = F.when(F.col("doc_id") % 11 == 7, F.lit(_DUP_TEXT)).otherwise(
        F.col("text")
    )
    return dedup_savings(docs.select("source", t.alias("text")))


def q_contamination_by_source(spark, sf_dir):
    """Per-source decontamination drill-down: the doc-level contamination
    screen rolled up by source — contaminated-doc fraction and
    contaminated-shingle fraction per source, one row per source. Same
    broadcast-shingles one-pass plan as benchmark_contamination."""
    from ollama_ocr_spark.operators.dedup import contamination_by_source

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 101 == 0).select("text")
    return contamination_by_source(docs, bench)


def q_domain_mix(spark, sf_dir):
    """Deterministic domain-weighting: downsample each source to a target
    mix with md5-bucket thresholds (no RNG — same mix on any engine/run).
    src0 keeps all, src1 half, src2 a quarter, everything else 5%."""
    from ollama_ocr_spark.operators.maintenance import domain_mix

    out = domain_mix(
        _docs(spark, sf_dir),
        {"src0": 1.0, "src1": 0.5, "src2": 0.25, "*": 0.05},
        key="doc_id",
    )
    return out.select("doc_id", "source")


def q_vocab_topk(spark, sf_dir):
    """Vocabulary build: top-100 corpus tokens by frequency (deterministic
    token tiebreak); tokens shuffle with map-side partial counts."""
    from ollama_ocr_spark.operators.textstats import vocab_topk

    return vocab_topk(_docs(spark, sf_dir), k=100)


def q_oov_rate(spark, sf_dir):
    """Tokenizer-coverage check: per-doc OOV fraction against the corpus
    top-100 vocab (broadcast); token rows join map-side, docs never
    shuffle."""
    from ollama_ocr_spark.operators.textstats import oov_rate, vocab_topk

    d = _docs(spark, sf_dir)
    return oov_rate(d, vocab_topk(d, k=100))


def q_quality_scores(spark, sf_dir):
    from ollama_ocr_spark.operators.textstats import with_quality_score

    return with_quality_score(_docs(spark, sf_dir)).select(
        "doc_id", "n_words", "mean_word_len", "stopword_ratio", "quality_ok"
    )


def q_url_normalize(spark, sf_dir):
    """URL canonicalization over synthetic dirty variants of corpus urls."""
    from ollama_ocr_spark.operators.maintenance import normalize_url_expr

    pages = _latest_pages(spark, sf_dir)
    dirty = pages.select(
        F.concat(
            F.col("url"), F.lit("?utm_source=feed&id="),
            F.regexp_extract("url", r"-(\d+)\.", 1),
            F.lit("&gclid=zz#frag"),
        ).alias("url")
    )
    return dirty.select(
        F.col("url").alias("dirty_url"),
        normalize_url_expr().alias("canonical_url"),
    )


def q_domain_quality(spark, sf_dir):
    """Host-level quality rollup → blocklist candidates: hosts whose
    doc-quality pass rate < 0.85 on ≥5 docs get flagged for the next
    crawl round's url_filter blocklist. Host comes from the engine's own
    urls (host_expr over latest pages); text joins back from documents
    on the recovered doc_id."""
    from ollama_ocr_spark.operators.maintenance import doc_id_expr, host_expr
    from ollama_ocr_spark.operators.textstats import domain_quality

    hosts = _latest_pages(spark, sf_dir).select(
        host_expr().alias("host"), doc_id_expr().alias("doc_id")
    )
    joined = hosts.join(_docs(spark, sf_dir).select("doc_id", "text"),
                        "doc_id")
    return domain_quality(joined, min_docs=5, min_ok_rate=0.85)


def q_url_filter(spark, sf_dir):
    """Crawl-frontier URL hygiene gate over corpus urls with deterministic
    dirty variants: doc_id%7==0 gains a 3-param query (trap tell),
    doc_id%7==1 an 80-char query (too long); .jpg pages and /draft- paths
    hit the binary-extension / blocklist rules. Pure map-side codegen."""
    from ollama_ocr_spark.operators.maintenance import url_filter

    pages = _latest_pages(spark, sf_dir)
    did = F.regexp_extract("url", r"-(\d+)\.", 1).cast("bigint")
    dirty = pages.select(
        F.concat(
            F.col("url"),
            F.when(did % 7 == 0, F.lit("?a=1&b=2&c=3"))
            .when(did % 7 == 1, F.concat(F.lit("?q="), F.repeat(F.lit("z"), 80)))
            .otherwise(F.lit("")),
        ).alias("url")
    )
    return url_filter(dirty, blocked_pattern="/draft-")


_ROBOTS_RULES = [
    # both match every h0 /src0/ url (src0 ≡ doc_id%20==0 → stem is
    # always 'article'); the LONGER one must be the reported rule
    ("h0.example.com", "/src0/"),
    ("h0.example.com", "/src0/article"),
    ("h1.example.com", "/"),               # root rule blocks the host
    ("h2.example.com", "/src2/"),          # narrow source slice on h2
    ("h0.example.com", "/src4/"),          # memo pages on h0
]


def q_robots_filter(spark, sf_dir):
    """robots.txt disallow gate over the corpus urls: per-host path-prefix
    rules, longest (most-specific) matching rule reported per url."""
    from ollama_ocr_spark.operators.maintenance import robots_filter

    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, disallow string"
    )
    return robots_filter(_latest_pages(spark, sf_dir), rules)


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition filters: distinct/top-word/dup-kgram mass."""
    from ollama_ocr_spark.operators.textstats import with_repetition_stats

    return with_repetition_stats(_docs(spark, sf_dir)).select(
        "doc_id", "n_words", "distinct_word_frac", "top_word_frac",
        "dup_kgram_frac", "repetition_ok"
    )


def q_lang_segments(spark, sf_dir):
    """Per-paragraph language segmentation: every doc_id % 3 == 0 document
    gets an appended non-English paragraph, so mixed-language docs exist
    and the dominant-language stats must spot them."""
    from ollama_ocr_spark.operators.textstats import with_lang_segments

    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.lit("\n\nlorem ipsum dolor sit amet consectetur "
                  "adipiscing elit"),
        ).otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).select("doc_id", t.alias("text"))
    return with_lang_segments(docs).select(
        "doc_id", "n_paras", "dominant_lang", "dominant_frac", "mixed"
    )


def q_langid_confusion(spark, sf_dir):
    from ollama_ocr_spark.operators.textstats import with_langid

    return (
        with_langid(_docs(spark, sf_dir))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


def q_fingerprints(spark, sf_dir):
    from ollama_ocr_spark.operators.textstats import with_fingerprint

    return with_fingerprint(_docs(spark, sf_dir)).select(
        "doc_id", "fingerprint", "fp_bucket"
    )


def q_ann_cosine_topk(spark, sf_dir):
    from ollama_ocr_spark.operators.similarity import cosine_topk

    emb = _emb(spark, sf_dir)
    return cosine_topk(
        emb.filter(F.col("vec_id") >= 10),
        emb.filter(F.col("vec_id") < 10),
        k=5,
    ).withColumnRenamed("rank", "rnk")


def q_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN — hyperplane signs from md5 parity, so the DuckDB
    oracle reproduces the bucket assignment and the in-bucket rerank."""
    from ollama_ocr_spark.operators.similarity import lsh_bucket_topk

    emb = _emb(spark, sf_dir)
    return lsh_bucket_topk(
        emb.filter(F.col("vec_id") >= 10),
        emb.filter(F.col("vec_id") < 10),
        k=5,
    ).withColumnRenamed("rank", "rnk")


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-partitioned ANN (rows-only: floating-point codebook)."""
    from ollama_ocr_spark.operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    return ivf_topk(
        emb.filter(F.col("vec_id") >= 10),
        emb.filter(F.col("vec_id") < 10),
        k=5, n_centroids=8, n_probe=8,
    ).withColumnRenamed("rank", "rnk")


def q_ann_recall_eval(spark, sf_dir):
    """Recall@k audit of the IVF path vs the exact baseline at a
    genuinely pruned probe set (n_probe=2 of 8 cells) — the portable
    codebook makes the pruned cell assignment oracle-reproducible."""
    from ollama_ocr_spark.operators.similarity import ivf_recall_eval

    emb = _emb(spark, sf_dir)
    return ivf_recall_eval(
        emb.filter(F.col("vec_id") >= 10),
        emb.filter(F.col("vec_id") < 10),
        k=5, n_centroids=8, n_probe=2,
    )


def q_golden_compare(spark, sf_dir):
    """N1: byte-identity verdict per doc — extraction joined to goldens."""
    from ollama_ocr_spark.operators.maintenance import golden_compare

    results = (
        _extracted(spark, sf_dir, F.col("doc_id") % 10 <= 6)
        .select("doc_id", "text")
    )
    from ollama_ocr_spark.operators.maintenance import golden_text_expr

    golden = _docs(spark, sf_dir).filter(F.col("doc_id") % 10 <= 6).select(
        "doc_id", golden_text_expr().alias("text")
    )
    return golden_compare(results, golden, key="doc_id")


def q_embedding_near_dupes(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact all-pairs — the
    test-scale oracle for the bucketed scale path below)."""
    from ollama_ocr_spark.operators.dedup import embedding_near_dupes

    return embedding_near_dupes(
        _emb(spark, sf_dir), threshold=0.45, strategy="exact"
    )


def q_embedding_near_dupes_lsh(spark, sf_dir):
    """Scale path: LSH-banded near-dup pairs — equi-join on (band, sig)
    buckets, exact rerank inside buckets, no nested-loop join anywhere
    (plan-audited). Recall < 1 by design; the oracle mirrors the md5
    hyperplane buckets so the result is still exactly reproducible."""
    from ollama_ocr_spark.operators.dedup import embedding_near_dupes

    return embedding_near_dupes(
        _emb(spark, sf_dir), threshold=0.45, strategy="bucketed",
        bands=8, planes_per_band=4,
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic dedup: deterministic k-means (decimal-
    quantized centroid means make cluster ASSIGNMENT engine-portable,
    not just the report columns) then within-cluster cosine pruning to
    the lowest-keyed keeper. Pair stage is an equi-join on cluster id."""
    from ollama_ocr_spark.operators.similarity import semantic_dedup

    return semantic_dedup(_emb(spark, sf_dir), n_centroids=8, threshold=0.4)


def q_tpch_shipping_revenue(spark, sf_dir):
    """3-way join + agg (TPC-H Q3 shape); small dims broadcast."""
    c = _tbl(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    l = _tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("l_orderkey").alias("orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(
            # decimal math: float-sum ordering differs between engines and
            # flips round() at .xx5 boundaries; decimal is associative-exact
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,4)")
                    * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


def q_nation_revenue(spark, sf_dir):
    """Join + rollup report: order volume per nation."""
    o = _tbl(spark, sf_dir, "orders")
    c = _tbl(spark, sf_dir, "customer")
    n = _tbl(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("total_revenue"),
            F.count("*").alias("n_orders"),
        )
    )


def q_events_daily(spark, sf_dir):
    """Event-time daily aggregate (batch twin of the streaming path)."""
    return (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            F.date_format(F.date_trunc("DAY", "ts"), "yyyy-MM-dd").alias("day"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) via lag window."""
    from pyspark.sql import Window

    e = _events(spark, sf_dir).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy("t")
    gaps = e.withColumn("pt", F.lag("t").over(w)).withColumn(
        "new_s",
        F.when(
            F.col("pt").isNull() | (F.col("t") - F.col("pt") > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    return gaps.groupBy("user_id").agg(F.sum("new_s").alias("n_sessions"))


def q_session_windows(spark, sf_dir):
    """Built-in ``session_window`` sessionization (declarative state-store
    path; batch twin of the streaming operator). Oracle: gaps-and-islands."""
    from ollama_ocr_spark.streaming.incremental import session_window_agg

    return session_window_agg(_events(spark, sf_dir))


def q_host_link_graph(spark, sf_dir):
    """Host-level outlink edge list extracted from the raw html of the
    latest capture per url: one JVM-regex pass + one (src,dst) shuffle.
    Edge set is deterministic corpus arithmetic (corpus.partner_hosts for
    the cross-host footer links + fixed per-archetype relative chrome)."""
    from ollama_ocr_spark.operators.linkgraph import outlink_edges

    return outlink_edges(_latest_pages(spark, sf_dir))


def q_host_pagerank(spark, sf_dir):
    """Weighted host PageRank, 3 power iterations over the cross-host
    outlink graph; oracle = the same iterations unrolled as chained CTEs
    in DuckDB (aggregates are illegal in a recursive CTE term)."""
    from ollama_ocr_spark.operators.linkgraph import host_pagerank, outlink_edges

    return host_pagerank(outlink_edges(_latest_pages(spark, sf_dir)))


def q_url_aliases(spark, sf_dir):
    """Mirror detection over the pages corpus: every %5 url gets a full
    mirror under mirror-a.example.org (and %15 a second under mirror-b),
    duplicating ALL its captures byte-for-byte — the operator must
    recover exactly those clusters with the original url as canonical
    (lexicographic min: 'h*' < 'mirror-*')."""
    from ollama_ocr_spark.operators.extract import synthesize_stage
    from ollama_ocr_spark.operators.maintenance import (
        doc_id_expr, url_aliases)

    _ensure_shipped(spark)
    pages = synthesize_stage(_docs(spark, sf_dir))
    did = doc_id_expr("url")

    def _mirror(host: str, mod: int):
        return pages.filter(did % mod == 0).withColumn(
            "url",
            F.regexp_replace("url", r"^https://[^/]+/", f"https://{host}/"),
        )

    both = pages.unionByName(_mirror("mirror-a.example.org", 5)).unionByName(
        _mirror("mirror-b.example.org", 15))
    return url_aliases(both)


def q_dedup_cluster_sizes(spark, sf_dir):
    """Near-dup family-size histogram: LSH candidates → components →
    per-cluster size → (cluster_size, n_clusters, n_docs); singleton
    count from corpus arithmetic, n_docs sums to the corpus size."""
    from ollama_ocr_spark.operators.dedup import dedup_cluster_sizes

    return dedup_cluster_sizes(_docs(spark, sf_dir))


def q_crawl_diff(spark, sf_dir):
    """Per-host re-crawl change summary: md5-digest compare of the two
    newest captures per url (corpus.capture_rows: k=0 re-crawls are
    byte-identical, k=5 re-crawls carry changed content)."""
    from ollama_ocr_spark.operators.extract import synthesize_stage
    from ollama_ocr_spark.operators.maintenance import crawl_diff

    _ensure_shipped(spark)
    return crawl_diff(synthesize_stage(_docs(spark, sf_dir)))


def q_anchor_text_stats(spark, sf_dir):
    """Inbound anchor-text counts per target host — one JVM-regex pass
    over the latest-capture html; only (dst_host, anchor) pairs shuffle.
    Oracle = corpus arithmetic: fixed per-archetype chrome anchors plus
    the constant-text partner links to corpus.partner_hosts."""
    from ollama_ocr_spark.operators.linkgraph import anchor_text_stats

    return anchor_text_stats(_latest_pages(spark, sf_dir))


def q_recrawl_schedule(spark, sf_dir):
    """Per-host recrawl-interval histogram from the per-url schedule
    (changed re-crawls get 24h, confirmed-stable 168h, single-capture
    72h — Cho & Garcia-Molina change-frequency buckets)."""
    from ollama_ocr_spark.operators.extract import synthesize_stage
    from ollama_ocr_spark.operators.maintenance import recrawl_schedule

    _ensure_shipped(spark)
    per_url = recrawl_schedule(synthesize_stage(_docs(spark, sf_dir)))
    return per_url.groupBy("host", "interval_hours").agg(
        F.count("*").alias("n_urls")
    )


def q_lsh_precision_eval(spark, sf_dir):
    """MinHash-LSH candidate quality vs exact n-gram Jaccard ground
    truth: precision/recall at true-Jaccard >= 0.5 — the banding-tuning
    report (the near-dup twin of ann_recall_eval)."""
    from ollama_ocr_spark.operators.dedup import lsh_precision_eval

    return lsh_precision_eval(_docs(spark, sf_dir))


def q_curation_funnel(spark, sf_dir):
    """Ordered gate-survival funnel over curation_verdict's first-failing
    reasons: per gate the docs it removes and the cumulative survivors.
    Same injected-duplicate input shaping as q_curation_verdict (whose
    oracle statement this one composes as a CTE)."""
    from ollama_ocr_spark.operators.textstats import curation_funnel

    docs = _docs(spark, sf_dir)
    t = F.when(F.col("doc_id") % 11 == 7, F.lit(_DUP_TEXT)).otherwise(
        F.col("text")
    )
    return curation_funnel(docs.select("doc_id", t.alias("text")))


def q_dedup_lines(spark, sf_dir):
    """Within-doc repeated-line removal: both engines wrap documents.text
    into a 4-line doc whose first line repeats at the end (nav header/
    footer shape) plus a 1-in-3 repeated middle; the operator must keep
    first occurrences, preserve order, and rebuild the text."""
    from ollama_ocr_spark.operators.dedup import drop_repeated_lines

    did = F.col("doc_id")
    header = F.concat(F.lit("nav "), (did % 5).cast("string"))
    t = F.concat(
        header, F.lit("\n"), F.col("text"), F.lit("\n"),
        F.when(did % 3 == 0, header)
        .otherwise(F.concat(F.lit("mid "), did.cast("string"))),
        F.lit("\n"), header,
    )
    docs = _docs(spark, sf_dir).select("doc_id", t.alias("text"))
    return drop_repeated_lines(docs).select(
        "doc_id", "text",
        F.col("n_lines_in").cast("int").alias("n_lines_in"),
        F.col("n_lines_kept").cast("int").alias("n_lines_kept"),
    )


def q_encoding_health(spark, sf_dir):
    """Per-source encoding-damage report: both engines inject mojibake
    ('â€™') into doc_id%7==0, U+FFFD into %11==0, and a control byte into
    %13==0 — the operator's per-source counters must attribute exactly
    those."""
    from ollama_ocr_spark.operators.textstats import encoding_health

    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(did % 7 == 0, F.lit(" cafÃ© itâ€™s"))
        .otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit(" bad�byte")).otherwise(F.lit("")),
        F.when(did % 13 == 0, F.lit(" ctl\x01end")).otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).select("doc_id", "source", t.alias("text"))
    return encoding_health(docs)


def q_fix_encoding(spark, sf_dir):
    """Repair twin of encoding_health: the same injected damage (mojibake
    into %7, U+FFFD into %11, a control byte into %13, plus garbled curly
    quotes into %5) must come back repaired byte-for-byte, with
    was_damaged attributing exactly the injected rows."""
    from ollama_ocr_spark.operators.textstats import fix_encoding

    did = F.col("doc_id")
    t = F.concat(
        F.col("text"),
        F.when(did % 7 == 0, F.lit(" cafÃ© itâ€™s"))
        .otherwise(F.lit("")),
        F.when(did % 11 == 0, F.lit(" bad�byte")).otherwise(F.lit("")),
        F.when(did % 13 == 0, F.lit(" ctl\x01end")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit(" â€œquotedâ€"))
        .otherwise(F.lit("")),
    )
    docs = _docs(spark, sf_dir).select("doc_id", t.alias("text"))
    return fix_encoding(docs)


def q_hapax_rate(spark, sf_dir):
    """Per-source vocabulary health: type/token counts, hapax legomena
    fraction (the OCR-noise signal), type-token ratio."""
    from ollama_ocr_spark.operators.textstats import hapax_rate

    return hapax_rate(_docs(spark, sf_dir))


def q_packing_efficiency(spark, sf_dir):
    """Context-length sweep for sequence packing: bins, padding waste and
    overflow at each candidate budget, from ONE shared per-bucket cumsum."""
    from ollama_ocr_spark.operators.textstats import (
        packing_efficiency, with_token_counts)

    docs = with_token_counts(_docs(spark, sf_dir))
    return packing_efficiency(docs, buckets=8)


def q_quality_sample(spark, sf_dir):
    """Soft quality-weighted downsampling: md5-acceptance against a
    per-row keep probability derived from the stopword ratio."""
    from ollama_ocr_spark.operators.textstats import quality_sample

    return quality_sample(_docs(spark, sf_dir))


def q_mix_manifest(spark, sf_dir):
    """Document-level materialization of the data-budget plan: each doc's
    repeat count = floor(epochs) + one md5-acceptance extra repeat."""
    from ollama_ocr_spark.operators.textstats import mix_manifest

    return mix_manifest(_docs(spark, sf_dir), target_tokens=2_000_000)


def q_data_budget_plan(spark, sf_dir):
    """Data-constrained training plan: sqrt-temperature token allocation
    per source against a 2M-token target, epochs capped at 4 with the
    shortfall surfaced."""
    from ollama_ocr_spark.operators.textstats import data_budget_plan

    return data_budget_plan(_docs(spark, sf_dir), target_tokens=2_000_000)


def q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer-fit report: fertility (regex pre-tokens per
    whitespace word) and chars-per-token — map-side counters only."""
    from ollama_ocr_spark.operators.textstats import tokenizer_fertility

    return tokenizer_fertility(_docs(spark, sf_dir))


def q_zipf_slope(spark, sf_dir):
    """Zipf-law OLS fit over the top-500 token frequencies (ln freq vs
    ln rank): the one-row corpus-health report. TakeOrdered rank cut, no
    global vocab sort; decimal moment sums for engine parity."""
    from ollama_ocr_spark.operators.textstats import zipf_slope

    return zipf_slope(_docs(spark, sf_dir))


def q_quality_deciles(spark, sf_dir):
    """CCNet perplexity-bucket report: unigram-LM nats → NTILE(10)
    deciles → per-decile doc count, token mass, mean nats."""
    from ollama_ocr_spark.operators.textstats import quality_deciles

    return quality_deciles(_docs(spark, sf_dir))


def q_dedup_representatives(spark, sf_dir):
    """Best-member keeper per near-dup cluster (longest doc, tie-break
    min id) with the token mass the drop saves — minhash-LSH pairs →
    components → broadcast label join → per-cluster rank."""
    from ollama_ocr_spark.operators.dedup import dedup_representatives

    return dedup_representatives(_docs(spark, sf_dir))


def q_bigram_logprob(spark, sf_dir):
    """Order-2 LM quality proxy: per-doc mean conditional-bigram nats
    (add-one smoothed, corpus-trained; 8dp-quantized ln + decimal per-doc
    sum for engine parity)."""
    from ollama_ocr_spark.operators.textstats import bigram_logprob_scores

    return bigram_logprob_scores(_docs(spark, sf_dir))


def q_crawl_budget(spark, sf_dir):
    """Per-host fetch-budget allocation for the next crawl round:
    integer per-mille churn weights over recrawl_schedule's per-url
    change evidence, bit-identical integer div allocation."""
    from ollama_ocr_spark.operators.extract import synthesize_stage
    from ollama_ocr_spark.operators.maintenance import crawl_budget

    _ensure_shipped(spark)
    return crawl_budget(
        synthesize_stage(_docs(spark, sf_dir)), total_budget=10000
    )


def q_tfidf_top_terms(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (8dp-quantized idf for engine-
    exact ln, deterministic double product for the ranking score)."""
    from ollama_ocr_spark.operators.textstats import tfidf_top_terms

    return tfidf_top_terms(_docs(spark, sf_dir).select("doc_id", "text"), k=3)


def q_bpe_pair_counts(spark, sf_dir):
    """Top-200 adjacent-symbol pair counts over the distinct-word
    frequency table — the statistic one BPE merge iteration maximizes
    (pair stage costs O(vocab), not O(corpus))."""
    from ollama_ocr_spark.operators.textstats import bpe_pair_counts

    return bpe_pair_counts(_docs(spark, sf_dir), k=200)


def q_dsir_importance(spark, sf_dir):
    """DSIR-style hashed-bigram importance weights: every raw doc scored
    against the 'en' slice as the target domain (8dp-quantized ln +
    decimal per-doc sum for engine parity)."""
    from ollama_ocr_spark.operators.textstats import dsir_importance_weights

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang")
    return dsir_importance_weights(
        docs, docs.filter(F.col("lang") == "en")
    )


def q_nb_quality(spark, sf_dir):
    """Seed-based Naive-Bayes quality classifier: src0/src1 as the
    positive seed, per-doc mean-token log-odds over the whole corpus
    (8dp-quantized ln + decimal per-doc sum for engine parity)."""
    from ollama_ocr_spark.operators.textstats import nb_quality_scores

    return nb_quality_scores(
        _docs(spark, sf_dir), F.col("source").isin("src0", "src1")
    )


def q_group_holdout_split(spark, sf_dir):
    """Leakage-safe split at SOURCE granularity honoring row fractions:
    groups laid out in md5 order, each split takes a contiguous cumulative-
    row run (plain per-group hashing misses 90/5/5 under group skew)."""
    from ollama_ocr_spark.operators.maintenance import group_holdout_split

    return group_holdout_split(
        _docs(spark, sf_dir), group_col="source"
    ).select("doc_id", "source", "split")


def q_temperature_mix(spark, sf_dir):
    """Alpha=0.5 temperature-scaled source mixing to a 50% target corpus:
    per-source keep-rates derived from sqrt-scaled counts (IEEE-exact),
    md5-bucket thresholds — deterministic on any engine."""
    from ollama_ocr_spark.operators.maintenance import temperature_mix

    out = temperature_mix(
        _docs(spark, sf_dir), alpha=0.5, target_frac=0.5, key="doc_id"
    )
    return out.select("doc_id", "source")


def q_zorder_key(spark, sf_dir):
    """Morton (Z-order) clustering key over a (x, y) = (doc_id % 64,
    doc_id // 64 % 64) grid — the write-layout key that makes min/max file
    stats prune BOTH dimensions. Pure bigint shift/mask codegen."""
    from ollama_ocr_spark.operators.maintenance import zorder_key

    d = _docs(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % 64).alias("x"),
        ((F.col("doc_id") / 64).cast("bigint") % 64).alias("y"),
    )
    return d.select(
        "doc_id", "x", "y",
        zorder_key(F.col("x"), F.col("y"), bits=6).alias("zkey"),
    )


def q_shingle_novelty(spark, sf_dir):
    """Per-crawl-round new-content fraction: doc_id order IS crawl order
    in the corpus (warc_ts = BASE_TS + doc_id s), so rounds are doc_id/50
    batches; a round's novelty = share of its distinct 5-gram shingles
    never seen in an earlier round."""
    from ollama_ocr_spark.operators.dedup import shingle_novelty

    d = _docs(spark, sf_dir).select(
        F.floor(F.col("doc_id") / 50).cast("bigint").alias("crawl_round"),
        "text",
    )
    return shingle_novelty(d)


def q_chunk_documents(spark, sf_dir):
    """Sliding-window chunking (size=32 words, stride=24 → 8-word overlap):
    the context-window prep between curation and sequence packing. Pure
    map-side array codegen; both engines emit identical chunk text."""
    from ollama_ocr_spark.operators.textstats import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), size=32, stride=24)


def q_chunk_ann_topk(spark, sf_dir):
    """Chunk-level ANN retrieval — the missing link between
    chunk_documents and the ANN family (the RAG-prep path: chunk → embed →
    index → retrieve). Docs are sliding-window chunked (32/24), each chunk
    embedded by the deterministic embed stub (similarity.embed_text_stub —
    the real-model swap seam), chunk keys bit-pack into one bigint
    (doc_id*1024 + chunk_id), and query chunks (doc_id % 100 == 0)
    retrieve top-3 neighbors from the rest via IVF with n_probe ==
    n_centroids — exact, so the oracle is brute-force SQL over the same
    stub vectors; partition pruning at n_probe < n_centroids is asserted
    in tests/test_plans_export.py::test_chunk_ann_index_pruning."""
    from ollama_ocr_spark.operators.dedup import ensure_parallelism
    from ollama_ocr_spark.operators.similarity import (embed_text_stub,
                                                       ivf_topk)
    from ollama_ocr_spark.operators.textstats import chunk_documents

    # single-partition trap: sf0.1 documents.parquet is ONE file, so the
    # expression-heavy chunk+embed subtree (16 md5/conv per chunk) would
    # run on one core (CLAUDE.md gotcha) — this is single-pass text work,
    # the guard's WIN side (unlike semantic_dedup's iterative pipeline)
    chunks = chunk_documents(ensure_parallelism(_docs(spark, sf_dir)),
                             size=32, stride=24)
    vecs = chunks.select(
        (F.col("doc_id") * 1024 + F.col("chunk_id")).alias("ck"),
        "doc_id",
        embed_text_stub(F.col("chunk"), dim=16).alias("v"),
    )
    queries = vecs.filter(F.col("doc_id") % 100 == 0).drop("doc_id")
    corpus = vecs.filter(F.col("doc_id") % 100 != 0).drop("doc_id")
    return ivf_topk(
        corpus, queries, k=3, key="ck", vec="v",
        n_centroids=4, n_probe=4, dim=16,
    ).withColumnRenamed("rank", "rnk")


def q_training_batches(spark, sf_dir):
    """End-to-end training-batch prep composite: curation gates pick the
    keep set, kept docs are sliding-window chunked (32/24), and chunks
    pack greedily into 256-token bins per hash bucket — the
    curate → chunk → pack chain a loader reads as whole bins. Chunk ids
    bit-pack into one bigint key (doc_id<<10 | chunk_id) so the pack
    window sorts a single long (CLAUDE.md bit-pack gotcha)."""
    from ollama_ocr_spark.operators.textstats import (
        chunk_documents,
        curation_verdict,
        pack_sequences,
    )

    d = _docs(spark, sf_dir)
    keep = curation_verdict(d).filter("keep").select("doc_id")
    chunks = chunk_documents(d.join(keep, "doc_id"), size=32, stride=24)
    ck = F.shiftleft(F.col("doc_id"), 10).bitwiseOR(F.col("chunk_id"))
    packed = pack_sequences(
        chunks.select(ck.alias("chunk_key"),
                      F.col("n_words").alias("n_ws_tokens")),
        key="chunk_key", tokens_col="n_ws_tokens", budget=256, buckets=8,
    )
    return packed.select(
        F.shiftright(F.col("chunk_key"), 10).alias("doc_id"),
        F.pmod(F.col("chunk_key"), F.lit(1024)).cast("int").alias("chunk_id"),
        F.col("bucket").cast("bigint").alias("bucket"),
        "bin_id",
        F.col("tokens").cast("int").alias("tokens"),
    )


def q_cross_corpus_dedup(spark, sf_dir):
    """Incremental-ingest near-dedup: the 10% of docs with doc_id % 10 == 0
    play tonight's crawl; the rest are the existing corpus. New-side band
    buckets equi-join ref-side buckets — no within-corpus pairs, text
    never shuffles."""
    from ollama_ocr_spark.operators.dedup import cross_corpus_near_dupes

    d = _docs(spark, sf_dir)
    return cross_corpus_near_dupes(
        d.filter(F.col("doc_id") % 10 == 0),
        d.filter(F.col("doc_id") % 10 != 0),
    )


def q_phrase_search(spark, sf_dir):
    """Exact-phrase search over positional postings: per-word filtered
    postings equi-joined on (doc, shifted pos) — cost tracks the rarest
    word, never the corpus."""
    from ollama_ocr_spark.operators.search import (phrase_search,
                                                   positional_postings)

    return phrase_search(
        positional_postings(_docs(spark, sf_dir).select("doc_id", "text")),
        ["table", "part"],
    )


def q_and_search(spark, sf_dir):
    """Boolean-AND search: one filtered postings scan + one groupBy(doc);
    match = distinct-term count reaches the query width."""
    from ollama_ocr_spark.operators.search import (and_search,
                                                   positional_postings)

    return and_search(
        positional_postings(_docs(spark, sf_dir).select("doc_id", "text")),
        ["vector", "merge"],
    )


def q_unigram_logprob(spark, sf_dir):
    """Corpus-unigram LM quality proxy (CCNet perplexity-bucket analog):
    per-doc mean -ln p(token), add-one smoothed corpus unigram LM."""
    from ollama_ocr_spark.operators.textstats import unigram_logprob_scores

    return unigram_logprob_scores(_docs(spark, sf_dir))


def q_remove_dup_spans(spark, sf_dir):
    """Exact-substring dedup CUT: drop every word position covered by a
    cross-document duplicated 8-gram, keep order — the removal stage the
    coverage report (ngram_span_coverage) only measures."""
    from ollama_ocr_spark.operators.dedup import remove_duplicate_spans

    return remove_duplicate_spans(_docs(spark, sf_dir), k=8)


def q_ngram_span_coverage(spark, sf_dir):
    """Exact-substring dedup coverage (Lee et al. analog): fraction of each
    doc covered by cross-document duplicated 8-grams (interval union)."""
    from ollama_ocr_spark.operators.dedup import duplicated_ngram_coverage

    return duplicated_ngram_coverage(_docs(spark, sf_dir), k=8)


def q_retrieval_rerank(spark, sf_dir):
    """Two-stage retrieval (the RAG-prep shape): BM25 recall stage pulls
    the top-50 lexical candidates, then an embedding cosine rerank scores
    ONLY those 50 per query vector — the candidate set bounds the
    expensive vector math, so rerank cost is |Q|x50, never |Q|x|corpus|.
    Output carries both scores (cosine rank + bm25) per (query, doc)."""
    from ollama_ocr_spark.operators.search import bm25_topk, positional_postings
    from ollama_ocr_spark.operators.similarity import cosine_topk

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    cands = bm25_topk(
        positional_postings(docs), ["vector", "merge", "table"], k=50
    )
    emb = _emb(spark, sf_dir)
    cvecs = emb.join(
        cands, emb.vec_id == cands.doc_id
    ).select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 3)
    out = cosine_topk(cvecs, queries, k=5).withColumnRenamed("rank", "rnk")
    return out.join(
        cands.select(
            F.col("doc_id").alias("neighbor_id"),
            F.col("score").alias("bm25"),
        ),
        "neighbor_id",
    ).select("query_id", "neighbor_id", "cosine", "rnk", "bm25")


def q_host_degree_stats(spark, sf_dir):
    """Per-host in/out degree + weighted link sums over the cross-host
    outlink graph (self-loops dropped, matching the PageRank edge set):
    two host-level partial aggs + a full outer join; the corpus scans
    once in outlink_edges and never again."""
    from ollama_ocr_spark.operators.linkgraph import (host_degree_stats,
                                                      outlink_edges)

    return host_degree_stats(outlink_edges(_latest_pages(spark, sf_dir)))


def q_bigram_stats(spark, sf_dir):
    """Top-50 corpus bigrams with 8dp-rounded PMI: exact BIGINT count
    products on both engines, ONE double division feeding ln (mirrored
    expression tree), counts break ties by bigram text."""
    from ollama_ocr_spark.operators.textstats import bigram_stats

    return bigram_stats(_docs(spark, sf_dir), k=50)


def q_length_histogram(spark, sf_dir):
    """Per-lang log2-bucketed doc-length histogram: bucket = bit-width via
    base-2 string conv (exact integer arithmetic — floor(log2) flips at
    power-of-two boundaries), one map-side expression + one partial agg."""
    from ollama_ocr_spark.operators.textstats import length_histogram

    return length_histogram(_docs(spark, sf_dir))


def q_robots_rule_stats(spark, sf_dir):
    """Disallow-rule utilization over the corpus urls: longest-match
    attribution per blocked url, dead/shadowed rules report 0 — the
    h0 '/src0/' rule is fully shadowed by '/src0/article' (every src0
    stem is 'article'), which only this view exposes."""
    from ollama_ocr_spark.operators.maintenance import robots_rule_stats

    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, disallow string"
    )
    return robots_rule_stats(_latest_pages(spark, sf_dir), rules)


def q_minhash_band_recall(spark, sf_dir):
    """LSH S-curve measured on this corpus: per (bands, rows) split of
    the 8-hash signature, candidate volume and recall vs the rounded-
    Jaccard >= 0.5 truth; equi-join candidates (cap-or-join rule)."""
    from ollama_ocr_spark.operators.dedup import minhash_band_recall

    return minhash_band_recall(_docs(spark, sf_dir))


def q_containment_histogram(spark, sf_dir):
    """Containment band histogram (20 bands): the asymmetric threshold-
    tuning twin of jaccard_histogram — exact integer bucketing over
    inter / min(|A|, |B|) raw counts."""
    from ollama_ocr_spark.operators.dedup import containment_histogram

    return containment_histogram(_docs(spark, sf_dir))


def q_quality_by_crawl_round(spark, sf_dir):
    """Selection-drift monitor: is each crawl round's url slice
    quality-representative of the corpus? Round 0 = every url's first
    capture, round 1 = the recrawl slice (corpus arithmetic:
    doc_id%5==0); per round, doc count and quality pass rate — a skewed
    recrawl policy shows up as ok_rate drift between rounds."""
    from ollama_ocr_spark.operators.textstats import with_quality_score

    docs = with_quality_score(_docs(spark, sf_dir)).select(
        "doc_id", "quality_ok"
    )
    rounds = docs.select(F.lit(0).alias("round"), "quality_ok").unionByName(
        docs.filter(F.col("doc_id") % 5 == 0).select(
            F.lit(1).alias("round"), "quality_ok"
        )
    )
    return rounds.groupBy("round").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("quality_ok").cast("int")).alias("n_ok"),
        F.round(
            F.sum(F.col("quality_ok").cast("int")) * F.lit(1.0)
            / F.count("*"), 4
        ).alias("ok_rate"),
    )


def q_wave_makespan(spark, sf_dir):
    """Politeness capacity planning: per burst size (8/16/32), wave count
    and deterministic makespan over the corpus urls — per-host latency is
    the md5_u32 portable hash (engine-exact), all integer arithmetic
    ((n + b - 1) div b wave counts, never float ceil)."""
    from ollama_ocr_spark.operators.maintenance import wave_makespan

    return wave_makespan(_latest_pages(spark, sf_dir))


def q_community_budget(spark, sf_dir):
    """Quarantine-gated fetch-budget reallocation across LPA communities
    — the action community_quarantine's verdict feeds: quarantined
    communities (the spam clique's two halves) are zeroed and their
    share flows pro-rata to clean communities; all-integer div
    allocation (the crawl_budget idiom). Spam/loner hosts get
    deterministic synthetic url counts so the gate has mass to take
    away; real hosts own one url per document."""
    from ollama_ocr_spark.operators.linkgraph import community_budget

    quar = q_community_quarantine(spark, sf_dir)
    pages = _latest_pages(spark, sf_dir)
    from ollama_ocr_spark.operators.maintenance import host_expr

    real = pages.select(host_expr().alias("host")).groupBy("host").agg(
        F.count("*").alias("n_urls"))
    extra = spark.createDataFrame(
        [(f"spam{i}.junk", 30 + i) for i in range(5)]
        + [("lone.junk", 12), ("tiny.shop", 3)],
        "host string, n_urls bigint",
    )
    return community_budget(quar, real.unionByName(extra),
                            total_budget=10000)


def q_bpe_learn(spark, sf_dir):
    """Deterministic BPE merge learning, 6 rounds over the word-type
    frequency table: exact BIGINT pair counts, (count desc, lhs, rhs)
    argmax, greedy left-to-right non-overlapping merge application via
    an array fold. Oracle = the same rounds unrolled with DuckDB
    list_reduce (single-element-list fold, identical greedy
    semantics)."""
    from ollama_ocr_spark.operators.textstats import bpe_learn

    return bpe_learn(_docs(spark, sf_dir), k=6)


def q_snapshot_gc_report(spark, sf_dir):
    """Snapshot-GC audit over the icetbl lifecycle: three single-file
    appends (doc_id % 3 slices), compact-to-one, expire(keep_last=1)
    which must reclaim exactly the 3 pre-compaction files. n_rows is
    read back THROUGH the snapshot layer, so the oracle comparison
    verifies commit atomicity + time-travel bookkeeping end-to-end; the
    oracle predicts every row arithmetically from documents."""
    import shutil
    import tempfile

    from ollama_ocr_spark.sources.icetbl import snapshot_lifecycle_report

    root = tempfile.mkdtemp(prefix="icetbl_gc_")
    try:
        return snapshot_lifecycle_report(spark, _docs(spark, sf_dir), root)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_cdc_chunks(spark, sf_dir):
    """Content-defined vs fixed-stride chunking under an INSERTION edit:
    every doc_id%11==0 doc gets a copy with three words prepended
    (doc_id+5000000), both corpora are chunked by cdc_chunk_documents
    (gear window 8, 2^4 boundary mask) AND chunk_documents (32/24), and
    per planted pair we count distinct chunk digests shared between
    original and edited copy. CDC re-synchronizes after the first
    boundary (shared_rate near 1); the fixed grid misaligns every
    window (near 0) — the measured case for content-defined chunking in
    a dedup pipeline. Reference analog: none (corpus-prep surface)."""
    from ollama_ocr_spark.operators.dedup import ensure_parallelism
    from ollama_ocr_spark.operators.textstats import (cdc_chunk_documents,
                                                      chunk_documents)

    docs = (_docs(spark, sf_dir).select("doc_id", "text")
            .filter(F.col("doc_id") % 11 == 0))
    copies = docs.select(
        (F.col("doc_id") + 5000000).alias("doc_id"),
        F.concat(F.lit("xq zr wv "), F.col("text")).alias("text"),
    )
    # Heavy per-row HOF work (hash transform + O(n*w) gear filter) runs
    # BEFORE the first shuffle — the ensure_parallelism-pays shape.
    both = ensure_parallelism(docs.unionByName(copies))

    def pair_stats(chunks, pfx):
        # One aggregation chain per chunker: fold the orig/copy sides
        # into (key, side) flags and count shared digests via min/max
        # side per (key, digest) — the orig/copy split-then-rejoin form
        # re-EXECUTED the whole chunk pipeline per branch (no common-
        # subexpression reuse across plan branches; 12 scans, 42
        # exchanges before this shape).
        side = (F.col("doc_id") >= 5000000).cast("int")
        key = F.when(
            F.col("doc_id") >= 5000000, F.col("doc_id") - 5000000
        ).otherwise(F.col("doc_id"))
        dd = chunks.select(
            key.alias("k"), side.alias("c"), F.md5("chunk").alias("d")
        ).distinct()
        per_d = dd.groupBy("k", "d").agg(
            F.min("c").alias("mn"), F.max("c").alias("mx")
        )
        return (
            per_d.groupBy("k")
            .agg(
                F.sum(F.when(F.col("mn") == 0, 1).otherwise(0))
                .cast("bigint")
                .alias(f"{pfx}_chunks"),
                F.sum(
                    F.when((F.col("mn") == 0) & (F.col("mx") == 1), 1)
                    .otherwise(0)
                )
                .cast("bigint")
                .alias(f"{pfx}_shared"),
            )
            .withColumnRenamed("k", "doc_id")
        )

    c = pair_stats(cdc_chunk_documents(both), "cdc")
    x = pair_stats(chunk_documents(both, size=32, stride=24), "fixed")
    return c.join(x, "doc_id").select(
        F.col("doc_id").alias("orig_id"),
        "cdc_chunks",
        "cdc_shared",
        F.round(F.col("cdc_shared") / F.col("cdc_chunks"), 4)
        .alias("cdc_rate"),
        "fixed_chunks",
        "fixed_shared",
        F.round(F.col("fixed_shared") / F.col("fixed_chunks"), 4)
        .alias("fixed_rate"),
    )


def q_host_reciprocity(spark, sf_dir):
    """Per-host edge reciprocity over the cross-host outlink graph —
    mutual = distinct out-neighbors that link back, rate guarded NULL
    for outlink-less hosts (ANSI divide-guard idiom). The third graph
    axis next to host_degree_stats and host_triangles."""
    from ollama_ocr_spark.operators.linkgraph import (host_reciprocity,
                                                      outlink_edges)

    return host_reciprocity(outlink_edges(_latest_pages(spark, sf_dir)))


def q_host_assortativity(spark, sf_dir):
    """Out-in degree assortativity (Pearson over edges) of the host
    graph — BIGINT moment sums, mirrored sqrt/divide tree, NULL on a
    zero-variance (regular) graph."""
    from ollama_ocr_spark.operators.linkgraph import (host_assortativity,
                                                      outlink_edges)

    return host_assortativity(outlink_edges(_latest_pages(spark, sf_dir)))


def q_host_mirrors(spark, sf_dir):
    """Structural mirror candidates: host pairs whose distinct outlink
    neighbor sets overlap (Jaccard >= 0.25) after stop-neighbor pruning
    (destinations with in-degree > 8 dropped from the universe, so true
    mirrors keep Jaccard 1.0 and the per-dst pair fan-out stays
    bounded). The link-graph twin of content dedup."""
    from ollama_ocr_spark.operators.linkgraph import (outlink_edges,
                                                      outlink_similarity)

    return outlink_similarity(
        outlink_edges(_latest_pages(spark, sf_dir)),
        max_in_deg=8, min_jaccard=0.25,
    )


def q_host_seed_distance(spark, sf_dir):
    """BFS hop distance from the seed whitelist (the two hub hosts)
    over the host graph — integer relaxation rounds, NULL = unreached
    within 3 hops; the discrete crawl-depth twin of host_trustrank."""
    from ollama_ocr_spark.operators.linkgraph import (host_seed_distance,
                                                      outlink_edges)

    return host_seed_distance(
        outlink_edges(_latest_pages(spark, sf_dir)),
        seeds=["h0.example.com", "h1.example.com"], max_hops=3,
    )


def _host_for_expr(doc_id_col: str):
    """Engine-side twin of ``corpus.host_for`` / the oracle's
    ``_host_case``: the latest-capture set holds exactly one url per
    doc_id, so per-host doc counts are pure doc_id arithmetic — no
    payload synthesis, no latest-capture window."""
    m = F.col(doc_id_col) % 100
    return (
        F.when(m < 50, F.lit("h0.example.com"))
        .when(m < 70, F.lit("h1.example.com"))
        .when(m < 85, F.lit("h2.example.com"))
        .otherwise(
            F.concat(
                F.lit("h"),
                (F.lit(3) + F.col(doc_id_col) % 13).cast("string"),
                F.lit(".example.com"),
            )
        )
    )


def q_crawl_reachability(spark, sf_dir):
    """What a depth-k crawl from the seed whitelist actually harvests:
    corpus hosts grouped by their BFS hop distance (3 relaxation
    rounds, NULL = unreached), with host and document counts and each
    group's share of the corpus — the coverage ledger a seed-list or
    depth-cap decision should be read against. The doc-mass side reads
    host counts straight off documents via doc_id arithmetic
    (_host_for_expr) — the payload-rendering corpus pass runs ONCE,
    inside the edge extraction."""
    from pyspark.sql import Window

    from ollama_ocr_spark.operators.linkgraph import (host_seed_distance,
                                                      outlink_edges)

    hostdocs = _docs(spark, sf_dir).groupBy(
        _host_for_expr("doc_id").alias("host")
    ).agg(F.count("*").alias("n_docs"))
    dist = host_seed_distance(
        outlink_edges(_latest_pages(spark, sf_dir)),
        seeds=["h0.example.com", "h1.example.com"], max_hops=3,
    )
    g = (
        hostdocs.join(dist, "host", "left")
        .groupBy("hops")
        .agg(F.count("*").alias("n_hosts"), F.sum("n_docs").alias("n_docs"))
    )
    return g.select(
        "hops", "n_hosts", "n_docs",
        F.round(
            F.col("n_docs") * F.lit(1.0)
            / F.sum("n_docs").over(Window.partitionBy()),
            6,
        ).alias("doc_share"),
    )


def q_token_gini(spark, sf_dir):
    """Token-mass inequality across hosts: Gini + top-decile share, all
    integer sums until the two mirrored final divisions — the one-row
    audit feeding data_budget_plan/temperature_mix decisions."""
    from ollama_ocr_spark.operators.maintenance import doc_id_expr, host_expr
    from ollama_ocr_spark.operators.textstats import token_mass_gini

    pages = _latest_pages(spark, sf_dir).select(
        host_expr().alias("host"), doc_id_expr().alias("doc_id")
    )
    docs = pages.join(_docs(spark, sf_dir).select("doc_id", "text"),
                      "doc_id")
    return token_mass_gini(docs)


def q_wave_makespan_mix(spark, sf_dir):
    """Fetch simulator with a latency MIXTURE: hosts draw cdn/origin/
    tarpit classes (salted md5 buckets, class-conditional integer
    latency + salted jitter — RNG-free) and each wave's duration is
    attributed to its slowest host's class. Per (burst, class): waves
    owned, owned ms, total makespan, share — the 'which population owns
    the wall-clock' planning readout."""
    from ollama_ocr_spark.operators.maintenance import wave_makespan_mixture

    return wave_makespan_mixture(_latest_pages(spark, sf_dir))


def q_community_quarantine(spark, sf_dir):
    """Evidence-pooled quality verdicts over LPA communities — the loop
    host_communities exists to close. Deterministic fixtures exercise
    every branch: a 5-host spam clique (heavy mutual links, 8 docs/host
    all failing quality — LPA splits it 3/2, both pools ≥ 15 docs →
    quarantined on COMMUNITY basis), the real host graph (pooled ~0.9
    ok-rate EXONERATES the six thin-evidence hosts the per-host rule
    would have blocked), a 5-doc/1-ok edge-less loner (host-basis
    quarantine via the singleton fallback), and a 3-doc host (below the
    host evidence floor → clear)."""
    from ollama_ocr_spark.operators.linkgraph import (community_quarantine,
                                                      host_communities,
                                                      outlink_edges)
    from ollama_ocr_spark.operators.maintenance import doc_id_expr, host_expr
    from ollama_ocr_spark.operators.textstats import domain_quality

    pages = _latest_pages(spark, sf_dir)
    spam = [f"spam{i}.junk" for i in range(5)]
    spam_edges = spark.createDataFrame(
        [(a, b, 25) for a in spam for b in spam if a != b],
        "src_host string, dst_host string, n_links bigint",
    )
    edges = (
        outlink_edges(pages).unionByName(spam_edges)
        .localCheckpoint(eager=True)
    )
    labels = host_communities(edges, iterations=4)

    hosts = pages.select(host_expr().alias("host"),
                         doc_id_expr().alias("doc_id"))
    joined = hosts.join(_docs(spark, sf_dir).select("doc_id", "text"),
                        "doc_id")
    hq = domain_quality(joined).select("host", "n_docs", "n_ok")
    extra = spark.createDataFrame(
        [(h, 8, 0) for h in spam]
        + [("lone.junk", 5, 1), ("tiny.shop", 3, 3)],
        "host string, n_docs bigint, n_ok bigint",
    )
    return community_quarantine(
        labels, hq.unionByName(extra), min_comm_docs=15,
    )


def q_host_topic_labels(spark, sf_dir):
    """Top-3 weak-supervision topic anchors per host after the ubiquity
    chrome filter (anchor pointing at >50% of hosts = nav boilerplate).
    The corpus's own chrome is identical across hosts — the filter
    correctly drops ALL of it (pytest-pinned) — so the driver query
    unions deterministic host-NAMING anchors (inbound links that call
    the target by name, the classic anchor signal) which are
    host-specific by construction and must survive."""
    from ollama_ocr_spark.operators.linkgraph import (anchor_text_stats,
                                                      host_topic_labels)
    from ollama_ocr_spark.operators.maintenance import doc_id_expr, host_expr

    pages = _latest_pages(spark, sf_dir)
    hosts = pages.select(host_expr().alias("dst_host"),
                         doc_id_expr().alias("doc_id"))
    named = [
        ("guide to ", 5),   # every doc_id%5==0 page earns one
        ("news from ", 3),
    ]
    extras = [
        hosts.filter(F.col("doc_id") % m == 0)
        .groupBy("dst_host")
        .agg(F.count("*").alias("n_links"))
        .select(
            "dst_host",
            F.concat(F.lit(p), F.col("dst_host")).alias("anchor"),
            "n_links",
        )
        for p, m in named
    ]
    anchors = anchor_text_stats(pages)
    for e in extras:
        anchors = anchors.unionByName(e)
    return host_topic_labels(anchors)


def q_simhash_band_recall(spark, sf_dir):
    """Banding tuning curve: candidate volume vs recall against the
    brute-force Hamming<=3 truth set for 2/4/8 band blocking — md5
    signatures so both engines see identical pair sets; pigeonhole
    predicts recall 1.0 at 4 and 8 bands, the 2-band row shows the
    loss."""
    from ollama_ocr_spark.operators.dedup import simhash_band_recall

    return simhash_band_recall(_docs(spark, sf_dir), hash_fn="md5")


def q_crawl_priority(spark, sf_dir):
    """Ranked per-host crawl priority for the next round: seeded
    TrustRank (spam-resistant authority) x domain-quality pass rate —
    trust says who the web vouches for, quality says what their pages
    were actually worth; the product ranks where the next fetch budget
    goes. 6dp-rounded trust and 4dp ok_rate multiply into a 6dp
    priority; rank ties break by host. Host-table-sized throughout."""
    from pyspark.sql import Window

    from ollama_ocr_spark.operators.linkgraph import (host_trustrank,
                                                      outlink_edges)
    from ollama_ocr_spark.operators.maintenance import doc_id_expr, host_expr
    from ollama_ocr_spark.operators.textstats import domain_quality

    pages = _latest_pages(spark, sf_dir)
    trust = host_trustrank(
        outlink_edges(pages), seeds=["h0.example.com", "h1.example.com"]
    )
    hosts = pages.select(host_expr().alias("host"),
                         doc_id_expr().alias("doc_id"))
    dq = domain_quality(
        hosts.join(_docs(spark, sf_dir).select("doc_id", "text"), "doc_id"),
        min_docs=5, min_ok_rate=0.85,
    )
    j = trust.join(dq.select("host", "ok_rate"), "host")
    w = Window.orderBy(F.desc("priority"), F.asc("host"))
    return (
        j.select(
            "host", "trust", "ok_rate",
            F.round(F.col("trust") * F.col("ok_rate"), 6).alias("priority"),
        )
        .withColumn("rank", F.row_number().over(w).cast("int"))
    )


def q_chunk_dedup(spark, sf_dir):
    """Chunk-level exact dedup over the corpus plus planted full copies
    (every doc_id%13==0 doc is duplicated at doc_id+4000000): sliding
    chunks (32/24) digest-grouped; keeper = min bit-packed (doc, chunk)
    position; copies carry the digest multiplicity."""
    from ollama_ocr_spark.operators.dedup import dedup_chunks
    from ollama_ocr_spark.operators.textstats import chunk_documents

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 4000000).alias("doc_id"), "text"
    )
    chunks = chunk_documents(docs.unionByName(copies), size=32, stride=24)
    return dedup_chunks(chunks)


def q_winnow_near_pairs(spark, sf_dir):
    """MOSS-style local-overlap pairs over the corpus plus planted
    partial copies (every doc_id%9==0 doc gets a variant sharing its
    first 40 words then diverging): pairs sharing >= 2 winnow
    fingerprints, md5-parity selection so both engines pick identical
    window minima."""
    from ollama_ocr_spark.operators.dedup import winnow_near_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    partial = docs.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(
            F.array_join(F.slice(F.split(F.col("text"), " "), 1, 40), " "),
            F.lit(" unique continuation "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return winnow_near_pairs(docs.unionByName(partial))


def q_host_content_entropy(spark, sf_dir):
    """Mirror/alias triage gradient: per-host Shannon entropy of document
    content digests (url_aliases finds exact alias GROUPS; this ranks
    whole hosts by how template/mirror-like their content mix is — a
    host serving one body at many urls sits near 0). Same group_entropy
    engine-parity contract as host_template_entropy."""
    from ollama_ocr_spark.operators.maintenance import doc_id_expr, host_expr
    from ollama_ocr_spark.operators.textstats import group_entropy

    pages = _latest_pages(spark, sf_dir).select(
        host_expr().alias("host"), doc_id_expr().alias("doc_id")
    )
    digests = pages.join(
        _docs(spark, sf_dir).select(
            "doc_id", F.md5("text").alias("digest")
        ),
        "doc_id",
    )
    return group_entropy(digests, "host", "digest")


def q_dedup_methods_overlap(spark, sf_dir):
    """Venn report of the three near-dup detectors (Jaccard>=0.5, LSH
    bands, SimHash Hamming<=3) over the corpus: presence-vector cells
    with pair counts; md5-parity hashing everywhere so both engines see
    identical pair sets."""
    from ollama_ocr_spark.operators.dedup import dedup_methods_overlap

    return dedup_methods_overlap(_docs(spark, sf_dir), hash_fn="md5")


def q_quality_confusion(spark, sf_dir):
    """Calibration matrix: the seed-trained NB classifier's keep/drop vs
    the rule-based curation verdict's first-failing reason, per cell with
    row shares — the report read before swapping a learned quality gate
    in for the rules."""
    from ollama_ocr_spark.operators.reports import agreement_matrix
    from ollama_ocr_spark.operators.textstats import (curation_verdict,
                                                      nb_quality_scores)

    docs = _docs(spark, sf_dir)
    nb = nb_quality_scores(
        docs, F.col("source").isin("src0", "src1")
    ).select("doc_id", "nb_keep")
    cv = curation_verdict(docs).select("doc_id", "reason")
    return agreement_matrix(nb.join(cv, "doc_id"), "nb_keep", "reason")


def q_fetch_frontier(spark, sf_dir):
    """Next-crawl-round frontier composite over dirty corpus urls
    (q_url_filter's deterministic trap variants): hygiene -> robots
    (_ROBOTS_RULES) -> domain_quality-mined host blocklist -> politeness
    wave for fetchable urls. One verdict per url; wave = -1 unless
    fetched."""
    from ollama_ocr_spark.operators.maintenance import (doc_id_expr,
                                                        fetch_frontier,
                                                        host_expr)
    from ollama_ocr_spark.operators.textstats import domain_quality

    pages = _latest_pages(spark, sf_dir)
    did = F.regexp_extract("url", r"-(\d+)\.", 1).cast("bigint")
    dirty = pages.select(
        F.concat(
            F.col("url"),
            F.when(did % 7 == 0, F.lit("?a=1&b=2&c=3"))
            .when(did % 7 == 1, F.concat(F.lit("?q="), F.repeat(F.lit("z"), 80)))
            .otherwise(F.lit("")),
        ).alias("url")
    )
    rules = spark.createDataFrame(
        _ROBOTS_RULES, "host string, disallow string"
    )
    hosts = pages.select(host_expr().alias("host"),
                         doc_id_expr().alias("doc_id"))
    dq = domain_quality(
        hosts.join(_docs(spark, sf_dir).select("doc_id", "text"), "doc_id"),
        min_docs=5, min_ok_rate=0.85,
    )
    blocked = dq.filter(F.col("blocklist_candidate")).select("host")
    return fetch_frontier(dirty, rules, blocked, blocked_pattern="/draft-")


def q_minhash_accuracy_eval(spark, sf_dir):
    """Per-exact-Jaccard-band |signature-estimate - true| report for the
    8-hash MinHash config: est = agree/8 and j = inter/union are exact
    BIGINT-over-BIGINT doubles on both engines; per-pair error quantizes
    to 6dp decimal so the band mean is order-free; integer band edges."""
    from ollama_ocr_spark.operators.dedup import minhash_accuracy_eval

    return minhash_accuracy_eval(_docs(spark, sf_dir))


def q_bbit_minhash_eval(spark, sf_dir):
    """b-bit minwise hashing (Li & König, WWW'10) accuracy vs the
    full-width estimator, per exact-Jaccard band: low 4 bits per hash
    (1/32 the signature bytes), chance-collision-corrected estimate
    (c - 0.0625) / 0.9375 — identical literals on both engines. The
    storage-budget table for a 100 TB signature store."""
    from ollama_ocr_spark.operators.dedup import bbit_minhash_eval

    return bbit_minhash_eval(_docs(spark, sf_dir))


def q_simhash_near_pairs(spark, sf_dir):
    """SimHash Hamming-<=3 near-dup pairs over the corpus plus planted
    variants (an exact copy of every doc_id%7==3 doc and a 3-word-tail
    variant of every doc_id%7==0 doc): md5-parity signatures, so the
    oracle reproduces every signature, band key, and popcount
    bit-for-bit. Exact recall by pigeonhole (4 disjoint 16-bit bands)."""
    from ollama_ocr_spark.operators.dedup import simhash_near_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    near = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" near dup tail")).alias("text"),
    )
    exact = docs.filter(F.col("doc_id") % 7 == 3).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    return simhash_near_pairs(
        docs.unionByName(near).unionByName(exact), hash_fn="md5"
    )


def q_jaccard_histogram(spark, sf_dir):
    """Candidate-pair Jaccard band histogram (20 bands): exact integer
    bucketing ((inter*20) div union on raw counts — never floor(j*20) on
    the rounded double), same inverted-index plan as ngram_jaccard_pairs
    plus one 20-row aggregate."""
    from ollama_ocr_spark.operators.dedup import jaccard_histogram

    return jaccard_histogram(_docs(spark, sf_dir))


def q_host_template_entropy(spark, sf_dir):
    """Per-host Shannon entropy of the page-template mix (template farms
    sit near 0): host + template come from the engine's own urls over
    latest-capture pages; 8dp-rounded ln, 6dp decimal-quantized terms so
    the per-host sum is order-free."""
    from ollama_ocr_spark.operators.maintenance import host_expr
    from ollama_ocr_spark.operators.textstats import group_entropy

    pages = _latest_pages(spark, sf_dir).select(
        host_expr().alias("host"),
        F.regexp_extract("url", r"/([a-z]+)-\d+\.", 1).alias("template"),
    )
    return group_entropy(pages, "host", "template")


def q_bm25_topk(spark, sf_dir):
    """BM25 top-10 for a 3-word query over positional postings: 8dp-
    rounded idf, decimal-quantized per-doc sum, literal-constant parity
    (1.2/2.2/0.25/0.75 on both engines), ties broken by doc_id."""
    from ollama_ocr_spark.operators.search import bm25_topk, positional_postings

    return bm25_topk(
        positional_postings(_docs(spark, sf_dir).select("doc_id", "text")),
        ["vector", "merge", "table"],
    )


def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planner over synthetic per-(source, bucket)
    file stats: exclusive running-byte bucketing to ~3000-byte merge
    groups within each table partition — exact integer window math."""
    from ollama_ocr_spark.operators.maintenance import compaction_plan

    files = (
        _docs(spark, sf_dir)
        .groupBy(
            F.col("source").alias("part"),
            (F.col("doc_id") % 17).alias("file_id"),
        )
        .agg(F.sum("n_chars").alias("bytes"))
    )
    return compaction_plan(files, target_bytes=3000)


def q_host_trustrank(spark, sf_dir):
    """Seeded TrustRank over the cross-host outlink graph (seeds = the two
    hub hosts): trust flows only from the whitelist, so spam-shaped hosts
    rank near (1-d)*0 regardless of in-link mass. 3 unrolled iterations,
    same oracle structure as host_pagerank."""
    from ollama_ocr_spark.operators.linkgraph import host_trustrank, outlink_edges

    return host_trustrank(
        outlink_edges(_latest_pages(spark, sf_dir)),
        seeds=["h0.example.com", "h1.example.com"],
    )


def q_pretraining_export(spark, sf_dir):
    """The end-of-pipeline export composite: LSH components → FAMILY-atomic
    train/val/test split (whole near-dup clusters in one split, so eval
    can't see train's near-dups) → keeper + quality/repetition/exact-dup
    gates → token-balanced shards WITHIN each split → the (split, shard)
    manifest a training launcher reads. One near-dup label broadcast, one
    digest shuffle (gates), one (split,band,cell) window — the corpus
    never globally sorts."""
    from ollama_ocr_spark.operators.dedup import (
        dedup_components, minhash_lsh_candidates)
    from ollama_ocr_spark.operators.maintenance import family_split, shard_plan
    from ollama_ocr_spark.operators.textstats import curation_verdict

    docs = _docs(spark, sf_dir)
    comps = dedup_components(minhash_lsh_candidates(docs))
    fs = family_split(docs.select("doc_id", "text"), comps, key="doc_id")
    verdict = curation_verdict(docs.select("doc_id", "text"))
    kept = (
        fs.join(verdict.select("doc_id", "reason"), "doc_id")
        .filter(
            (F.col("doc_id") == F.col("family"))
            & (F.col("reason") == "ok")
        )
    )
    return (
        shard_plan(kept, n_shards=4, within=("split",))
        .groupBy("split", "shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
        )
    )


def q_containment_pairs(spark, sf_dir):
    """Asymmetric shingle containment (inter/min) over the corpus — the
    quote-expansion/superset-dup signal Jaccard misses; same bit-packed
    inverted-index plan, hot-shingle cap ON (oracle mirrors the cap)."""
    from ollama_ocr_spark.operators.dedup import containment_pairs

    return containment_pairs(_docs(spark, sf_dir))


def q_topic_mix(spark, sf_dir):
    """Topic-balance report: deterministic k-means topics over the
    embeddings, per-topic token mass + sqrt-temperature sampling weight
    (content-space twin of data_budget_plan's source-space allocation)."""
    from ollama_ocr_spark.operators.similarity import topic_mix

    toks = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    return topic_mix(_emb(spark, sf_dir), toks, n_centroids=8)


def q_shard_plan(spark, sf_dir):
    """Token-balanced shard export plan: per-shard doc count + token mass
    for an 8-shard banded round-robin assignment — integer sums only, so
    the oracle is exact."""
    from ollama_ocr_spark.operators.maintenance import shard_plan

    return (
        shard_plan(_docs(spark, sf_dir), n_shards=8)
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tokens"),
        )
    )


def q_normalize_text(spark, sf_dir):
    """Unicode NFC hygiene gate: both engines append deterministic
    composed/decomposed suffixes (doc_id%3: decomposed 'cafe'+U+0301 /
    precomposed 'café' / none), then normalize — Python unicodedata in
    the Arrow kernel vs DuckDB nfc_normalize, byte-compared. Decomposed
    rows read changed=true and shrink by one code point."""
    from ollama_ocr_spark.operators.textstats import normalize_text_stage

    _ensure_shipped(spark)
    did = F.col("doc_id")
    mixed = F.concat(
        F.col("text"),
        F.when(did % 3 == 0, F.lit(" cafe\u0301"))   # decomposed
        .when(did % 3 == 1, F.lit(" caf\u00e9"))     # precomposed
        .otherwise(F.lit("")),
    )
    return normalize_text_stage(
        _docs(spark, sf_dir).select("doc_id", mixed.alias("text"))
    )


def q_normalize_text_nfkc(spark, sf_dir):
    """NFKC + full casefold hygiene gate — where compatibility characters
    actually change bytes: doc_id%5 appends ligature '\\ufb01le',
    vulgar-fraction '\\u00bd', fullwidth+dotted-I '\\uff21\\u0130',
    'Stra\\u00dfe', or nothing. DuckDB has no NFKC/casefold, so the
    oracle is a hand-derived UAX#15 + case-folding expectation table
    over those suffixes (ﬁ→fi, ½→1\\u20442, Ａ→a, İ→i\\u0307, ß→ss; the
    corpus body is NFKC/casefold-invariant lowercase ASCII) — the
    comparison checks the distributed Arrow kernel reproduces the
    published mappings end-to-end. Source literals use explicit \\u
    escapes so tooling can't silently normalize them."""
    from ollama_ocr_spark.operators.textstats import normalize_text_stage

    _ensure_shipped(spark)
    did = F.col("doc_id")
    mixed = F.concat(
        F.col("text"),
        F.when(did % 5 == 0, F.lit(" \ufb01le"))
        .when(did % 5 == 1, F.lit(" \u00bd"))
        .when(did % 5 == 2, F.lit(" \uff21\u0130"))
        .when(did % 5 == 3, F.lit(" Stra\u00dfe"))
        .otherwise(F.lit("")),
    )
    return normalize_text_stage(
        _docs(spark, sf_dir).select("doc_id", mixed.alias("text")),
        form="NFKC", casefold=True,
    )


def q_event_funnel(spark, sf_dir):
    """view → click → purchase funnel with strictly-after min-timestamp
    chaining over exact epoch-micro times; per stage, users reached +
    entry/step conversion (counters only, one per-user agg per stage)."""
    from ollama_ocr_spark.operators.reports import event_funnel

    e = _events(spark, sf_dir).select(
        "user_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    return event_funnel(e)


def q_bot_suspects(spark, sf_dir):
    """Per-user inter-event gap regularity (lag window with event_id
    tiebreak, exact BIGINT gap sums, mirrored cv tree): low
    coefficient-of-variation users at volume are schedulers, not
    people."""
    from ollama_ocr_spark.operators.reports import bot_suspects

    e = _events(spark, sf_dir).select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    return bot_suspects(e)


def q_sessionized_funnel(spark, sf_dir):
    """view → click → purchase funnel WITHIN one 24h-gap session (the
    conversion a product team actually credits): gap-flag + running-sum
    session ids, bit-packed (user<<20 | sid) key, and the shared
    event_funnel chaining over that key — sessions reached per stage."""
    from ollama_ocr_spark.operators.reports import sessionized_funnel

    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    return sessionized_funnel(e).withColumnRenamed("n_users", "n_sessions")


def q_event_anomalies(spark, sf_dir):
    """Daily per-type event-count z-scores against the trailing 3-day
    window (exact BIGINT Σx/Σx² in the frame, mirrored double mean/var
    tree, IEEE sqrt) — the collapsed-crawler / log-spam screen."""
    from ollama_ocr_spark.operators.reports import event_anomalies

    e = _events(spark, sf_dir).select(
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    return event_anomalies(e)


def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over each user's ordered
    event stream (exact epoch-micro order, event_id tiebreak): per
    (from_type, to_type) the transition count, from-state total, and
    conditional probability."""
    from ollama_ocr_spark.operators.reports import event_transitions

    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    return event_transitions(e)


def q_state_dwell_stats(spark, sf_dir):
    """Mean dwell per event state (gap to the user's next event),
    seconds-quantized BIGINT sums (the bot_suspects ANSI-overflow
    idiom) — per-state latency for a fetch-log reading."""
    from ollama_ocr_spark.operators.reports import state_dwell_stats

    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    return state_dwell_stats(e)


def q_user_transition_entropy(spark, sf_dir):
    """Per-user Shannon entropy (nats) over the user's own transition
    distribution — the behavioral-regularity bot axis next to
    bot_suspects' timing axis. ln rounded 8dp before use, terms
    DECIMAL(18,8)-summed (order-free), final 6dp."""
    from ollama_ocr_spark.operators.reports import user_transition_entropy

    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    return user_transition_entropy(e)


def q_event_stationary(spark, sf_dir):
    """Long-run event-type mix implied by the first-order Markov chain
    vs the empirical share — the stationarity audit. host_pagerank's
    damped power method over the TYPE graph (self-transitions kept),
    3 unrolled iterations in the oracle."""
    from ollama_ocr_spark.operators.reports import event_stationary

    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    return event_stationary(e)


def q_host_triangles(spark, sf_dir):
    """Triangle census + global clustering over the undirected host link
    graph (ordered-triple three-way self-join, BIGINT wedge math) — the
    community-density signal next to pagerank/trustrank."""
    from ollama_ocr_spark.operators.linkgraph import (graph_triangles,
                                                      outlink_edges)

    return graph_triangles(outlink_edges(_latest_pages(spark, sf_dir)))


def q_retention_cohorts(spark, sf_dir):
    """Day-N retention triangle: first-active-epoch-day cohorts × later
    active days (exact integer day arithmetic over epoch micros), with
    per-(cohort, offset) distinct-user counts and rounded retention."""
    from ollama_ocr_spark.operators.reports import retention_cohorts

    e = _events(spark, sf_dir).select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    return retention_cohorts(e)


def q_stratified_sample(spark, sf_dir):
    """Exact-count 10% stratified sample by source (md5-ranked within
    stratum, integer basis-point keep counts — never a double ceil):
    every source keeps exactly ceil(n/10) docs, RNG-free."""
    from ollama_ocr_spark.operators.maintenance import stratified_sample

    return stratified_sample(_docs(spark, sf_dir), frac_bp=1000)


def q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis deterministic weighted sample: top-100 docs by
    ln(u)/w priority with u from the portable md5_u32 hash and w = token
    count — inclusion ∝ token mass, bit-reproducible on both engines
    (ln 8dp-rounded before the exact integer division; ties break by
    doc_id)."""
    from ollama_ocr_spark.operators.maintenance import weighted_sample

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    out = weighted_sample(d, k=100)
    return out.select(
        "doc_id", "n_tokens",
        F.round(F.col("priority"), 8).alias("priority"),
    )


def q_shard_manifest(spark, sf_dir):
    """Per-shard export integrity manifest over the 8-shard token-balanced
    plan: doc count, token mass, key range, and the order-free
    md5_u32-sum checksum — the 5-number comparison that verifies a shard
    re-run/restore without row diffs (this oracle comparison IS that
    verification, run cross-engine)."""
    from ollama_ocr_spark.operators.maintenance import (shard_manifest,
                                                        shard_plan)

    return shard_manifest(shard_plan(_docs(spark, sf_dir), n_shards=8))


def q_family_split(spark, sf_dir):
    """Near-dup-leakage-safe split: connected-component family labels over
    the deterministic q_dedup_components edge fixture, then hash_split on
    the FAMILY key (singletons fall back to their own doc_id) — every
    near-dup cluster lands in exactly one of train/val/test."""
    from ollama_ocr_spark.operators.dedup import dedup_components
    from ollama_ocr_spark.operators.maintenance import family_split

    docs = _docs(spark, sf_dir)
    did = F.col("doc_id")
    chain = docs.filter(did % 10 < 2).select(
        did.alias("a"), (did + 1).alias("b"))
    longr = docs.filter((did % 97 == 0) & (did > 0)).select(
        did.alias("a"), (did * 2).alias("b"))
    labels = dedup_components(chain.union(longr))
    return family_split(docs, labels, key="doc_id").select(
        "doc_id", "family", "split"
    )


def q_selection_drift(spark, sf_dir):
    """Selection-bias audit: TVD between full-corpus and recrawl-slice
    (doc_id%5==0, the quality_by_crawl_round round-1 policy) source-share
    distributions. The %5 slice hits only the doc_id%20 ∈ {0,5,10,15}
    sources — TVD 0.8, the biased-recrawl finding this report exists to
    surface. One conditional-agg corpus pass; windows over 20 group rows."""
    from ollama_ocr_spark.operators.maintenance import selection_drift

    return selection_drift(_docs(spark, sf_dir))


def q_filter_attribution(spark, sf_dir):
    """Per-rule curation audit: decomposes the quality/repetition/dup
    composites into their 8 atomic rules, reporting any-fail, ONLY-fail
    (marginal docs a relaxed rule recovers), fail rate, and the kept-set
    size. On this corpus low_stopword is the single binding rule — the
    dead-rule/shadowed-rule finding the report exists to surface."""
    from ollama_ocr_spark.operators.textstats import filter_attribution

    return filter_attribution(_docs(spark, sf_dir))


def q_token_drift(spark, sf_dir):
    """Token-distribution drift under the recrawl policy: top-50 tokens'
    full-corpus vs recrawl-slice shares + head-TVD. Pairs with
    selection_drift (labels) to show what the source bias does to the
    token mix a model would train on."""
    from ollama_ocr_spark.operators.textstats import token_drift

    return token_drift(_docs(spark, sf_dir))


def q_host_communities(spark, sf_dir):
    """Mirror/link-farm triage the triangle census can't localize:
    semi-synchronous weighted LPA (4 rounds, md5-u32 parity update
    schedule, max-weight/min-label votes) over the cross-host outlink
    graph, rolled into a per-community report — size, doc quality
    (the domain_quality gates), and intra-community link mass. Oracle =
    the same rounds unrolled as chained CTEs with a QUALIFY argmax
    (the host_pagerank idiom)."""
    from ollama_ocr_spark.operators.linkgraph import (host_communities,
                                                      outlink_edges)
    from ollama_ocr_spark.operators.maintenance import doc_id_expr, host_expr
    from ollama_ocr_spark.operators.textstats import domain_quality

    pages = _latest_pages(spark, sf_dir)
    # edges are consumed by every LPA round AND the intra-mass join;
    # checkpoint so the html-regex scan runs once (the dedup_components
    # materialize-the-edge-plan rule)
    edges = outlink_edges(pages).localCheckpoint(eager=True)
    labels = host_communities(edges, iterations=4)

    hosts = pages.select(host_expr().alias("host"),
                         doc_id_expr().alias("doc_id"))
    joined = hosts.join(_docs(spark, sf_dir).select("doc_id", "text"),
                        "doc_id")
    hq = domain_quality(joined).select("host", "n_docs", "n_ok")

    ce = edges.filter(F.col("src_host") != F.col("dst_host"))
    la = labels.select(F.col("host").alias("src_host"),
                       F.col("community").alias("__ca"))
    lb = labels.select(F.col("host").alias("dst_host"),
                       F.col("community").alias("__cb"))
    intra = (
        ce.join(F.broadcast(la), "src_host")
        .join(F.broadcast(lb), "dst_host")
        .filter(F.col("__ca") == F.col("__cb"))
        .select(F.col("__ca").alias("community"), "n_links")
        .groupBy("community")
        .agg(F.sum("n_links").alias("intra_mass"))
    )
    rep = (
        labels.join(hq, "host", "left")
        .groupBy("community")
        .agg(
            F.count("*").alias("n_hosts"),
            F.sum(F.coalesce(F.col("n_docs"), F.lit(0))).alias("n_docs"),
            F.sum(F.coalesce(F.col("n_ok"), F.lit(0))).alias("n_ok"),
        )
    )
    return (
        rep.join(intra, "community", "left")
        .select(
            "community", "n_hosts", "n_docs", "n_ok",
            F.when(
                F.col("n_docs") > 0,
                F.round(F.col("n_ok") * F.lit(1.0) / F.col("n_docs"), 4),
            ).alias("ok_rate"),
            F.coalesce(F.col("intra_mass"), F.lit(0)).alias("intra_mass"),
        )
    )


def q_host_kcore(spark, sf_dir):
    """Fixed-round k-core peeling over the undirected host graph
    (integer-only: removal round for the periphery, residual core
    degree for the nucleus) — the density triage next to
    host_degree_stats (volume) and host_triangles (closure)."""
    from ollama_ocr_spark.operators.linkgraph import host_kcore, outlink_edges

    # k=6, rounds=3 at this corpus: every peel round fires AND the
    # final survivor set is non-empty with nonzero residual degrees, so
    # both output columns carry signal through the oracle gate.
    return host_kcore(outlink_edges(_latest_pages(spark, sf_dir)),
                      k=6, rounds=3)


def q_host_hits(spark, sf_dir):
    """HITS hubs/authorities over the host graph: fixed iterations,
    max-normalized per half-step (max of doubles is order-free, unlike
    an L2 sum), 6dp output round — the host_pagerank FP contract."""
    from ollama_ocr_spark.operators.linkgraph import host_hits, outlink_edges

    return host_hits(outlink_edges(_latest_pages(spark, sf_dir)),
                     iterations=2)


def q_interevent_histogram(spark, sf_dir):
    """Log2-bucketed inter-event gap histogram per event type (whole-
    second BIGINT gaps, bucket = binary bit-length via bin() on both
    engines — all integer): the burstiness profile that separates
    scheduler-generated types from human-triggered ones."""
    from ollama_ocr_spark.operators.reports import interevent_histogram

    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "event_type",
        F.unix_micros(F.col("ts").cast("timestamp_ltz")).alias("ts_us"),
    )
    return interevent_histogram(e)


def q_heaps_law(spark, sf_dir):
    """Vocabulary-growth (Heaps) curve over doc_id-ordered corpus
    prefixes plus the OLS exponent beta — window-free (cuts from one
    max() agg + broadcast non-equi join), zipf_slope's decimal-moment
    OLS idiom."""
    from ollama_ocr_spark.operators.textstats import heaps_law

    return heaps_law(_docs(spark, sf_dir))


def q_source_token_kl(spark, sf_dir):
    """Per-source unigram KL vs the corpus distribution (integer count
    x 8dp-ln decimal-difference terms, order-free decimal sum, one
    final double division — the user_transition_entropy FP contract):
    the mixture-weight triage across crawl sources."""
    from ollama_ocr_spark.operators.textstats import source_token_kl

    return source_token_kl(_docs(spark, sf_dir))


def q_tpch_local_supplier_revenue(spark, sf_dir):
    """TPC-H Q5 shape: 6-way join (region→nation broadcast; customer,
    supplier, orders, lineitem shuffle on their keys) with the
    local-supplier condition c_nationkey = s_nationkey; revenue via the
    decimal-sum idiom. The join-ordering/broadcast-strategy anchor next
    to Q3 (tpch_shipping_revenue)."""
    r = _tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _tbl(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    c = _tbl(spark, sf_dir, "customer").join(
        F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    o = _tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    s = _tbl(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    l = _tbl(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    j = (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return j.groupBy(F.col("n_name").alias("nation")).agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)")
            ),
            2,
        )
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


def q_event_cooccurrence(spark, sf_dir):
    """Unordered event-type co-occurrence lift across users (distinct
    incidence self-join, |types|²-bounded pair table, one mirrored
    division) — the market-basket read next to event_transitions'
    ordered adjacency."""
    from ollama_ocr_spark.operators.reports import event_cooccurrence

    return event_cooccurrence(_events(spark, sf_dir))


def q_host_pagerank_delta(spark, sf_dir):
    """PageRank convergence diagnostic: per-host |rank_i3 − rank_i2|
    between consecutive fixed-iteration runs — how settled the
    authority ordering is before anyone schedules more rounds. The
    edge list is localCheckpoint-ed once; both runs iterate over the
    host table only."""
    from ollama_ocr_spark.operators.linkgraph import (host_pagerank,
                                                      outlink_edges)

    edges = outlink_edges(_latest_pages(spark, sf_dir)) \
        .localCheckpoint(eager=True)
    r2 = host_pagerank(edges, iterations=2) \
        .withColumnRenamed("rank", "rank_i2")
    r3 = host_pagerank(edges, iterations=3) \
        .withColumnRenamed("rank", "rank_i3")
    return r2.join(r3, "host").select(
        "host", "rank_i2", "rank_i3",
        F.round(F.abs(F.col("rank_i3") - F.col("rank_i2")), 6)
        .alias("delta"),
    )


def _utc_wrapped(fn):
    """Every query assumes UTC session semantics (timestamp↔epoch parity
    with the DuckDB oracle); the driver's session timezone is unknown."""

    def inner(spark, sf_dir):
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        return fn(spark, sf_dir)

    inner.__name__ = fn.__name__
    inner.__doc__ = fn.__doc__
    return inner


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {fn.__name__[2:]: _utc_wrapped(fn) for fn, _ in REGISTRY}


# The query registry: one row per query, (query function, bench tier);
# the query name is the function's name without its ``q_`` prefix.
# Adding a query means one row here plus one ``oracle_sql()`` entry.
#
# Row order matters: the correctness harness samples the FIRST 50 rows,
# so never-sampled queries lead, then the already-sampled rest.
#
# Tiers, as bench.py times them (each tier in row order):
#   headline  best-of-2 on every run; their sum is the headline suite secs
#   default   one timed pass each on a default run, until the wall budget
#             is spent (the rest are skipped and named)
#   opt_in    already-evidenced extras, timed only with
#             SPARK_GRAFT_BENCH_ALL_EXTRAS=1
#   untimed   checked by the oracle sweep only
REGISTRY = (
    # --- never sampled (insert new queries HERE) ---
    (q_quality_sample, "default"),
    (q_mix_manifest, "default"),
    (q_oov_rate, "opt_in"),
    (q_url_filter, "opt_in"),
    (q_domain_quality, "opt_in"),
    (q_lang_segments, "untimed"),
    (q_embedding_near_dupes_lsh, "opt_in"),
    (q_semantic_dedup, "opt_in"),
    (q_host_link_graph, "opt_in"),
    (q_host_pagerank, "opt_in"),
    (q_crawl_diff, "opt_in"),
    (q_unigram_logprob, "opt_in"),
    (q_ngram_span_coverage, "opt_in"),
    (q_anchor_text_stats, "opt_in"),
    (q_phrase_search, "opt_in"),
    (q_and_search, "opt_in"),
    (q_recrawl_schedule, "opt_in"),
    (q_tfidf_top_terms, "opt_in"),
    (q_bpe_pair_counts, "opt_in"),
    (q_dsir_importance, "opt_in"),
    (q_group_holdout_split, "opt_in"),
    (q_temperature_mix, "opt_in"),
    (q_zorder_key, "opt_in"),
    (q_shingle_novelty, "opt_in"),
    (q_chunk_documents, "opt_in"),
    (q_cross_corpus_dedup, "opt_in"),
    (q_training_batches, "opt_in"),
    # --- round-5 additions ---
    (q_host_kcore, "default"),
    (q_host_hits, "default"),
    (q_source_token_kl, "default"),
    (q_tpch_local_supplier_revenue, "default"),
    (q_event_cooccurrence, "default"),
    (q_host_pagerank_delta, "default"),
    (q_interevent_histogram, "default"),
    (q_heaps_law, "default"),
    (q_host_mirrors, "default"),
    (q_host_seed_distance, "default"),
    (q_crawl_reachability, "default"),
    (q_event_transitions, "default"),
    (q_event_stationary, "default"),
    (q_user_transition_entropy, "default"),
    (q_state_dwell_stats, "default"),
    # runs both chunkers (gear-window CDC and fixed 32/24)
    (q_cdc_chunks, "default"),
    (q_host_reciprocity, "default"),
    (q_token_gini, "default"),
    (q_host_assortativity, "default"),
    (q_host_communities, "default"),
    (q_normalize_text_nfkc, "default"),
    (q_wave_makespan_mix, "default"),
    (q_community_quarantine, "default"),
    # sf0.1 cost is the 6 rounds' fixed scheduling, not the corpus
    (q_bpe_learn, "default"),
    (q_community_budget, "default"),
    # times the icetbl lifecycle: 3 appends + compact + expire
    (q_snapshot_gc_report, "default"),
    # --- round-3/early-round-4 band: oracle-green ---
    (q_vocab_coverage, "default"),
    (q_dedup_savings, "default"),
    (q_split_leakage, "default"),
    (q_lsh_bucket_histogram, "default"),
    (q_remove_dup_spans, "default"),
    (q_ann_recall_eval, "default"),
    (q_nb_quality, "default"),
    (q_robots_filter, "default"),
    (q_crawl_budget, "default"),
    (q_bigram_logprob, "default"),
    (q_zipf_slope, "default"),
    (q_quality_deciles, "default"),
    (q_dedup_representatives, "default"),
    (q_lsh_precision_eval, "default"),
    (q_curation_funnel, "default"),
    (q_dedup_lines, "default"),
    (q_encoding_health, "default"),
    (q_fix_encoding, "default"),
    (q_hapax_rate, "default"),
    (q_packing_efficiency, "default"),
    (q_url_aliases, "default"),
    (q_dedup_cluster_sizes, "default"),
    (q_tokenizer_fertility, "default"),
    (q_data_budget_plan, "default"),
    # --- sampled in rounds 1-4 (green in CORRECTNESS_r0*) ---
    (q_selection_drift, "opt_in"),
    (q_filter_attribution, "opt_in"),
    (q_token_drift, "opt_in"),
    (q_pii_stats, "opt_in"),
    (q_shard_manifest, "opt_in"),
    (q_normalize_text, "opt_in"),
    (q_bbit_minhash_eval, "opt_in"),
    (q_weighted_sample, "opt_in"),
    (q_event_funnel, "opt_in"),
    (q_retention_cohorts, "opt_in"),
    (q_host_triangles, "opt_in"),
    (q_event_anomalies, "opt_in"),
    (q_bot_suspects, "opt_in"),
    (q_stratified_sample, "opt_in"),
    (q_sessionized_funnel, "opt_in"),
    (q_image_resize, "opt_in"),
    (q_frame_sample, "opt_in"),
    (q_robots_rule_stats, "default"),
    (q_minhash_band_recall, "untimed"),
    (q_containment_histogram, "opt_in"),
    (q_quality_by_crawl_round, "opt_in"),
    (q_wave_makespan, "opt_in"),
    (q_host_topic_labels, "opt_in"),
    # simhash_band_recall / minhash_band_recall stay untimed: sample-scale
    # evals (~20 s cold at sf0.1; one 8-bit simhash band holds 3058/5000
    # docs on this template-clustered corpus), checked by the oracle only.
    (q_simhash_band_recall, "untimed"),
    (q_crawl_priority, "opt_in"),
    (q_chunk_dedup, "opt_in"),
    (q_winnow_near_pairs, "opt_in"),
    (q_host_content_entropy, "opt_in"),
    (q_dedup_methods_overlap, "opt_in"),
    (q_quality_confusion, "opt_in"),
    (q_fetch_frontier, "opt_in"),
    (q_minhash_accuracy_eval, "default"),
    (q_simhash_near_pairs, "default"),
    (q_jaccard_histogram, "default"),
    (q_host_template_entropy, "default"),
    (q_host_degree_stats, "default"),
    (q_bigram_stats, "default"),
    (q_length_histogram, "default"),
    (q_retrieval_rerank, "default"),
    (q_bm25_topk, "default"),
    (q_compaction_plan, "default"),
    (q_host_trustrank, "default"),
    (q_pretraining_export, "default"),
    (q_containment_pairs, "default"),
    (q_topic_mix, "default"),
    (q_shard_plan, "default"),
    (q_family_split, "default"),
    (q_curate_corpus_incremental, "default"),
    (q_chunk_ann_topk, "default"),
    (q_contamination_by_source, "default"),
    (q_quality_scores, "headline"),
    (q_repetition_stats, "untimed"),
    (q_url_normalize, "untimed"),
    (q_langid_confusion, "untimed"),
    (q_fingerprints, "untimed"),
    (q_ann_cosine_topk, "headline"),
    (q_ann_lsh_topk, "untimed"),
    (q_ann_ivf_topk, "untimed"),
    (q_embedding_near_dupes, "untimed"),
    (q_vocab_topk, "opt_in"),
    (q_golden_compare, "untimed"),
    (q_tpch_shipping_revenue, "headline"),
    (q_nation_revenue, "headline"),
    (q_events_daily, "headline"),
    (q_sessionize, "headline"),
    (q_session_windows, "untimed"),
    (q_extract_text_roundtrip, "headline"),
    (q_extract_handwriting, "opt_in"),
    (q_extract_pdf_fold, "headline"),
    (q_extract_route_counts, "headline"),
    (q_extract_error_rows, "untimed"),
    (q_structured_receipts, "untimed"),
    (q_structured_forms, "untimed"),
    (q_structured_price_tags, "untimed"),
    (q_analyze_metadata, "untimed"),
    (q_multi_step, "untimed"),
    (q_image_metadata, "untimed"),
    (q_media_metadata, "untimed"),
    (q_image_features, "opt_in"),
    (q_template_mining, "untimed"),
    (q_host_skew_counts, "untimed"),
    (q_corpus_cardinality, "untimed"),
    (q_latest_event_per_user, "headline"),
    (q_resume_anti_join, "untimed"),
    (q_resume_anti_join_bloom, "opt_in"),
    (q_extract_image_text, "untimed"),
    (q_extract_text_plain, "untimed"),
    (q_politeness_waves, "untimed"),
    (q_pii_scrub, "untimed"),
    (q_paragraph_dedup, "untimed"),
    (q_boilerplate_paragraphs, "opt_in"),
    (q_line_filter, "untimed"),
    (q_hash_split, "untimed"),
    (q_dedup_components, "untimed"),
    (q_normalize_embeddings, "untimed"),
    (q_pack_sequences, "untimed"),
    (q_quantize_embeddings, "untimed"),
    (q_deterministic_sample, "untimed"),
    (q_top_docs_by_chars, "untimed"),
    (q_report_cube, "untimed"),
    (q_quantile_report, "untimed"),
    (q_as_of_join, "opt_in"),
    (q_range_join_binned, "opt_in"),
    (q_time_rollup, "opt_in"),
    (q_lang_summary, "untimed"),
    (q_dedup_exact, "headline"),
    (q_ngram_jaccard_pairs, "headline"),
    (q_minhash_lsh_candidates, "headline"),
    (q_winnow_fingerprints, "untimed"),
    (q_simhash_buckets, "untimed"),
    (q_token_counts, "headline"),
    (q_curation_verdict, "opt_in"),
    (q_curate_corpus, "opt_in"),
    (q_benchmark_contamination, "opt_in"),
    (q_domain_mix, "opt_in"),
)


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect-compatible ANSI)
# ---------------------------------------------------------------------------

def _md5_u32_sql(e: str) -> str:
    """DuckDB mirror of ``maintenance.md5_u32_expr``: first 32 bits of
    md5(e) as BIGINT via digit-wise hex extraction (DuckDB has no conv();
    products stay < 2^36 so the double list_sum is exact)."""
    return (
        "list_sum(list_transform(range(1, 9), i -> "
        f"(instr('0123456789abcdef', substr(md5({e}), i, 1)) - 1) "
        "* power(16, 8 - i)))::BIGINT"
    )


def _bm25_ctes(words_sql: str) -> str:
    """BM25 per-(doc, term) score CTE chain (mirrors search.bm25_topk's
    arithmetic: 8dp-rounded ln idf, literal 1.2/2.2/0.25/0.75 constants,
    6dp DECIMAL quantization). Ends at `bm25s(doc_id, s)`; callers
    aggregate/limit."""
    return f"""toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS term
              FROM documents),
            lens AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
            st AS (SELECT count(*) AS n_docs, sum(dl)::BIGINT AS t_tokens
                   FROM lens),
            tf AS (
              SELECT doc_id, term, count(*) AS tf FROM toks
              WHERE term IN {words_sql}
              GROUP BY 1, 2),
            dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            bm25s AS (
              SELECT t.doc_id,
                     round(
                       round(ln((st.n_docs - d.df + 0.5) / (d.df + 0.5)
                                + 1.0), 8)
                       * (2.2 * t.tf)
                       / (t.tf + 1.2 * (0.25 + 0.75 * l.dl
                          / (st.t_tokens / st.n_docs))),
                       6)::DECIMAL(18,6) AS s
              FROM tf t
              JOIN dfreq d USING (term)
              JOIN lens l USING (doc_id)
              CROSS JOIN st)"""


# Shared corpus-mapping fragments (mirror ollama_ocr_spark/corpus.py exactly).
_HOST_CASE = (
    "CASE WHEN doc_id % 100 < 50 THEN 'h0.example.com' "
    "WHEN doc_id % 100 < 70 THEN 'h1.example.com' "
    "WHEN doc_id % 100 < 85 THEN 'h2.example.com' "
    "ELSE 'h' || (3 + doc_id % 13) || '.example.com' END"
)
def _host_case(e: str) -> str:
    """``corpus.host_for`` for an arbitrary SQL expression (the link-graph
    oracles probe it at affine doc_id offsets — corpus.partner_hosts)."""
    return (
        f"CASE WHEN ({e}) % 100 < 50 THEN 'h0.example.com' "
        f"WHEN ({e}) % 100 < 70 THEN 'h1.example.com' "
        f"WHEN ({e}) % 100 < 85 THEN 'h2.example.com' "
        f"ELSE 'h' || (3 + ({e}) % 13) || '.example.com' END"
    )


# Inbound anchors reconstructed from corpus arithmetic (fixed
# per-archetype chrome anchors + constant-text partner links to
# corpus.partner_hosts). Ends at anchors(dst_host, anchor, n_links);
# shared by anchor_text_stats and host_topic_labels.
_ANCHOR_CTES = f"""
hd AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 10 <= 6
    AND NOT (doc_id % 10 = 4 AND doc_id % 20 = 14)
),
base AS (SELECT doc_id, {_HOST_CASE} AS h FROM hd),
selfa AS (
  SELECT h AS dst_host,
         unnest(['section 0','section 1','section 2','section 3',
                 'section 4','section 5','terms','privacy'])
           AS anchor
  FROM base
  UNION ALL
  SELECT h AS dst_host,
         unnest(['sponsored: one weird trick','limited offer',
                 'related story one','related story two','more'])
           AS anchor
  FROM base WHERE doc_id % 10 <> 4
),
para AS (
  SELECT {_host_case('doc_id * 7 + 11 * j + 3')} AS dst_host,
         'partner' AS anchor
  FROM hd, (SELECT unnest(range(3)) AS j) g
),
anchors AS (
  SELECT dst_host, anchor, count(*)::BIGINT AS n_links
  FROM (SELECT * FROM selfa UNION ALL SELECT * FROM para)
  GROUP BY 1, 2
)
"""


def _minhash_band_recall_oracle(band_counts=(2, 4, 8)) -> str:
    """DuckDB twin of dedup.minhash_band_recall: per (bands, rows) split
    of the 8-hash md5 signature, banded candidate pairs (equi-join) vs
    the rounded-Jaccard >= 0.5 truth set from the capped intersections."""
    parts, rows = [], []
    for b in band_counts:
        r = 8 // b
        parts.append(f"""
mb{b} AS (
  SELECT doc_id, j // {r} AS band,
         md5(string_agg(m, '' ORDER BY j)) AS bucket
  FROM sig GROUP BY doc_id, j // {r}),
mc{b} AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM mb{b} x JOIN mb{b} y
    ON x.band = y.band AND x.bucket = y.bucket
    AND x.doc_id < y.doc_id),
mr{b} AS (
  SELECT {b} AS n_bands, {r} AS rows_per_band,
         (SELECT count(*) FROM mc{b})::BIGINT AS n_candidates,
         (SELECT count(*) FROM mc{b} JOIN jtr USING (a, b))::BIGINT
           AS n_hits)""")
        rows.append(f"SELECT * FROM mr{b}")
    return f"""
            WITH {_SHINGLES_CTE}, {_JPAIRS_CTES},
            sig AS (
              SELECT doc_id, g.j AS j,
                     min(md5(g.j || '|' || shingle)) AS m
              FROM sh, generate_series(0, 7) AS g(j)
              GROUP BY doc_id, g.j
            ),
            jtr AS (
              SELECT a, b FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.5),
            jtn AS (SELECT count(*)::BIGINT AS n_truth FROM jtr),
            {",".join(parts)}
            SELECT n_bands, rows_per_band, n_candidates, n_hits,
                   jtn.n_truth,
                   round(n_hits * 1.0 / jtn.n_truth, 4) AS recall
            FROM ({" UNION ALL ".join(rows)}) u CROSS JOIN jtn
"""


def _wave_makespan_oracle(burst_sizes=(8, 16, 32)) -> str:
    """DuckDB twin of maintenance.wave_makespan: per-host md5_u32
    latency, integer wave grids via unnest(range(...)) in a projection
    (no lateral generate_series in DuckDB 1.0), per-wave max + sum."""
    parts, rows = [], []
    for b in burst_sizes:
        parts.append(f"""
wv{b} AS (
  SELECT unnest(range((n + {b} - 1) // {b})) AS w, n, lat FROM hc),
pw{b} AS (
  SELECT w, max(least({b}, n - w * {b}) * lat) AS wdur
  FROM wv{b} GROUP BY 1),
r{b} AS (
  SELECT {b} AS burst, count(*)::BIGINT AS n_waves,
         sum(wdur)::BIGINT AS makespan_ms FROM pw{b})""")
        rows.append(f"SELECT * FROM r{b}")
    return f"""
            WITH hc AS (
              SELECT host, count(*)::BIGINT AS n,
                     ({_md5_u32_sql('host')} % 200 + 50) AS lat
              FROM (SELECT {_HOST_CASE} AS host FROM documents)
              GROUP BY host
            ),
            {",".join(parts)}
            {" UNION ALL ".join(rows)}
"""


def _bpe_learn_oracle(k: int = 6) -> str:
    """DuckDB twin of textstats.bpe_learn: k rounds unrolled; each round
    is pair-count agg → (cnt DESC, a, b) argmax → list_reduce merge
    application over single-element lists (same greedy left-to-right
    non-overlap as the Spark empty-acc fold — the reduce's init state
    equals the fold's state after one step). Out-of-range list slice is
    NULL in DuckDB, hence the coalesce when the kept prefix is empty."""
    parts = []
    rows = []
    for i in range(1, k + 1):
        prev = f"s{i - 1}"
        parts.append(f"""
p{i} AS (SELECT pr.a AS a, pr.b AS b, sum(freq)::BIGINT AS cnt FROM (
          SELECT freq, unnest(list_transform(range(1, len(s)),
                       j -> {{'a': s[j], 'b': s[j + 1]}})) AS pr
          FROM {prev} WHERE len(s) >= 2) u
        GROUP BY 1, 2),
b{i} AS (SELECT a, b, cnt FROM p{i}
         ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
s{i} AS (SELECT freq,
           list_reduce(list_transform(s, x -> [x]),
             (acc, x) -> CASE WHEN acc[-1] = b{i}.a AND x[1] = b{i}.b
                         THEN coalesce(acc[1:len(acc) - 1], [])
                              || [b{i}.a || b{i}.b]
                         ELSE acc || x END) AS s
         FROM {prev} CROSS JOIN b{i})""")
        rows.append(f"SELECT {i} AS merge_rank, a AS lhs, b AS rhs, "
                    f"cnt AS pair_count FROM b{i}")
    return f"""
            WITH wt AS (
              SELECT word, count(*)::BIGINT AS freq
              FROM (SELECT unnest(string_split(text, ' ')) AS word
                    FROM documents)
              WHERE length(word) >= 1 GROUP BY 1),
            s0 AS (SELECT freq,
                     list_transform(range(1, length(word) + 1),
                                    j -> substr(word, j, 1)) AS s
                   FROM wt),
            {",".join(parts)}
            {" UNION ALL ".join(rows)}
"""


def _wave_makespan_mix_oracle(burst_sizes=(8, 16, 32)) -> str:
    """DuckDB twin of maintenance.wave_makespan_mixture: salted md5_u32
    class buckets + jitter, wave grids via unnest(range(...)), wave
    ownership via QUALIFY argmax (dur DESC, host ASC — the Spark
    struct-min order), per-class rollup against the burst's total."""
    parts, rows = [], []
    for b in burst_sizes:
        parts.append(f"""
mwv{b} AS (
  SELECT unnest(range((n + {b} - 1) // {b})) AS w, host, n, lat, cls
  FROM hcm),
mdw{b} AS (
  SELECT w, least({b}, n - w * {b}) * lat AS dur, host, cls
  FROM mwv{b}),
mow{b} AS (
  SELECT w, dur AS wdur, cls FROM mdw{b}
  QUALIFY row_number() OVER (PARTITION BY w ORDER BY dur DESC, host ASC)
          = 1),
mpc{b} AS (
  SELECT cls, count(*)::BIGINT AS n_waves_owned,
         sum(wdur)::BIGINT AS owned_ms
  FROM mow{b} GROUP BY 1),
mtt{b} AS (SELECT sum(wdur)::BIGINT AS makespan_ms FROM mow{b}),
mr{b} AS (
  SELECT {b} AS burst, cls AS lat_class, n_waves_owned, owned_ms,
         makespan_ms,
         round(owned_ms * 1.0 / makespan_ms, 4) AS share
  FROM mpc{b} CROSS JOIN mtt{b})""")
        rows.append(f"SELECT * FROM mr{b}")
    return f"""
            WITH hcg AS (
              SELECT host, count(*)::BIGINT AS n
              FROM (SELECT {_HOST_CASE} AS host FROM documents)
              GROUP BY host
            ),
            hcn AS (
              SELECT host, n,
                     {_md5_u32_sql("'lcls|' || host")} % 10 AS bkt,
                     {_md5_u32_sql("'ljit|' || host")} AS jit
              FROM hcg
            ),
            hcm AS (
              SELECT host, n,
                     CASE WHEN bkt < 6 THEN 'cdn'
                          WHEN bkt < 9 THEN 'origin'
                          ELSE 'tarpit' END AS cls,
                     CASE WHEN bkt < 6 THEN 30 + jit % 40
                          WHEN bkt < 9 THEN 120 + jit % 160
                          ELSE 1500 + jit % 1000 END AS lat
              FROM hcn
            ),
            {",".join(parts)}
            {" UNION ALL ".join(rows)}
"""


def _simhash_band_recall_oracle(band_counts=(2, 4, 8)) -> str:
    """DuckDB twin of dedup.simhash_band_recall: brute-force popcount
    truth over md5-parity signatures, one banded candidate CTE per band
    count (width = 64/n, masked arithmetic shift == logical shift)."""
    parts, rows = [], []
    for nb in band_counts:
        width = 64 // nb
        mask = (1 << width) - 1
        parts.append(f"""
bd{nb} AS (
  SELECT doc_id,
         ((simhash >> ({width} * i.i)::INT) & {mask})
           + (i.i::BIGINT << {width}) AS bkey
  FROM sxsig, (SELECT unnest(range({nb})) AS i) i),
c{nb} AS (
  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
  FROM bd{nb} x JOIN bd{nb} y
    ON x.bkey = y.bkey AND x.doc_id < y.doc_id),
r{nb} AS (
  SELECT {nb} AS n_bands,
         (SELECT count(*) FROM c{nb})::BIGINT AS n_candidates,
         (SELECT count(*) FROM c{nb} JOIN tr USING (a, b))::BIGINT
           AS n_hits)""")
        rows.append(f"SELECT * FROM r{nb}")
    return f"""
            WITH {_simhash_sig_ctes("documents", "sx")},
            tr AS (
              SELECT a.doc_id AS a, b.doc_id AS b
              FROM sxsig a JOIN sxsig b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
            tn AS (SELECT count(*)::BIGINT AS n_truth FROM tr),
            {",".join(parts)}
            SELECT n_bands, n_candidates, n_hits, tn.n_truth,
                   round(n_hits * 1.0 / tn.n_truth, 4) AS recall
            FROM ({" UNION ALL ".join(rows)}) u CROSS JOIN tn
"""


def _chunk_ctes(src: str) -> str:
    """Sliding-window chunk grid over ``src(doc_id, text)`` (mirrors
    textstats.chunk_documents size=32 stride=24). Ends at
    ``chunks(doc_id, chunk_id, n_words, chunk)``; shared by
    chunk_documents and chunk_dedup."""
    return f"""cw AS (SELECT doc_id, string_split(text, ' ') AS w
                      FROM {src}),
            cmeta AS (
              SELECT doc_id, w,
                     CASE WHEN len(w) <= 32 THEN 1
                          ELSE ceil((len(w) - 32) / 24)::INT + 1 END AS nc
              FROM cw),
            cch AS (SELECT doc_id, w, unnest(range(nc)) AS cid FROM cmeta),
            chunks AS (
              SELECT doc_id, cid::INT AS chunk_id,
                     len(w[cid * 24 + 1 : cid * 24 + 32])::INT AS n_words,
                     coalesce(array_to_string(
                       w[cid * 24 + 1 : cid * 24 + 32], ' '), '') AS chunk
              FROM cch)"""


def _winnow_ctes(src: str) -> str:
    """Winnowing fingerprint chain over ``src(doc_id, text)`` (mirrors
    dedup.winnow_fingerprints: md5 5-gram hashes, window-4 minima,
    short-doc single-window fallback). Ends at
    ``wfp(doc_id, fingerprint)`` distinct; shared by winnow_fingerprints
    and winnow_near_pairs."""
    return f"""wt AS (SELECT doc_id, string_split(text, ' ') AS w
                      FROM {src}),
            wh AS (
              SELECT doc_id,
                     CASE WHEN len(w) >= 5
                          THEN list_transform(range(1, len(w) - 3),
                               i -> md5(array_to_string(w[i : i + 4], ' ')))
                          ELSE [] END AS hs
              FROM wt
            ),
            wm AS (
              SELECT doc_id,
                     CASE WHEN len(hs) >= 4
                          THEN list_transform(range(1, len(hs) - 2),
                               i -> list_min(hs[i : i + 3]))
                          WHEN len(hs) > 0 THEN [list_min(hs)]
                          ELSE [] END AS mins
              FROM wh
            ),
            wx AS (SELECT doc_id, unnest(mins) AS fingerprint FROM wm),
            wfp AS (SELECT DISTINCT doc_id, fingerprint FROM wx)"""


# Seed-trained Naive-Bayes quality chain (mirrors
# textstats.nb_quality_scores with the src0/src1 positive seed): ends at
# sc(doc_id, is_seed, n_tokens, lo). Shared by nb_quality and
# quality_confusion.
# Per-user first-order transition pairs over events (mirrors
# reports._transition_pairs: exact (epoch-micro, event_id) order); ends
# at tpairs(from_type, to_type, n_transitions). Shared by the
# event_transitions and event_stationary oracles.
_TPAIRS_CTES = """
nxt AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts),
                                         event_id) AS to_type
  FROM events),
tpairs AS (
  SELECT from_type, to_type, count(*)::BIGINT AS n_transitions
  FROM nxt WHERE to_type IS NOT NULL
  GROUP BY 1, 2)
"""


def _stationary_oracle(iterations: int = 3) -> str:
    """DuckDB twin of reports.event_stationary: the host_pagerank oracle
    recipe ((1.0-0.85)/n per-term doubles, iterations unrolled as
    chained CTEs) over the event-TYPE graph with self-transitions kept;
    empirical share divides by the window total cast back to BIGINT
    (DuckDB window sums widen to HUGEINT)."""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f"""
r{i} AS (
  SELECT t.event_type,
         (SELECT (1.0::DOUBLE - 0.85::DOUBLE) / n FROM nn) +
         coalesce(sum(r.rank * w.wfrac * 0.85::DOUBLE), 0.0::DOUBLE) AS rank
  FROM types t
  LEFT JOIN wf w ON w.to_type = t.event_type
  LEFT JOIN r{i - 1} r ON r.event_type = w.from_type
  GROUP BY t.event_type
)""")
    return f"""
WITH {_TPAIRS_CTES},
types AS (SELECT DISTINCT event_type FROM events),
nn AS (SELECT count(*)::BIGINT AS n FROM types),
cnts AS (SELECT event_type, count(*)::BIGINT AS cnt
         FROM events GROUP BY 1),
share AS (SELECT event_type,
                 cnt * 1.0 / (sum(cnt) OVER ())::BIGINT AS sh
          FROM cnts),
ofrom AS (SELECT from_type, sum(n_transitions)::BIGINT AS n_from
          FROM tpairs GROUP BY 1),
wf AS (SELECT p.from_type, p.to_type,
              p.n_transitions / o.n_from AS wfrac
       FROM tpairs p JOIN ofrom o USING (from_type)),
r0 AS (SELECT event_type, (SELECT 1.0::DOUBLE / n FROM nn) AS rank
       FROM types),
{", ".join(steps)}
SELECT r.event_type, round(r.rank, 6) AS stationary_p,
       round(s.sh, 6) AS empirical_share
FROM r{iterations} r JOIN share s USING (event_type)
"""


_NB_CTES = """
toks AS (
  SELECT doc_id, source IN ('src0', 'src1') AS pos,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents
),
dt AS (
  SELECT doc_id, tok, count(*) AS n, bool_or(pos) AS pos
  FROM toks GROUP BY 1, 2
),
cls AS (
  SELECT tok,
         sum(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
         sum(CASE WHEN pos THEN 0 ELSE 1 END) AS cn
  FROM toks GROUP BY 1
),
tot AS (SELECT sum(cp) AS tp, sum(cn) AS tn, count(*) AS v FROM cls),
llr AS (
  SELECT tok,
         round(ln((cp + 1) / (tp + v)), 8)
         - round(ln((cn + 1) / (tn + v)), 8) AS llr
  FROM cls CROSS JOIN tot
),
sc AS (
  SELECT doc_id, bool_or(pos) AS is_seed,
         sum(n)::BIGINT AS n_tokens,
         sum(CAST(n * llr AS DECIMAL(18, 8))) AS lo
  FROM dt JOIN llr USING (tok) GROUP BY doc_id
)
"""


# Domain-quality rollup (mirrors textstats.domain_quality over the corpus
# host mapping): ends at dqg(host, n_docs, n_ok). Shared by the
# domain_quality oracle and the fetch_frontier composite's blocklist.
_DOMQ_CTES = f"""
dqw AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
dqq AS (
  SELECT doc_id,
         len(w) AS n_words,
         round((length(text) - (len(w) - 1)) * 1.0 / len(w), 4) AS mean_wl,
         round(len(list_filter(w, x -> x IN
               ('the','a','of','to','and','in','is')))
               * 1.0 / len(w), 4) AS stop_ratio
  FROM dqw),
dqf AS (
  SELECT {_HOST_CASE} AS host,
         (n_words >= 10 AND mean_wl >= 2.0 AND mean_wl <= 12.0
          AND stop_ratio >= 0.01) AS ok
  FROM dqq),
dqg AS (
  SELECT host, count(*)::BIGINT AS n_docs, sum(ok::INT)::BIGINT AS n_ok
  FROM dqf GROUP BY 1)
"""


# Host-level outlink edges reconstructed from corpus arithmetic
# (corpus.build_html): every html page self-links via its relative chrome
# (nav 6 + aside 2 + related 3 + footer 2 = 13; memo pages have no
# aside/related → 8) and carries 3 absolute partner links
# (corpus.partner_hosts). html pages are k<=6 minus the text/plain slot.
_EDGES_CTES = f"""
hd AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 10 <= 6 AND NOT (doc_id % 10 = 4 AND doc_id % 20 = 14)
),
rel AS (
  SELECT {_host_case('doc_id')} AS src_host, {_host_case('doc_id')} AS dst_host,
         CASE WHEN doc_id % 10 = 4 THEN 8 ELSE 13 END AS n
  FROM hd
),
par AS (
  SELECT {_host_case('doc_id')} AS src_host,
         {_host_case('doc_id * 7 + 11 * j + 3')} AS dst_host, 1 AS n
  FROM hd, (SELECT unnest(range(3)) AS j) g
),
edges AS (
  SELECT src_host, dst_host, sum(n)::BIGINT AS n_links
  FROM (SELECT * FROM rel UNION ALL SELECT * FROM par)
  GROUP BY 1, 2
)
"""


def _seed_distance_ctes(seeds: tuple[str, ...], max_hops: int) -> str:
    """CTE chain mirroring linkgraph.host_seed_distance: the fixed
    relaxation rounds unrolled (the _pagerank_oracle idiom), all
    integer — min(cand) ignores NULLs identically on both engines and
    returns NULL for hosts unreached within max_hops. Requires
    _EDGES_CTES before it; ends at d{max_hops}(host, hops). Shared by
    the host_seed_distance oracle and the crawl_reachability
    composite."""
    seed_list = ", ".join(f"'{s}'" for s in seeds)
    steps = []
    for i in range(1, max_hops + 1):
        steps.append(f"""
d{i} AS (
  SELECT host, min(cand)::INT AS hops FROM (
    SELECT host, hops AS cand FROM d{i - 1}
    UNION ALL
    SELECT e.dst_host AS host, d.hops + 1 AS cand
    FROM ce e JOIN d{i - 1} d ON e.src_host = d.host
  ) GROUP BY host
)""")
    return f"""
ce AS (SELECT src_host, dst_host FROM edges WHERE src_host <> dst_host),
hosts AS (SELECT src_host AS host FROM ce
          UNION SELECT dst_host FROM ce),
d0 AS (SELECT host,
              (CASE WHEN host IN ({seed_list}) THEN 0 END)::INT AS hops
       FROM hosts),
{", ".join(steps)}
"""


def _seed_distance_oracle(seeds: tuple[str, ...], max_hops: int) -> str:
    """DuckDB twin of linkgraph.host_seed_distance (see
    _seed_distance_ctes)."""
    return f"""
WITH {_EDGES_CTES},
{_seed_distance_ctes(seeds, max_hops)}
SELECT host, hops FROM d{max_hops}
"""


def _pagerank_ctes(iterations: int = 3) -> str:
    """The host_pagerank CTE chain (everything up to r{iterations}),
    shared by the host_pagerank oracle and the convergence-delta
    composite. Identical per-term double arithmetic ((1.0 - 0.85)/n
    teleport — NOT the literal 0.15, which is a different double),
    iterations unrolled as chained CTEs (recursive CTE terms cannot
    aggregate). Each r{i} references r{i-1} exactly ONCE — linear, so
    no MATERIALIZED needed (the _kcore_oracle fan-out rule)."""
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f"""
r{i} AS (
  SELECT h.host,
         (SELECT (1.0::DOUBLE - 0.85::DOUBLE) / n FROM nn) +
         coalesce(sum(r.rank * w.wfrac * 0.85::DOUBLE), 0.0::DOUBLE) AS rank
  FROM hosts h
  LEFT JOIN wf w ON w.dst_host = h.host
  LEFT JOIN r{i - 1} r ON r.host = w.src_host
  GROUP BY h.host
)""")
    return f"""
WITH {_EDGES_CTES},
ce AS (SELECT * FROM edges WHERE src_host <> dst_host),
hosts AS (
  SELECT DISTINCT host FROM (
    SELECT src_host AS host FROM ce
    UNION ALL SELECT dst_host FROM ce)
),
nn AS (SELECT count(*) AS n FROM hosts),
deg AS (SELECT src_host, sum(n_links) AS out_w FROM ce GROUP BY 1),
wf AS (
  SELECT e.src_host, e.dst_host, e.n_links / d.out_w AS wfrac
  FROM ce e JOIN deg d USING (src_host)
),
r0 AS (SELECT host, (SELECT 1.0::DOUBLE / n FROM nn) AS rank FROM hosts),
{",".join(steps)}
"""


def _pagerank_oracle(iterations: int = 3) -> str:
    """DuckDB twin of linkgraph.host_pagerank (see _pagerank_ctes)."""
    return f"""
{_pagerank_ctes(iterations)}
SELECT host, round(rank, 6) AS rank FROM r{iterations}
"""


def _kcore_oracle(k: int = 6, rounds: int = 4) -> str:
    """DuckDB twin of linkgraph.host_kcore: peel rounds unrolled (the
    _pagerank_oracle idiom), all integer — live edges re-filtered
    against the shrinking survivor set each round, degree = count over
    the symmetric endpoint union, exactly the engine's plan. The
    per-round CTEs are MATERIALIZED: DuckDB inlines plain CTEs, and
    s_{i-1} appears three times per round, so inlining copies the plan
    tree ~3^rounds times and the OPTIMIZER itself hangs (measured:
    >400 s un-materialized, 0.5 s materialized — the CTE-explosion
    twin of Spark's localCheckpoint lineage cut)."""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f"""
e{i} AS MATERIALIZED (SELECT und.u, und.v FROM und
         JOIN s{i - 1} a ON und.u = a.host
         JOIN s{i - 1} b ON und.v = b.host),
g{i} AS (SELECT host, count(*)::BIGINT AS d FROM (
           SELECT u AS host FROM e{i} UNION ALL SELECT v FROM e{i})
         GROUP BY 1),
c{i} AS MATERIALIZED (SELECT s.host, coalesce(g.d, 0)::BIGINT AS d
         FROM s{i - 1} s LEFT JOIN g{i} g USING (host)),
r{i} AS (SELECT host, {i}::INT AS removed_round FROM c{i} WHERE d < {k}),
s{i} AS MATERIALIZED (SELECT host FROM c{i} WHERE d >= {k})""")
    removed_union = "\nUNION ALL\n".join(
        f"SELECT host, removed_round FROM r{i}" for i in range(1, rounds + 1)
    )
    return f"""
WITH {_EDGES_CTES},
und AS MATERIALIZED (
  SELECT least(src_host, dst_host) AS u,
         greatest(src_host, dst_host) AS v
  FROM edges WHERE src_host <> dst_host GROUP BY 1, 2),
s0 AS MATERIALIZED (SELECT u AS host FROM und UNION SELECT v FROM und),
{",".join(steps)},
fe AS (SELECT und.u, und.v FROM und
       JOIN s{rounds} a ON und.u = a.host
       JOIN s{rounds} b ON und.v = b.host),
fin AS (SELECT host, count(*)::BIGINT AS core_deg FROM (
          SELECT u AS host FROM fe UNION ALL SELECT v FROM fe)
        GROUP BY 1),
rem AS ({removed_union})
SELECT s.host, NULL::INT AS removed_round,
       coalesce(f.core_deg, 0)::BIGINT AS core_deg
FROM s{rounds} s LEFT JOIN fin f USING (host)
UNION ALL
SELECT host, removed_round, NULL::BIGINT AS core_deg FROM rem
"""


def _hits_oracle(iterations: int = 2) -> str:
    """DuckDB twin of linkgraph.host_hits: iterations unrolled, each
    half-step an incoming-sum + coalesce + max-rescale — max of doubles
    is order-free, so the only engine-order-sensitive ops are the
    degree-bounded per-host sums the final 6dp round absorbs (the
    _pagerank_oracle contract). Per-step vectors are MATERIALIZED — the
    scalar-max subqueries reference each one three times, and DuckDB's
    CTE inlining would otherwise copy the chain ~3^(2·iterations) times
    (the _kcore_oracle optimizer-hang lesson)."""
    steps = []
    prev_a = "a0"
    for i in range(1, iterations + 1):
        steps.append(f"""
h{i}s AS (SELECT e.src_host AS host, sum(a.a) AS s
          FROM ce e JOIN {prev_a} a ON a.host = e.dst_host GROUP BY 1),
h{i}r AS MATERIALIZED (SELECT h.host, coalesce(x.s, 0.0::DOUBLE) AS h
          FROM hosts h LEFT JOIN h{i}s x USING (host)),
h{i}m AS (SELECT max(h) AS m FROM h{i}r),
h{i} AS MATERIALIZED (SELECT host,
                CASE WHEN (SELECT m FROM h{i}m) > 0
                     THEN h / (SELECT m FROM h{i}m)
                     ELSE 0.0::DOUBLE END AS h
         FROM h{i}r),
a{i}s AS (SELECT e.dst_host AS host, sum(x.h) AS s
          FROM ce e JOIN h{i} x ON x.host = e.src_host GROUP BY 1),
a{i}r AS MATERIALIZED (SELECT h.host, coalesce(x.s, 0.0::DOUBLE) AS a
          FROM hosts h LEFT JOIN a{i}s x USING (host)),
a{i}m AS (SELECT max(a) AS m FROM a{i}r),
a{i} AS MATERIALIZED (SELECT host,
                CASE WHEN (SELECT m FROM a{i}m) > 0
                     THEN a / (SELECT m FROM a{i}m)
                     ELSE 0.0::DOUBLE END AS a
         FROM a{i}r)""")
        prev_a = f"a{i}"
    return f"""
WITH {_EDGES_CTES},
ce AS MATERIALIZED (SELECT DISTINCT src_host, dst_host FROM edges
       WHERE src_host <> dst_host),
hosts AS MATERIALIZED (SELECT src_host AS host FROM ce
       UNION SELECT dst_host FROM ce),
a0 AS (SELECT host, 1.0::DOUBLE AS a FROM hosts),
{",".join(steps)}
SELECT h.host, round(h.h, 6) AS hub, round(a.a, 6) AS authority
FROM h{iterations} h JOIN a{iterations} a USING (host)
"""


def _communities_ctes(iterations: int = 4, src: str = "edges") -> str:
    """Semi-synchronous weighted LPA CTE chain over ``src`` (mirrors
    linkgraph.host_communities: md5-u32 parity schedule, iterations
    unrolled — the host_pagerank idiom; the argmax vote is a QUALIFY
    row_number over (vw DESC, nl ASC) — exactly the Spark
    min(struct(-vw, nl)) order). Requires _EDGES_CTES (or an augmented
    edge CTE named ``src``) before it; ends at ``labs(host, community)``.
    Shared by host_communities and community_quarantine."""
    steps = []
    prev = "l0"
    for i in range(1, iterations + 1):
        par = (i - 1) % 2
        steps.append(f"""
v{i} AS (
  SELECT s.a, l.community AS nl, sum(s.w)::BIGINT AS vw
  FROM sym s JOIN {prev} l ON s.b = l.host
  GROUP BY 1, 2),
b{i} AS (
  SELECT a, nl FROM v{i}
  QUALIFY row_number() OVER (PARTITION BY a ORDER BY vw DESC, nl ASC) = 1),
l{i} AS (
  SELECT l.host,
         CASE WHEN l.par = {par} AND b.nl IS NOT NULL THEN b.nl
              ELSE l.community END AS community,
         l.par
  FROM {prev} l LEFT JOIN b{i} b ON b.a = l.host)""")
        prev = f"l{i}"
    return f"""ce2 AS (SELECT * FROM {src} WHERE src_host <> dst_host),
sym AS (
  SELECT a, b, sum(w)::BIGINT AS w FROM (
    SELECT src_host AS a, dst_host AS b, n_links AS w FROM ce2
    UNION ALL
    SELECT dst_host AS a, src_host AS b, n_links AS w FROM ce2) u
  GROUP BY 1, 2),
l0 AS (
  SELECT host, host AS community, {_md5_u32_sql('host')} % 2 AS par
  FROM (SELECT DISTINCT a AS host FROM sym) h),
{",".join(steps)},
labs AS (SELECT host, community FROM l{iterations})"""


def _communities_oracle(iterations: int = 4) -> str:
    """host_communities report: _communities_ctes labels + the
    per-community quality/size/intra-mass rollup."""
    return f"""
WITH {_EDGES_CTES},
{_DOMQ_CTES},
{_communities_ctes(iterations)},
intra AS (
  SELECT la.community, sum(e.n_links)::BIGINT AS intra_mass
  FROM ce2 e JOIN labs la ON e.src_host = la.host
             JOIN labs lb ON e.dst_host = lb.host
  WHERE la.community = lb.community
  GROUP BY 1),
rep AS (
  SELECT la.community, count(*)::BIGINT AS n_hosts,
         sum(coalesce(g.n_docs, 0))::BIGINT AS n_docs,
         sum(coalesce(g.n_ok, 0))::BIGINT AS n_ok
  FROM labs la LEFT JOIN dqg g ON g.host = la.host
  GROUP BY 1)
SELECT r.community, r.n_hosts, r.n_docs, r.n_ok,
       CASE WHEN r.n_docs > 0
            THEN round(r.n_ok * 1.0 / r.n_docs, 4) END AS ok_rate,
       coalesce(i.intra_mass, 0)::BIGINT AS intra_mass
FROM rep r LEFT JOIN intra i ON i.community = r.community
"""


# community_quarantine fixture + verdict chain (requires _EDGES_CTES and
# _DOMQ_CTES before it): the 5-host spam clique, augmented edges, LPA
# labels, pooled quality, and the verdict view ``cqv(host, community,
# n_docs, n_ok, host_rate, comm_n_docs, comm_n_ok, comm_rate,
# verdict_basis, quarantined)``. Shared by community_quarantine and
# community_budget (compose, don't re-paste).
def _build_quar_ctes() -> str:
    return f"""sph AS (SELECT 'spam' || i || '.junk' AS h
        FROM (SELECT unnest(range(5)) AS i)),
spe AS (SELECT a.h AS src_host, b.h AS dst_host, 25::BIGINT AS n_links
        FROM sph a, sph b WHERE a.h <> b.h),
edges_aug AS (SELECT * FROM edges UNION ALL SELECT * FROM spe),
{_communities_ctes(4, src="edges_aug")},
hq AS (SELECT host, n_docs, n_ok FROM dqg
       UNION ALL SELECT h, 8::BIGINT, 0::BIGINT FROM sph
       UNION ALL SELECT 'lone.junk', 5::BIGINT, 1::BIGINT
       UNION ALL SELECT 'tiny.shop', 3::BIGINT, 3::BIGINT),
jq AS (SELECT hq.host, coalesce(l.community, hq.host) AS community,
              n_docs, n_ok
       FROM hq LEFT JOIN labs l ON l.host = hq.host),
cm AS (SELECT community, sum(n_docs)::BIGINT AS comm_n_docs,
              sum(n_ok)::BIGINT AS comm_n_ok
       FROM jq GROUP BY 1),
cqv AS (
  SELECT j.host, j.community, j.n_docs, j.n_ok,
         round(j.n_ok * 1.0 / j.n_docs, 4) AS host_rate,
         c.comm_n_docs, c.comm_n_ok,
         round(c.comm_n_ok * 1.0 / c.comm_n_docs, 4) AS comm_rate,
         CASE WHEN c.comm_n_docs >= 15 THEN 'community'
              ELSE 'host' END AS verdict_basis,
         CASE WHEN c.comm_n_docs >= 15
              THEN c.comm_n_ok * 1.0 / c.comm_n_docs < 0.85
              ELSE j.n_docs >= 5 AND j.n_ok * 1.0 / j.n_docs < 0.85
              END AS quarantined
  FROM jq j JOIN cm c USING (community))"""


_QUAR_CTES = _build_quar_ctes()


def _trustrank_ctes(iterations: int = 3) -> str:
    """TrustRank CTE chain (mirrors linkgraph.host_trustrank:
    seed-restricted teleport (1.0 - 0.85) * seed, seed = 1/|S∩hosts|,
    iterations unrolled — identical per-term double arithmetic).
    Requires _EDGES_CTES before it; ends at
    ``ttr(host, trust)`` with trust 6dp-rounded. Shared by
    host_trustrank and the crawl_priority composite."""
    seeds_sql = "('h0.example.com', 'h1.example.com')"
    steps = []
    for i in range(1, iterations + 1):
        steps.append(f"""
t{i} AS (
  SELECT s.host,
         (1.0::DOUBLE - 0.85::DOUBLE) * s.seed +
         coalesce(sum(r.rank * w.wfrac * 0.85::DOUBLE), 0.0::DOUBLE) AS rank
  FROM s0 s
  LEFT JOIN wf w ON w.dst_host = s.host
  LEFT JOIN t{i - 1} r ON r.host = w.src_host
  GROUP BY s.host, s.seed
)""")
    return f"""
ce AS (SELECT * FROM edges WHERE src_host <> dst_host),
hosts AS (
  SELECT DISTINCT host FROM (
    SELECT src_host AS host FROM ce
    UNION ALL SELECT dst_host FROM ce)
),
sn AS (SELECT count(*) AS ns FROM hosts WHERE host IN {seeds_sql}),
s0 AS (
  SELECT host,
         CASE WHEN host IN {seeds_sql}
              THEN 1.0::DOUBLE / (SELECT ns FROM sn)
              ELSE 0.0::DOUBLE END AS seed
  FROM hosts),
deg AS (SELECT src_host, sum(n_links) AS out_w FROM ce GROUP BY 1),
wf AS (
  SELECT e.src_host, e.dst_host, e.n_links / d.out_w AS wfrac
  FROM ce e JOIN deg d USING (src_host)
),
t0 AS (SELECT host, seed AS rank FROM s0),
{",".join(steps)},
ttr AS (SELECT host, round(rank, 6) AS trust FROM t{iterations})
"""


def _trustrank_oracle(iterations: int = 3) -> str:
    """DuckDB twin of linkgraph.host_trustrank (see _trustrank_ctes)."""
    return f"""
WITH {_EDGES_CTES},
{_trustrank_ctes(iterations)}
SELECT host, trust FROM ttr
"""


_STEM_CASE = (
    "CASE doc_id % 10 WHEN 2 THEN 'table' WHEN 3 THEN 'list' "
    "WHEN 4 THEN 'memo' WHEN 5 THEN 'receipt' "
    "WHEN 6 THEN 'draft' WHEN 7 THEN 'playbook' WHEN 8 THEN 'scan' "
    "WHEN 9 THEN 'page' ELSE 'article' END"
)

# Golden-text rendering for the k=2 (table) / k=3 (list) archetypes —
# mirrors corpus.table_markdown / corpus.list_markdown. `gold` maps every
# doc to its expected extracted text.
_RENDER_CTES = """
rw AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id % 10 IN (2, 3)
),
rc AS (
  SELECT doc_id, unnest(range(0, (len(w) + 7) // 8)) AS i, w FROM rw
),
rp AS (
  -- coalesce: DuckDB yields NULL (not []) for fully out-of-range slices
  SELECT doc_id, i,
         coalesce(array_to_string(w[8*i+1 : 8*i+4], ' '), '') AS ca,
         coalesce(array_to_string(w[8*i+5 : 8*i+8], ' '), '') AS cb,
         coalesce(array_to_string(w[8*i+1 : 8*i+8], ' '), '') AS item
  FROM rc
),
rendered AS (
  SELECT doc_id,
         CASE doc_id % 10
           WHEN 2 THEN string_agg(
             '| ' || ca || CASE WHEN cb = '' THEN '' ELSE ' | ' || cb END
                  || ' |', chr(10) ORDER BY i) FILTER (WHERE ca <> '')
           ELSE string_agg('- ' || item, chr(10) || chr(10) ORDER BY i)
                  FILTER (WHERE item <> '')
         END AS gtext
  FROM rp GROUP BY doc_id
),
gold AS (
  SELECT d.doc_id, coalesce(r.gtext, d.text) AS gtext
  FROM documents d LEFT JOIN rendered r USING (doc_id)
),
mw AS (
  SELECT doc_id, string_split(text, ' ') AS w
  FROM documents WHERE doc_id % 10 = 4 AND doc_id % 20 <> 14
),
mc AS (
  SELECT doc_id, unnest(range(0, (len(w) + 5) // 6)) AS i, w FROM mw
),
ml AS (
  SELECT doc_id, i,
         coalesce(array_to_string(w[6*i+1 : 6*i+6], ' '), '') AS line
  FROM mc
),
memo AS (
  SELECT doc_id,
         string_agg(CASE WHEN i = 0 THEN line ELSE '  ' || line END,
                    chr(10) ORDER BY i) AS mtext
  FROM ml GROUP BY doc_id
),
gold_ext AS (
  -- EXTRACTION golden: the handwriting class preserves the memo layout
  -- (corpus.memo_layout); collapsed-text modes (multi_step) keep `gold`
  SELECT g.doc_id, coalesce(m.mtext, g.gtext) AS gtext
  FROM gold g LEFT JOIN memo m USING (doc_id)
)
"""
_EXT_CASE = (
    "CASE doc_id % 10 WHEN 7 THEN '.pdf' WHEN 8 THEN '.jpg' ELSE '.html' END"
)

def _simhash_sig_ctes(src: str, p: str = "") -> str:
    """md5-parity SimHash signature CTE chain over ``src(doc_id, text)``
    (mirrors dedup.simhash64 hash_fn='md5' bit-for-bit: distinct words,
    digit-wise md5 bit extraction, two's-complement sign-bit fold). Ends
    at ``{p}sig(doc_id, simhash, bucket)``; shared by simhash_buckets and
    simhash_near_pairs. ``p`` prefixes every CTE name so the chain
    composes next to _SHINGLES_CTE (which also defines ``w``) and
    _LSH_PAIRS_CTES (which also defines ``sig``)."""
    return f"""{p}w AS (
              SELECT doc_id,
                     unnest(list_distinct(string_split(text, ' '))) AS word
              FROM {src}),
            {p}h AS (SELECT doc_id, md5(word) AS hx FROM {p}w),
            {p}hb AS (SELECT doc_id, hx, unnest(range(64)) AS bit
                      FROM {p}h),
            {p}s AS (
              SELECT doc_id, bit,
                     sum(CASE WHEN (((instr('0123456789abcdef',
                                substr(hx, (16 - bit // 4)::INT, 1)) - 1)
                          >> (bit % 4)::INT) & 1) = 1
                         THEN 1 ELSE -1 END) AS acc
              FROM {p}hb GROUP BY 1, 2),
            {p}sig AS (
              SELECT doc_id,
                     sum(CASE WHEN acc > 0 THEN
                           CASE WHEN bit = 63 THEN -9223372036854775807 - 1
                                ELSE (1::BIGINT << bit::INT) END
                         ELSE 0 END)::BIGINT AS simhash,
                     sum(CASE WHEN acc > 0 AND bit >= 48
                           THEN (1::BIGINT << (bit - 48)::INT)
                         ELSE 0 END)::INT AS bucket
              FROM {p}s GROUP BY 1)"""


# Candidate-pair intersections with the hot-shingle guard mirror
# (max_posting=1000): set sizes stay full, only capped postings generate
# pairs. Requires _SHINGLES_CTE before it; shared by ngram_jaccard_pairs
# and jaccard_histogram.
_JPAIRS_CTES = """
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
ok AS (SELECT shingle FROM sh GROUP BY 1
       HAVING count(*) BETWEEN 2 AND 1000),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
  FROM sh a JOIN sh b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN ok ON ok.shingle = a.shingle
  GROUP BY 1, 2
)
"""

_SHINGLES_CTE = """
w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
widx AS (
  SELECT doc_id, w, unnest(range(1, len(w) - 3)) AS i
  FROM w WHERE len(w) >= 5
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(w[i : i + 4], ' ') AS shingle
  FROM widx
)
"""

# MinHash-LSH candidate pairs -> recursive transitive closure -> component
# labels (mirrors dedup.minhash_lsh_candidates + dedup_components); requires
# _SHINGLES_CTE before it and WITH RECURSIVE on the statement.
# Signatures -> band buckets -> candidate pairs (mirrors
# dedup.minhash_signatures / band_buckets / minhash_lsh_candidates);
# requires _SHINGLES_CTE before it. The transitive-closure suffix below
# extends it to component labels.
_LSH_PAIRS_CTES = """
sig AS (
  SELECT doc_id, g.j AS j,
         min(md5(g.j || '|' || shingle)) AS m
  FROM sh, generate_series(0, 7) AS g(j)
  GROUP BY doc_id, g.j
),
bands AS (
  SELECT doc_id, j // 2 AS band,
         md5(string_agg(m, '' ORDER BY j)) AS bucket
  FROM sig GROUP BY doc_id, j // 2
),
pairs AS (
  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket
    AND a.doc_id < b.doc_id
)
"""

_LSH_COMP_CTES = _LSH_PAIRS_CTES + """,
edges AS (
  SELECT a AS src, b AS dst FROM pairs
  UNION
  SELECT b AS src, a AS dst FROM pairs),
reach(node, r) AS (
  SELECT src AS node, src AS r FROM edges
  UNION
  SELECT e.dst AS node, reach.r
  FROM reach JOIN edges e ON reach.node = e.src),
comp AS (SELECT node, min(r) AS label FROM reach GROUP BY node)
"""

# Exact-dup/quality/repetition gates -> per-doc verdict (mirrors
# textstats.curation_verdict); requires _SHINGLES_CTE's `w` before it.
_VERDICT_CTES = """
keepfp AS (
  SELECT md5(text) AS fp, min(doc_id) AS keeper
  FROM documents GROUP BY 1),
q AS (
  SELECT w.doc_id, w.w,
         len(w.w) AS n_words,
         round((length(d.text) - (len(w.w) - 1)) * 1.0
               / len(w.w), 4) AS mean_wl,
         round(len(list_filter(w.w, x -> x IN
               ('the','a','of','to','and','in','is')))
               * 1.0 / len(w.w), 4) AS stop_ratio
  FROM w JOIN documents d ON d.doc_id = w.doc_id),
counts AS (
  SELECT doc_id, count(*) AS c
  FROM (SELECT doc_id, unnest(w) AS word FROM w)
  GROUP BY doc_id, word),
top AS (SELECT doc_id, max(c) AS topc FROM counts GROUP BY 1),
kg AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 5
              THEN list_transform(range(1, len(w) - 3),
                   i -> array_to_string(w[i : i + 4], ' '))
              ELSE [] END AS gs
  FROM w),
flags AS (
  SELECT q.doc_id,
         (q.n_words >= 10 AND q.mean_wl >= 2.0
          AND q.mean_wl <= 12.0 AND q.stop_ratio >= 0.01)
           AS quality_ok,
         (round(len(list_distinct(q.w)) * 1.0 / q.n_words, 4)
            >= 0.2
          AND round(t.topc * 1.0 / q.n_words, 4) <= 0.3
          AND (CASE WHEN len(k.gs) > 0
               THEN round(1 - len(list_distinct(k.gs)) * 1.0
                          / len(k.gs), 4)
               ELSE 0.0 END) <= 0.6) AS repetition_ok
  FROM q
  JOIN top t ON t.doc_id = q.doc_id
  JOIN kg k ON k.doc_id = q.doc_id),
verdict AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id <> kk.keeper THEN 'duplicate'
              WHEN NOT f.quality_ok THEN 'quality'
              WHEN NOT f.repetition_ok THEN 'repetition'
              ELSE 'ok' END AS vreason
  FROM documents d
  JOIN keepfp kk ON md5(d.text) = kk.fp
  JOIN flags f ON f.doc_id = d.doc_id)
"""


_ANN_ORACLE = """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cv
                  FROM embeddings WHERE vec_id >= 10),
            scored AS (
              SELECT query_id, neighbor_id,
                round(
                  list_sum(list_transform(range(1, 1 + len(qv)),
                           i -> qv[i]::DOUBLE * cv[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE)))
                     * sqrt(list_sum(list_transform(cv, x -> x::DOUBLE * x::DOUBLE)))),
                  4) AS cosine
              FROM q, c
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
              FROM scored
            )
            SELECT query_id, neighbor_id, cosine, rnk::INT AS rnk
            FROM ranked WHERE rnk <= 5
        """


def _lsh_sig_sql(v: str) -> str:
    """DuckDB twin of similarity._rh_signature (md5-parity hyperplanes,
    num_planes=6, dim=64): sign-bit bucket id for vector column ``v``."""
    return f"""list_sum(list_transform(range(6), p ->
      CASE WHEN list_sum(list_transform(range(64), i ->
             {v}[(i + 1)::INT]::DOUBLE *
             CASE WHEN (instr('0123456789abcdef',
                    substr(md5(p::VARCHAR || '|' || i::VARCHAR), 32, 1)) - 1)
                  % 2 = 1 THEN 1.0 ELSE -1.0 END)) > 0
           THEN (1::BIGINT << p::INT) ELSE 0 END))"""


from ollama_ocr_spark.operators.similarity import \
    embed_text_stub_sql as _embed_sql
from ollama_ocr_spark.operators.textstats import PII_EMAIL_RE as _PII_EMAIL
from ollama_ocr_spark.operators.textstats import PII_IPV4_RE as _PII_IPV4
from ollama_ocr_spark.operators.textstats import PII_PHONE_RE as _PII_PHONE


def oracle_sql() -> dict[str, str]:
    d = {
        "selection_drift": """
            WITH per AS (
              SELECT source,
                     count(*)::BIGINT AS n_full,
                     sum(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT
                       AS n_recrawl
              FROM documents GROUP BY source
            ), sh AS (
              SELECT source, n_full, n_recrawl,
                     round(n_full * 1.0 / sum(n_full) OVER (), 8)
                       AS share_full,
                     round(n_recrawl * 1.0 / sum(n_recrawl) OVER (), 8)
                       AS share_recrawl
              FROM per
            )
            SELECT source, n_full, n_recrawl, share_full, share_recrawl,
                   round(abs(share_full - share_recrawl), 8) AS abs_delta,
                   (round(sum(round(abs(share_full - share_recrawl), 8)
                              ::DECIMAL(18,8)) OVER ()::DOUBLE / 2, 8))
                     AS tvd
            FROM sh
        """,
        "filter_attribution": """
            WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS w
                       FROM documents),
            counts AS (
              SELECT doc_id, count(*) AS c
              FROM (SELECT doc_id, unnest(w) AS word FROM w)
              GROUP BY doc_id, word
            ),
            top AS (SELECT doc_id, max(c) AS topc FROM counts GROUP BY 1),
            kg AS (
              SELECT doc_id,
                     CASE WHEN len(w) >= 5
                          THEN list_transform(range(1, len(w) - 3),
                               i -> array_to_string(w[i : i + 4], ' '))
                          ELSE [] END AS gs
              FROM w
            ),
            keepers AS (SELECT md5(text) AS fp, min(doc_id) AS keeper
                        FROM documents GROUP BY 1),
            feat AS (
              SELECT w.doc_id,
                     len(w.w) AS n_words,
                     round((length(w.text) - (len(w.w) - 1)) * 1.0
                           / len(w.w), 4) AS mean_wl,
                     round(len(list_filter(w.w, x -> x IN
                               ('the','a','of','to','and','in','is')))
                           * 1.0 / len(w.w), 4) AS stop_ratio,
                     round(len(list_distinct(w.w)) * 1.0 / len(w.w), 4)
                       AS distinct_frac,
                     round(t.topc * 1.0 / len(w.w), 4) AS top_frac,
                     CASE WHEN len(k.gs) > 0
                          THEN round(1 - len(list_distinct(k.gs)) * 1.0
                                     / len(k.gs), 4)
                          ELSE 0.0 END AS dup_frac,
                     (kp.keeper <> w.doc_id) AS is_dup
              FROM w JOIN top t ON t.doc_id = w.doc_id
                     JOIN kg k ON k.doc_id = w.doc_id
                     JOIN keepers kp ON kp.fp = md5(w.text)
            ),
            flags AS (
              SELECT doc_id,
                     (n_words < 10) AS f0, (mean_wl < 2.0) AS f1,
                     (mean_wl > 12.0) AS f2, (stop_ratio < 0.01) AS f3,
                     (distinct_frac < 0.2) AS f4, (top_frac > 0.3) AS f5,
                     (dup_frac > 0.6) AS f6, is_dup AS f7
              FROM feat
            ),
            nf AS (
              SELECT *, (f0::INT + f1::INT + f2::INT + f3::INT + f4::INT
                         + f5::INT + f6::INT + f7::INT) AS n_fails
              FROM flags
            ),
            agg AS (
              SELECT count(*) AS n_docs,
                sum((n_fails = 0)::INT) AS n_keep,
                sum(f0::INT) AS a0, sum((f0 AND n_fails = 1)::INT) AS o0,
                sum(f1::INT) AS a1, sum((f1 AND n_fails = 1)::INT) AS o1,
                sum(f2::INT) AS a2, sum((f2 AND n_fails = 1)::INT) AS o2,
                sum(f3::INT) AS a3, sum((f3 AND n_fails = 1)::INT) AS o3,
                sum(f4::INT) AS a4, sum((f4 AND n_fails = 1)::INT) AS o4,
                sum(f5::INT) AS a5, sum((f5 AND n_fails = 1)::INT) AS o5,
                sum(f6::INT) AS a6, sum((f6 AND n_fails = 1)::INT) AS o6,
                sum(f7::INT) AS a7, sum((f7 AND n_fails = 1)::INT) AS o7
              FROM nf
            )
            SELECT r.rule,
                   r.n_fail::BIGINT AS n_fail,
                   r.n_fail_only::BIGINT AS n_fail_only,
                   round(r.n_fail * 1.0 / agg.n_docs, 4) AS fail_rate,
                   agg.n_keep::BIGINT AS n_keep
            FROM agg, (
              SELECT 'too_few_words' AS rule, a0 AS n_fail, o0 AS n_fail_only
              FROM agg
              UNION ALL SELECT 'mean_wl_low', a1, o1 FROM agg
              UNION ALL SELECT 'mean_wl_high', a2, o2 FROM agg
              UNION ALL SELECT 'low_stopword', a3, o3 FROM agg
              UNION ALL SELECT 'low_distinct', a4, o4 FROM agg
              UNION ALL SELECT 'top_word_heavy', a5, o5 FROM agg
              UNION ALL SELECT 'dup_kgrams', a6, o6 FROM agg
              UNION ALL SELECT 'duplicate', a7, o7 FROM agg
            ) r
        """,
        "sessionized_funnel": """
            WITH e AS (
              SELECT user_id, event_id, event_type, epoch_us(ts) AS us
              FROM events),
            lg AS (
              SELECT *, lag(us) OVER (PARTITION BY user_id
                                      ORDER BY us, event_id) AS pg
              FROM e),
            s AS (
              SELECT event_type, us,
                     (user_id << 20)
                     | (sum(CASE WHEN pg IS NULL
                                   OR us - pg > 86400000000
                            THEN 1 ELSE 0 END)
                        OVER (PARTITION BY user_id ORDER BY us, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) - 1) AS sk
              FROM lg),
            s0 AS (SELECT sk, min(us) AS mu FROM s
                   WHERE event_type = 'view' GROUP BY 1),
            s1 AS (SELECT s.sk, min(us) AS mu
                   FROM s JOIN s0 ON s0.sk = s.sk
                   WHERE s.event_type = 'click' AND s.us > s0.mu
                   GROUP BY 1),
            s2 AS (SELECT s.sk, min(us) AS mu
                   FROM s JOIN s1 ON s1.sk = s.sk
                   WHERE s.event_type = 'purchase' AND s.us > s1.mu
                   GROUP BY 1),
            c AS (SELECT (SELECT count(*) FROM s0) AS n0,
                         (SELECT count(*) FROM s1) AS n1,
                         (SELECT count(*) FROM s2) AS n2)
            SELECT 1 AS stage, 'view' AS event_type,
                   n0::BIGINT AS n_sessions,
                   round(n0 * 1.0 / n0, 4) AS frac_of_entry,
                   1.0 AS step_rate
            FROM c
            UNION ALL
            SELECT 2, 'click', n1::BIGINT, round(n1 * 1.0 / n0, 4),
                   round(n1 * 1.0 / n0, 4)
            FROM c
            UNION ALL
            SELECT 3, 'purchase', n2::BIGINT, round(n2 * 1.0 / n0, 4),
                   round(n2 * 1.0 / n1, 4)
            FROM c
        """,
        "stratified_sample": """
            WITH r AS (
              SELECT doc_id, source,
                     row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5('strat|' || doc_id::VARCHAR), doc_id
                     ) AS rn,
                     count(*) OVER (PARTITION BY source) AS n
              FROM documents)
            SELECT doc_id, source, rn::INT AS sample_rank
            FROM r WHERE rn <= (n * 1000 + 9999) // 10000
        """,
        "event_transitions": f"""
            WITH {_TPAIRS_CTES},
            tot AS (
              SELECT from_type, to_type, n_transitions,
                     sum(n_transitions) OVER (PARTITION BY from_type)
                       ::BIGINT AS n_from
              FROM tpairs)
            SELECT from_type, to_type, n_transitions, n_from,
                   round(n_transitions * 1.0 / n_from, 4) AS p
            FROM tot
        """,
        "event_stationary": _stationary_oracle(iterations=3),
        # user_transition_entropy: H = -(1/n)·Σ c·ln(c/n) — integer c
        # times the 8dp-rounded ln as an EXACT decimal product, order-
        # free decimal sum, one double division by n at the end, 6dp.
        # (Rounding a p·ln(p) DOUBLE product per term instead lands
        # .5e-8 boundaries a half-ulp apart between engines.)
        "user_transition_entropy": """
            WITH nxtu AS (
              SELECT user_id, event_type AS from_type,
                     lead(event_type) OVER (PARTITION BY user_id
                                            ORDER BY epoch_us(ts),
                                                     event_id) AS to_type
              FROM events),
            upairs AS (
              SELECT user_id, from_type, to_type, count(*)::BIGINT AS c
              FROM nxtu WHERE to_type IS NOT NULL
              GROUP BY 1, 2, 3),
            tot AS (
              SELECT user_id, sum(c)::BIGINT AS n,
                     count(*)::BIGINT AS n_pairs
              FROM upairs GROUP BY 1),
            terms AS (
              SELECT p.user_id,
                     c * CAST(round(ln(c * 1.0 / n), 8)
                              AS DECIMAL(18, 8)) AS term
              FROM upairs p JOIN tot USING (user_id)),
            s AS (
              SELECT user_id, sum(term) AS sm
              FROM terms GROUP BY 1)
            SELECT t.user_id, t.n AS n_transitions, t.n_pairs,
                   round((-(s.sm))::DOUBLE / t.n, 6) AS entropy
            FROM tot t JOIN s USING (user_id)
        """,
        # state_dwell_stats: dwell = gap to the user's next event,
        # whole seconds via BIGINT floor-div before summing (the
        # bot_suspects overflow idiom; gaps are non-negative so floor
        # == trunc on both engines).
        "state_dwell_stats": """
            WITH nxtg AS (
              SELECT event_type AS from_type,
                     lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                              ORDER BY epoch_us(ts),
                                                       event_id)
                       - epoch_us(ts) AS gap_us
              FROM events),
            g AS (
              SELECT from_type, count(*)::BIGINT AS n_transitions,
                     sum(gap_us // 1000000)::BIGINT AS total_dwell_s
              FROM nxtg WHERE gap_us IS NOT NULL
              GROUP BY 1)
            SELECT from_type, n_transitions, total_dwell_s,
                   round(total_dwell_s * 1.0 / n_transitions, 4)
                     AS mean_dwell_s
            FROM g
        """,
        "bot_suspects": """
            WITH g AS (
              SELECT user_id AS u,
                     (epoch_us(ts)
                      - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY epoch_us(ts),
                                                         event_id))
                     // 1000000 AS g
              FROM events),
            per AS (
              SELECT u, count(*)::BIGINT AS n_events,
                     count(g)::BIGINT AS k,
                     sum(g)::BIGINT AS sg,
                     sum(g * g)::BIGINT AS sgg
              FROM g GROUP BY 1),
            sc AS (
              SELECT u, n_events, k,
                     sg * 1.0 / k AS mean,
                     sqrt(greatest(sgg * 1.0 / k
                                   - (sg * 1.0 / k) * (sg * 1.0 / k),
                                   0.0)) AS std
              FROM per WHERE k >= 1)
            SELECT u AS user_id, n_events, k AS n_gaps,
                   round(mean, 2) AS mean_gap_s,
                   round(CASE WHEN mean > 0 THEN std / mean END, 4) AS cv,
                   CASE WHEN mean > 0
                        THEN n_events >= 20 AND std / mean < 0.5
                        ELSE n_events >= 20 END AS is_bot
            FROM sc
        """,
        "event_anomalies": """
            WITH daily AS (
              SELECT epoch_us(ts) // 86400000000 AS day,
                     event_type, count(*)::BIGINT AS n
              FROM events GROUP BY 1, 2),
            win AS (
              SELECT day, event_type, n,
                     sum(n) OVER w AS sx,
                     sum(n * n) OVER w AS sxx,
                     count(n) OVER w AS k
              FROM daily
              WINDOW w AS (PARTITION BY event_type ORDER BY day
                           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)),
            scored AS (
              SELECT day, event_type, n,
                     sx * 1.0 / k AS mean,
                     sqrt(greatest(sxx * 1.0 / k
                                   - (sx * 1.0 / k) * (sx * 1.0 / k),
                                   0.0)) AS std
              FROM win WHERE k = 3)
            SELECT day, event_type, n,
                   round(mean, 4) AS trail_mean,
                   round(CASE WHEN std > 0 THEN (n - mean) / std END, 4)
                     AS z,
                   CASE WHEN std > 0
                        THEN abs((n - mean) / std) > 2.0
                        ELSE n * 1.0 <> mean END AS is_anomaly
            FROM scored
        """,
        "host_triangles": f"""
            WITH {_EDGES_CTES},
            und AS (
              SELECT DISTINCT least(src_host, dst_host) AS u,
                     greatest(src_host, dst_host) AS v
              FROM edges WHERE src_host <> dst_host),
            tri AS (
              SELECT count(*)::BIGINT AS n_triangles
              FROM und ab
              JOIN und bc ON bc.u = ab.v
              JOIN und ac ON ac.u = ab.u AND ac.v = bc.v),
            deg AS (
              SELECT n, count(*)::BIGINT AS d
              FROM (SELECT u AS n FROM und
                    UNION ALL SELECT v AS n FROM und)
              GROUP BY 1),
            agg AS (
              SELECT count(*)::BIGINT AS n_nodes,
                     (SELECT count(*) FROM und)::BIGINT AS n_edges,
                     sum((d * (d - 1)) // 2)::BIGINT AS n_wedges
              FROM deg)
            SELECT agg.n_nodes, agg.n_edges, tri.n_triangles, agg.n_wedges,
                   CASE WHEN agg.n_wedges > 0
                        THEN round(3 * tri.n_triangles * 1.0
                                   / agg.n_wedges, 6)
                        END AS global_clustering
            FROM agg, tri
        """,
        "retention_cohorts": """
            WITH ud AS (
              SELECT DISTINCT user_id AS u,
                     epoch_us(ts) // 86400000000 AS d
              FROM events),
            c AS (SELECT u, min(d) AS cd FROM ud GROUP BY 1),
            sz AS (SELECT cd, count(*)::BIGINT AS cohort_size
                   FROM c GROUP BY 1),
            act AS (
              SELECT c.cd, ud.d - c.cd AS off, count(*)::BIGINT AS n_users
              FROM ud JOIN c ON c.u = ud.u
              WHERE ud.d - c.cd <= 14
              GROUP BY 1, 2)
            SELECT act.cd AS cohort_day, act.off AS day_offset,
                   act.n_users, sz.cohort_size,
                   round(act.n_users * 1.0 / sz.cohort_size, 4)
                     AS retention
            FROM act JOIN sz ON sz.cd = act.cd
        """,
        "event_funnel": """
            WITH e AS (
              SELECT user_id AS u, event_type AS t, epoch_us(ts) AS us
              FROM events),
            s0 AS (SELECT u, min(us) AS mu FROM e
                   WHERE t = 'view' GROUP BY 1),
            s1 AS (SELECT e.u, min(us) AS mu
                   FROM e JOIN s0 ON s0.u = e.u
                   WHERE e.t = 'click' AND e.us > s0.mu GROUP BY 1),
            s2 AS (SELECT e.u, min(us) AS mu
                   FROM e JOIN s1 ON s1.u = e.u
                   WHERE e.t = 'purchase' AND e.us > s1.mu GROUP BY 1),
            c AS (SELECT (SELECT count(*) FROM s0) AS n0,
                         (SELECT count(*) FROM s1) AS n1,
                         (SELECT count(*) FROM s2) AS n2)
            SELECT 1 AS stage, 'view' AS event_type, n0::BIGINT AS n_users,
                   round(n0 * 1.0 / n0, 4) AS frac_of_entry,
                   1.0 AS step_rate
            FROM c
            UNION ALL
            SELECT 2, 'click', n1::BIGINT, round(n1 * 1.0 / n0, 4),
                   round(n1 * 1.0 / n0, 4)
            FROM c
            UNION ALL
            SELECT 3, 'purchase', n2::BIGINT, round(n2 * 1.0 / n0, 4),
                   round(n2 * 1.0 / n1, 4)
            FROM c
        """,
        "weighted_sample": f"""
            WITH t AS (
              SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
              FROM documents),
            p AS (
              SELECT doc_id, n_tokens,
                     round(ln(({_md5_u32_sql("'wrs|' || doc_id::VARCHAR")}
                               + 1) / 4294967296.0), 8) / n_tokens
                       AS pri
              FROM t)
            SELECT doc_id, n_tokens::INT AS n_tokens,
                   round(pri, 8) AS priority
            FROM p
            ORDER BY pri DESC, doc_id
            LIMIT 100
        """,
        "bbit_minhash_eval": f"""
            WITH {_SHINGLES_CTE}, {_JPAIRS_CTES}, {_LSH_PAIRS_CTES},
            ag AS (
              SELECT p.a, p.b,
                     sum(CASE WHEN xa.m = xb.m THEN 1 ELSE 0 END)::BIGINT
                       AS agree,
                     sum(CASE WHEN substr(xa.m, 32, 1) = substr(xb.m, 32, 1)
                         THEN 1 ELSE 0 END)::BIGINT AS agree_b
              FROM pairs p
              JOIN sig xa ON xa.doc_id = p.a
              JOIN sig xb ON xb.doc_id = p.b AND xb.j = xa.j
              GROUP BY 1, 2),
            je AS (
              SELECT g.agree, g.agree_b, i.inter,
                     sa.n + sb.n - i.inter AS u
              FROM ag g
              JOIN inter i ON i.a = g.a AND i.b = g.b
              JOIN sizes sa ON sa.doc_id = g.a
              JOIN sizes sb ON sb.doc_id = g.b),
            er AS (
              SELECT least((inter * 20) // u, 19)::INT AS bucket,
                     round(abs(agree / 8 - inter / u), 6)::DECIMAL(18,6)
                       AS ef,
                     round(abs((agree_b / 8 - 0.0625) / 0.9375
                               - inter / u), 6)::DECIMAL(18,6) AS eb
              FROM je)
            SELECT bucket, round(bucket / 20.0, 4) AS lo,
                   count(*)::BIGINT AS n_pairs,
                   round(sum(ef)::DOUBLE / count(*), 4) AS err_full,
                   round(sum(eb)::DOUBLE / count(*), 4) AS err_bbit
            FROM er GROUP BY 1
        """,
        "normalize_text": """
            WITH base AS (
              SELECT doc_id,
                     text || CASE WHEN doc_id % 3 = 0
                                  THEN ' cafe' || chr(769)
                                  WHEN doc_id % 3 = 1
                                  THEN ' caf' || chr(233)
                                  ELSE '' END AS t
              FROM documents)
            SELECT doc_id,
                   nfc_normalize(t) AS norm_text,
                   (nfc_normalize(t) <> t) AS changed,
                   length(t)::INT AS chars_in,
                   length(nfc_normalize(t))::INT AS chars_out
            FROM base
        """,
        # DuckDB has no NFKC/casefold: the expected column is a
        # hand-derived UAX#15 + case-folding table over the fixture
        # suffixes (ﬁ=chr(64257)→'fi', ½=chr(189)→'1'||chr(8260)||'2',
        # Ａ=chr(65313)→'a', İ=chr(304)→'i'||chr(775), ß=chr(223)→'ss');
        # the ASCII lowercase body passes through unchanged, so the
        # comparison verifies the Spark Arrow kernel reproduces the
        # published mappings end-to-end.
        "normalize_text_nfkc": """
            WITH base AS (
              SELECT doc_id,
                     text || CASE
                       WHEN doc_id % 5 = 0 THEN ' ' || chr(64257) || 'le'
                       WHEN doc_id % 5 = 1 THEN ' ' || chr(189)
                       WHEN doc_id % 5 = 2 THEN ' ' || chr(65313) || chr(304)
                       WHEN doc_id % 5 = 3 THEN ' Stra' || chr(223) || 'e'
                       ELSE '' END AS t,
                     text || CASE
                       WHEN doc_id % 5 = 0 THEN ' file'
                       WHEN doc_id % 5 = 1 THEN ' 1' || chr(8260) || '2'
                       WHEN doc_id % 5 = 2 THEN ' ai' || chr(775)
                       WHEN doc_id % 5 = 3 THEN ' strasse'
                       ELSE '' END AS expected
              FROM documents)
            SELECT doc_id,
                   expected AS norm_text,
                   (expected <> t) AS changed,
                   length(t)::INT AS chars_in,
                   length(expected)::INT AS chars_out
            FROM base
        """,
        "shard_manifest": f"""
            WITH t AS (
              SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
              FROM documents),
            b AS (
              SELECT doc_id, n_tokens,
                     length(format('{{:b}}', n_tokens)) AS band,
                     ({_md5_u32_sql("'shard|' || doc_id::VARCHAR")}) % 256
                       AS cell
              FROM t),
            r AS (
              SELECT doc_id, n_tokens, band, cell,
                     row_number() OVER (PARTITION BY band, cell
                                        ORDER BY doc_id) AS rn
              FROM b)
            SELECT ((rn - 1 + band + cell) % 8)::INT AS shard,
                   count(*)::BIGINT AS n_docs,
                   sum(n_tokens)::BIGINT AS n_tokens,
                   min(doc_id) AS min_key, max(doc_id) AS max_key,
                   sum({_md5_u32_sql("'manifest|' || doc_id::VARCHAR")})
                     ::BIGINT AS checksum
            FROM r GROUP BY 1
        """,
        "pii_stats": f"""
            WITH base AS (
              SELECT source,
                     text || ' contact user' || doc_id
                          || '@mail.example.com or 10.0.'
                          || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                          || CASE WHEN doc_id % 3 = 0
                             THEN ' ring +1 555 010 '
                                  || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                             ELSE '' END AS t
              FROM documents),
            per AS (
              SELECT source,
                     len(regexp_extract_all(t, '{_PII_EMAIL}')) AS e,
                     len(regexp_extract_all(t, '{_PII_IPV4}')) AS i,
                     len(regexp_extract_all(t, '{_PII_PHONE}')) AS p
              FROM base)
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(((e + i + p) > 0)::INT)::BIGINT AS n_docs_with_pii,
                   sum(e)::BIGINT AS total_emails,
                   sum(i)::BIGINT AS total_ipv4,
                   sum(p)::BIGINT AS total_phones,
                   round(sum(((e + i + p) > 0)::INT) * 1.0 / count(*), 4)
                     AS pii_doc_rate
            FROM per GROUP BY source
        """,
        "token_drift": """
            WITH t AS (
              SELECT (doc_id % 5 = 0) AS sel,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS token
              FROM documents
            ),
            per AS (
              SELECT token, count(*)::BIGINT AS n_full,
                     sum(sel::INT)::BIGINT AS n_recrawl
              FROM t GROUP BY 1
            ),
            tot AS (
              SELECT sum(n_full)::BIGINT AS tf,
                     sum(n_recrawl)::BIGINT AS tr
              FROM per
            ),
            top AS (
              SELECT * FROM per ORDER BY n_full DESC, token LIMIT 50
            ),
            sh AS (
              SELECT token, n_full, n_recrawl,
                     round(n_full * 1.0 / tf, 8) AS share_full,
                     round(n_recrawl * 1.0 / tr, 8) AS share_recrawl
              FROM top, tot
            )
            SELECT token, n_full, n_recrawl, share_full, share_recrawl,
                   round(abs(share_full - share_recrawl), 8) AS abs_delta,
                   (round(sum(round(abs(share_full - share_recrawl), 8)
                              ::DECIMAL(18,8)) OVER ()::DOUBLE / 2, 8))
                     AS head_tvd
            FROM sh
        """,
        "host_degree_stats": f"""
            WITH {_EDGES_CTES},
            ce AS (SELECT * FROM edges WHERE src_host <> dst_host),
            o AS (
              SELECT src_host AS host, count(*)::BIGINT AS out_deg,
                     sum(n_links)::BIGINT AS out_links
              FROM ce GROUP BY 1),
            i AS (
              SELECT dst_host AS host, count(*)::BIGINT AS in_deg,
                     sum(n_links)::BIGINT AS in_links
              FROM ce GROUP BY 1)
            SELECT coalesce(o.host, i.host) AS host,
                   coalesce(out_deg, 0)::BIGINT AS out_deg,
                   coalesce(out_links, 0)::BIGINT AS out_links,
                   coalesce(in_deg, 0)::BIGINT AS in_deg,
                   coalesce(in_links, 0)::BIGINT AS in_links
            FROM o FULL OUTER JOIN i ON o.host = i.host
        """,
        "bigram_stats": """
            WITH t AS (
              SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS w
              FROM documents),
            uc AS (
              SELECT t, count(*)::BIGINT AS c
              FROM (SELECT unnest(w) AS t FROM t) GROUP BY 1),
            nt AS (SELECT sum(c)::BIGINT AS n_tokens FROM uc),
            pc AS (
              SELECT bigram, count(*)::BIGINT AS n_pairs
              FROM (
                SELECT unnest(list_transform(range(1, len(w)),
                              i -> w[i] || ' ' || w[i + 1])) AS bigram
                FROM t)
              GROUP BY 1)
            SELECT p.bigram, p.n_pairs,
                   round(ln((p.n_pairs * nt.n_tokens) / (u1.c * u2.c)), 8)
                     AS pmi
            FROM pc p
            JOIN uc u1 ON u1.t = string_split(p.bigram, ' ')[1]
            JOIN uc u2 ON u2.t = string_split(p.bigram, ' ')[2]
            CROSS JOIN nt
            ORDER BY p.n_pairs DESC, p.bigram ASC
            LIMIT 50
        """,
        "length_histogram": """
            WITH b AS (
              SELECT lang AS grp,
                     CASE WHEN n_chars >= 1 THEN length(bin(n_chars))::INT
                          ELSE 0 END AS bucket,
                     n_chars
              FROM documents)
            SELECT grp, bucket, count(*)::BIGINT AS n_docs,
                   sum(n_chars)::BIGINT AS total_chars,
                   min(n_chars)::BIGINT AS min_chars,
                   max(n_chars)::BIGINT AS max_chars
            FROM b GROUP BY 1, 2
        """,
        "extract_text_roundtrip": f"""
            WITH {_RENDER_CTES}
            SELECT doc_id, gtext AS text, length(gtext)::BIGINT AS chars
            FROM gold_ext WHERE doc_id % 10 <= 6
        """,
        "extract_handwriting": f"""
            WITH {_RENDER_CTES}
            SELECT doc_id, gtext AS text, length(gtext)::BIGINT AS chars,
                   'handwriting' AS engine
            FROM gold_ext WHERE doc_id % 10 IN (4, 6)
        """,
        "extract_pdf_fold": """
            WITH pdf AS (
              SELECT doc_id, string_split(text, ' ') AS w, 1 + doc_id % 3 AS p
              FROM documents WHERE doc_id % 10 = 7
            ),
            pidx AS (
              SELECT doc_id, p, w, unnest(range(1, p + 1)) AS n FROM pdf
            ),
            pages AS (
              SELECT doc_id, n, p,
                     array_to_string(
                       w[(len(w) * (n - 1)) // p + 1 : (len(w) * n) // p],
                       ' ') AS ptext
              FROM pidx
            ),
            folded AS (
              SELECT doc_id,
                     string_agg(chr(10) || chr(10) || '--- Page ' || n ||
                                ' ---' || chr(10) || chr(10) || ptext,
                                '' ORDER BY n) AS raw,
                     max(p) AS pages
              FROM pages GROUP BY doc_id
            )
            SELECT doc_id, substr(raw, 3) AS text,
                   length(substr(raw, 3))::BIGINT AS chars, pages::INT AS pages
            FROM folded
        """,
        "extract_route_counts": """
            SELECT
              CASE WHEN doc_id % 10 IN (0,1,2,3,5,7) THEN 'printed'
                   WHEN doc_id % 10 IN (4,6,8) THEN 'handwriting'
                   ELSE 'error' END AS engine,
              CASE WHEN doc_id % 10 = 7 THEN 'PDF'
                   WHEN doc_id % 10 = 8 THEN 'Image'
                   WHEN doc_id % 10 = 9 THEN 'error'
                   WHEN doc_id % 20 = 14 THEN 'Text'
                   ELSE 'HTML' END AS doc_type,
              count(*) AS n_docs
            FROM documents GROUP BY 1, 2
        """,
        "extract_error_rows": """
            SELECT doc_id,
              CASE WHEN doc_id % 10 = 8 THEN 'handwriting' ELSE 'error' END AS engine,
              (CASE WHEN doc_id % 10 = 8 THEN length(text)
                    ELSE 0 END)::BIGINT AS chars,
              (CASE WHEN doc_id % 10 = 8 THEN 1 ELSE 0 END)::INT AS pages,
              CASE WHEN doc_id % 10 = 8 THEN 'Image' ELSE 'error' END AS doc_type,
              CASE WHEN doc_id % 10 = 8 THEN NULL
                   WHEN doc_id % 20 = 9 THEN 'empty payload'
                   ELSE 'unrecognized payload' END AS error
            FROM documents WHERE doc_id % 10 >= 8
        """,
        "structured_receipts": """
            SELECT doc_id,
                   'Store ' || (doc_id % 7) AS store_name,
                   '2024-01-' || lpad((1 + doc_id % 28)::VARCHAR, 2, '0') AS date,
                   ((doc_id % 1000) * 13 + 99)::BIGINT AS total_cents,
                   (1 + doc_id % 4)::INT AS n_items
            FROM documents WHERE doc_id % 10 = 5
        """,
        "structured_forms": """
            SELECT doc_id,
                   'Form ' || (doc_id % 5) AS form_name,
                   (2 + doc_id % 6)::INT AS n_fields,
                   'user' || (doc_id % 100) || '@example.org' AS contact_email
            FROM documents WHERE doc_id % 10 = 2
        """,
        "structured_price_tags": """
            SELECT doc_id,
                   'Product ' || (doc_id % 11) AS product_name,
                   ((doc_id % 500) * 7 + 49)::BIGINT AS price_cents,
                   'SKU-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') AS sku
            FROM documents WHERE doc_id % 10 = 3
        """,
        "analyze_metadata": """
            SELECT doc_id,
                   CASE WHEN doc_id % 20 = 14 THEN ''
                        ELSE (CASE doc_id % 10 WHEN 2 THEN 'table'
                              WHEN 3 THEN 'list' WHEN 4 THEN 'memo'
                              WHEN 5 THEN 'receipt' WHEN 6 THEN 'draft'
                              ELSE 'article' END) || ' ' || doc_id
                   END AS title,
                   CASE WHEN doc_id % 20 = 14 THEN ''
                        ELSE 'Example Site ' || (doc_id % 7) END AS h1,
                   doc_id % 10 <> 4 AS has_structure,
                   CASE WHEN doc_id % 20 = 14 THEN 'text'
                        WHEN doc_id % 10 = 4 THEN 'plain'
                        ELSE 'structured' END AS doc_class
            FROM documents WHERE doc_id % 10 <= 6
        """,
        "multi_step": f"""
            WITH {_RENDER_CTES}
            SELECT doc_id, gtext AS text, length(gtext)::BIGINT AS chars,
                   CASE WHEN doc_id % 20 = 14 THEN ''
                        ELSE (CASE doc_id % 10 WHEN 2 THEN 'table'
                              WHEN 3 THEN 'list' WHEN 4 THEN 'memo'
                              WHEN 5 THEN 'receipt' WHEN 6 THEN 'draft'
                              ELSE 'article' END) || ' ' || doc_id
                   END AS title,
                   doc_id % 10 = 5 AS has_receipt,
                   CASE WHEN doc_id % 10 = 5
                        THEN ((doc_id % 1000) * 13 + 99)::BIGINT END AS total_cents
            FROM gold WHERE doc_id % 10 <= 6
        """,
        "image_metadata": """
            SELECT doc_id,
                   CASE WHEN doc_id % 20 = 8 THEN 'jpeg' ELSE 'png' END AS format,
                   (100 + doc_id % 400)::INT AS width,
                   (80 + doc_id % 300)::INT AS height
            FROM documents WHERE doc_id % 10 = 8
        """,
        "image_resize": """
            WITH t AS (
              SELECT doc_id,
                     (100 + doc_id % 400)::INT AS sw,
                     (80 + doc_id % 300)::INT AS sh
              FROM documents WHERE doc_id % 10 = 8
            ), p AS (
              -- mirror operators.media.fit_box exactly: integer floor
              -- division, limiting side lands on the 128x128 box
              SELECT doc_id, sw, sh,
                     (CASE WHEN sw * 128 <= 128 * sh
                           THEN greatest(1, (sw * 128) // sh)
                           ELSE 128 END)::INT AS ow,
                     (CASE WHEN sw * 128 <= 128 * sh
                           THEN 128
                           ELSE greatest(1, (sh * 128) // sw) END)::INT AS oh
              FROM t
            )
            SELECT doc_id, sw AS src_w, sh AS src_h, ow AS out_w,
                   oh AS out_h, (ow * oh * 3)::BIGINT AS plan_bytes,
                   md5('resized://' || sw || 'x' || sh || '->'
                       || ow || 'x' || oh) AS resized_md5
            FROM p
        """,
        "frame_sample": """
            WITH v AS (
              SELECT doc_id, 300 * (1 + doc_id % 10) AS dur
              FROM documents WHERE doc_id % 2 = 1
            ), f AS (
              -- one frame every 300 ticks strictly before the duration
              SELECT doc_id, unnest(range((dur - 1) // 300 + 1)) AS fi
              FROM v
            )
            SELECT doc_id, fi::BIGINT AS frame_idx,
                   (fi * 300)::BIGINT AS ts_ticks,
                   (fi * 300 * 1000 // 600)::BIGINT AS ts_ms,
                   md5('frame://media://' || doc_id || '.bin@'
                       || (fi * 300)) AS frame_md5
            FROM f
        """,
        "media_metadata": """
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'audio' ELSE 'video' END
                     AS media_type,
                   CASE WHEN doc_id % 2 = 0 THEN 'wav' ELSE 'isom' END
                     AS format,
                   CASE WHEN doc_id % 2 = 0
                        THEN (1 + (doc_id % 4) // 2)::INT END AS channels,
                   CASE WHEN doc_id % 2 = 0 THEN (CASE doc_id % 3
                        WHEN 0 THEN 8000 WHEN 1 THEN 16000
                        ELSE 44100 END)::INT END AS sample_rate,
                   round(CASE WHEN doc_id % 2 = 0
                              THEN (1 + doc_id % 5)::DOUBLE
                              ELSE (1 + doc_id % 10) / 2.0 END, 4) AS dur_secs,
                   (CASE WHEN doc_id % 2 = 0 THEN 44 ELSE 60 END)::BIGINT
                     AS hdr_bytes
            FROM documents
        """,
        "image_features": """
            WITH t AS (
              SELECT doc_id,
                     (100 + doc_id % 400)::DOUBLE AS w,
                     (80 + doc_id % 300)::DOUBLE AS h,
                     octet_length(encode(text))::DOUBLE AS tb,
                     length(text) AS nc,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                       ::DOUBLE AS na,
                     length(regexp_replace(text, '[^0-9]', '', 'g'))
                       ::DOUBLE AS nd,
                     (doc_id % 20 = 8) AS is_jpeg
              FROM documents WHERE doc_id % 10 = 8
            ), f AS (
              -- payload size is header overhead + comment bytes:
              -- JPEG = SOI+COM hdr+SOF+entropy stub+EOI = 41; PNG = 57
              SELECT doc_id,
                     CASE WHEN is_jpeg THEN 41 + tb ELSE 57 + tb END AS nb,
                     w, h, tb, nc, na, nd, is_jpeg
              FROM t
            )
            SELECT doc_id,
                   array_to_string([
                     round(((w / 1024.0)::FLOAT)::DOUBLE * 1000000)::BIGINT,
                     round(((h / 1024.0)::FLOAT)::DOUBLE * 1000000)::BIGINT,
                     round(((w / h)::FLOAT)::DOUBLE * 1000000)::BIGINT,
                     round(((nb / 4096.0)::FLOAT)::DOUBLE * 1000000)::BIGINT,
                     round(((tb / nb)::FLOAT)::DOUBLE * 1000000)::BIGINT,
                     round(((na / greatest(1, nc))::FLOAT)::DOUBLE
                           * 1000000)::BIGINT,
                     round(((nd / greatest(1, nc))::FLOAT)::DOUBLE
                           * 1000000)::BIGINT,
                     CASE WHEN is_jpeg THEN 1000000 ELSE 0 END
                   ], ',') AS feature_csv,
                   8 AS feature_dim
            FROM f
        """,
        "host_skew_counts": f"""
            SELECT {_HOST_CASE} AS host, count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "corpus_cardinality": f"""
            WITH pages AS (
              SELECT 'https://' || {_HOST_CASE} || '/' || source || '/' ||
                     {_STEM_CASE} || '-' || doc_id || {_EXT_CASE} AS url,
                     {_HOST_CASE} AS host
              FROM documents
            )
            SELECT count(DISTINCT url) AS n_urls,
                   count(DISTINCT host) AS n_hosts
            FROM pages
        """,
        "latest_event_per_user": """
            SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
                   round(value, 4) AS value_r
            FROM (
              SELECT *, row_number() OVER (
                PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events
            ) WHERE rn = 1
        """,
        "resume_anti_join": """
            SELECT doc_id, n_chars FROM documents
            WHERE doc_id NOT IN (
              SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
        """,
        "pack_sequences": """
            WITH t AS (
              SELECT doc_id, doc_id % 8 AS bucket,
                     len(string_split(text, ' '))::INT AS tokens
              FROM documents)
            SELECT doc_id, bucket,
                   (floor((sum(tokens) OVER (PARTITION BY bucket
                             ORDER BY doc_id) - tokens) / 2048))::INT
                     AS bin_id,
                   tokens
            FROM t
        """,
        "normalize_embeddings": """
            SELECT vec_id,
                   array_to_string(list_transform(embedding, x ->
                     (round(round(x::DOUBLE /
                        sqrt(list_sum(list_transform(embedding,
                             y -> y::DOUBLE * y::DOUBLE))), 6)
                        * 1000000)::BIGINT)::VARCHAR), ',') AS unit_u6,
                   round(sqrt(list_sum(list_transform(embedding,
                          y -> y::DOUBLE * y::DOUBLE))), 6) AS norm
            FROM embeddings
        """,
        "quantize_embeddings": """
            WITH m AS (
              SELECT vec_id, embedding,
                     CASE WHEN list_max(list_transform(embedding,
                            x -> abs(x::DOUBLE))) = 0 THEN 1.0
                          ELSE list_max(list_transform(embedding,
                            x -> abs(x::DOUBLE))) END AS ma
              FROM embeddings)
            SELECT vec_id,
                   array_to_string(list_transform(embedding,
                     x -> (round(x::DOUBLE * 127 / ma)::INT)::VARCHAR),
                     ',') AS qvec_csv,
                   round(ma / 127, 6) AS scale
            FROM m
        """,
        "dedup_components": """
            WITH RECURSIVE
            base AS (
              SELECT doc_id AS a, doc_id + 1 AS b FROM documents
              WHERE doc_id % 10 < 2
              UNION ALL
              SELECT doc_id AS a, 2 * doc_id AS b FROM documents
              WHERE doc_id % 97 = 0 AND doc_id > 0),
            edges AS (
              SELECT a AS src, b AS dst FROM base
              UNION
              SELECT b AS src, a AS dst FROM base),
            reach(node, r) AS (
              SELECT src AS node, src AS r FROM edges
              UNION
              SELECT e.dst AS node, reach.r
              FROM reach JOIN edges e ON reach.node = e.src)
            SELECT node, min(r) AS label FROM reach GROUP BY node
        """,
        "hash_split": """
            SELECT doc_id,
                   CASE WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'e666'
                          THEN 'train'
                        WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'f333'
                          THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "family_split": """
            WITH RECURSIVE
            base AS (
              SELECT doc_id AS a, doc_id + 1 AS b FROM documents
              WHERE doc_id % 10 < 2
              UNION ALL
              SELECT doc_id AS a, 2 * doc_id AS b FROM documents
              WHERE doc_id % 97 = 0 AND doc_id > 0),
            edges AS (
              SELECT a AS src, b AS dst FROM base
              UNION
              SELECT b AS src, a AS dst FROM base),
            reach(node, r) AS (
              SELECT src AS node, src AS r FROM edges
              UNION
              SELECT e.dst AS node, reach.r
              FROM reach JOIN edges e ON reach.node = e.src),
            labels AS (
              SELECT node, min(r) AS label FROM reach GROUP BY node),
            fam AS (
              SELECT d.doc_id,
                     coalesce(l.label, d.doc_id) AS family
              FROM documents d LEFT JOIN labels l ON d.doc_id = l.node)
            SELECT doc_id, family,
                   CASE WHEN substr(md5(family::VARCHAR), 1, 4) < 'e666'
                          THEN 'train'
                        WHEN substr(md5(family::VARCHAR), 1, 4) < 'f333'
                          THEN 'val'
                        ELSE 'test' END AS split
            FROM fam
        """,
        "topic_mix": """
            WITH pts AS (SELECT vec_id, embedding AS v FROM embeddings),
            seeds AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cluster,
                     embedding AS cv
              FROM embeddings ORDER BY vec_id LIMIT 8),
            s0 AS (
              SELECT p.vec_id, s.cluster,
                list_sum(list_transform(range(1, 1 + len(p.v)),
                         i -> p.v[i]::DOUBLE * s.cv[i]::DOUBLE))
                / (sqrt(list_sum(list_transform(p.v, x -> x::DOUBLE * x::DOUBLE)))
                   * sqrt(list_sum(list_transform(s.cv, x -> x::DOUBLE * x::DOUBLE)))
                   + 1e-12) AS sim
              FROM pts p, seeds s),
            a0 AS (
              SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
                FROM s0) WHERE rn = 1),
            pv AS (
              SELECT a.cluster, p.v, unnest(range(len(p.v))) AS pos
              FROM a0 a JOIN pts p USING (vec_id)),
            means AS (
              SELECT cluster, pos,
                     (sum(CAST(v[(pos + 1)::INT]::DOUBLE AS DECIMAL(28,12))))::DOUBLE
                     / count(*) AS m
              FROM pv GROUP BY cluster, pos),
            cents AS (
              SELECT cluster, list(m ORDER BY pos) AS cv
              FROM means GROUP BY cluster),
            s1 AS (
              SELECT p.vec_id, c.cluster,
                list_sum(list_transform(range(1, 1 + len(p.v)),
                         i -> p.v[i]::DOUBLE * c.cv[i]))
                / (sqrt(list_sum(list_transform(p.v, x -> x::DOUBLE * x::DOUBLE)))
                   * sqrt(list_sum(list_transform(c.cv, x -> x * x)))
                   + 1e-12) AS sim
              FROM pts p, cents c),
            a1 AS (
              SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
                FROM s1) WHERE rn = 1),
            per AS (
              SELECT a1.cluster, count(*) AS n_docs,
                     sum(len(string_split(d.text, ' ')))::BIGINT AS n_tokens
              FROM a1 JOIN documents d ON d.doc_id = a1.vec_id
              GROUP BY 1),
            tot AS (
              SELECT sum(round(sqrt(n_tokens), 4)::DECIMAL(18,4)) AS denom,
                     sum(n_tokens)::BIGINT AS total
              FROM per)
            SELECT cluster::INT AS cluster, n_docs, n_tokens,
                   round(n_tokens / total, 6) AS token_share,
                   round(round(sqrt(n_tokens), 4) / denom::DOUBLE, 6)
                     AS weight
            FROM per, tot
        """,
        "shard_plan": f"""
            WITH t AS (
              SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
              FROM documents),
            b AS (
              SELECT doc_id, n_tokens,
                     length(format('{{:b}}', n_tokens)) AS band,
                     ({_md5_u32_sql("'shard|' || doc_id::VARCHAR")}) % 256
                       AS cell
              FROM t),
            r AS (
              SELECT n_tokens, band, cell,
                     row_number() OVER (PARTITION BY band, cell
                                        ORDER BY doc_id) AS rn
              FROM b)
            SELECT ((rn - 1 + band + cell) % 8)::INT AS shard,
                   count(*) AS n_docs, sum(n_tokens)::BIGINT AS tokens
            FROM r GROUP BY 1
        """,
        "deterministic_sample": """
            SELECT doc_id, n_chars FROM documents
            WHERE substr(md5(doc_id::VARCHAR), 1, 4) < '4000'
        """,
        "line_filter": """
            WITH inp AS (
              SELECT doc_id,
                     text || '.' || chr(10) || 'short line' || chr(10)
                     || 'Please enable javascript to view this page.'
                     || chr(10)
                     || 'This site uses cookie consent banners everywhere.'
                       AS t
              FROM documents),
            lists AS (
              SELECT doc_id, string_split(t, chr(10)) AS l,
                     list_filter(string_split(t, chr(10)), x ->
                       len(string_split(trim(x), ' ')) >= 5
                       AND regexp_matches(x, '[.!?]$')
                       AND NOT contains(lower(x), 'javascript')
                       AND NOT contains(lower(x), 'cookie')
                       AND NOT contains(lower(x), 'lorem ipsum')) AS kept
              FROM inp)
            SELECT doc_id, len(l)::INT AS n_lines,
                   len(kept)::INT AS n_lines_kept,
                   coalesce(array_to_string(kept, chr(10)), '') AS clean_text
            FROM lists
        """,
        "boilerplate_paragraphs": """
            WITH inp AS (
              SELECT doc_id,
                     'subscribe to our newsletter today' || chr(10) || chr(10)
                     || text ||
                     CASE WHEN doc_id % 4 = 0
                          THEN chr(10) || chr(10) || 'follow us on social media'
                          ELSE chr(10) || chr(10) || 'unique tail ' || doc_id
                     END AS t
              FROM documents),
            paras AS (
              SELECT doc_id,
                     unnest(string_split(t, chr(10) || chr(10))) AS para
              FROM inp),
            agg AS (
              SELECT md5(para) AS ph,
                     count(DISTINCT doc_id)::BIGINT AS n_docs,
                     count(*)::BIGINT AS n_total,
                     min(para) AS paragraph
              FROM paras GROUP BY 1
              HAVING count(DISTINCT doc_id) >= 2)
            SELECT paragraph, n_docs, n_total
            FROM agg ORDER BY n_docs DESC, ph LIMIT 20
        """,
        "paragraph_dedup": """
            WITH inp AS (
              SELECT doc_id,
                     'subscribe to our newsletter today' || chr(10) || chr(10)
                     || text ||
                     CASE WHEN doc_id % 4 = 0
                          THEN chr(10) || chr(10) || 'follow us on social media'
                          ELSE chr(10) || chr(10) || 'unique tail ' || doc_id
                     END AS t
              FROM documents),
            lists AS (
              SELECT doc_id, string_split(t, chr(10) || chr(10)) AS l
              FROM inp),
            pos AS (
              SELECT doc_id, l, unnest(range(len(l))) AS i FROM lists),
            paras AS (SELECT doc_id, i, l[i + 1] AS para FROM pos),
            dup AS (
              SELECT para FROM paras GROUP BY para HAVING count(*) >= 2),
            kept AS (
              SELECT doc_id, i, para FROM paras
              WHERE para NOT IN (SELECT para FROM dup)),
            outp AS (
              SELECT doc_id,
                     string_agg(para, chr(10) || chr(10) ORDER BY i) AS text,
                     count(*)::INT AS n_paras_kept
              FROM kept GROUP BY doc_id)
            SELECT o.doc_id, o.text, len(l.l)::INT AS n_paras_in,
                   o.n_paras_kept
            FROM outp o JOIN lists l ON o.doc_id = l.doc_id
        """,
        "pii_scrub": f"""
            WITH base AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id
                          || '@mail.example.com or 10.0.'
                          || (doc_id % 256) || '.' || ((doc_id * 7) % 256)
                          || CASE WHEN doc_id % 3 = 0
                             THEN ' ring +1 555 010 '
                                  || lpad((doc_id % 10000)::VARCHAR, 4, '0')
                             ELSE '' END AS t
              FROM documents)
            SELECT doc_id,
                   len(regexp_extract_all(t, '{_PII_EMAIL}'))::INT AS n_emails,
                   len(regexp_extract_all(t, '{_PII_IPV4}'))::INT AS n_ipv4,
                   len(regexp_extract_all(t, '{_PII_PHONE}'))::INT AS n_phones,
                   regexp_replace(regexp_replace(regexp_replace(
                     t, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                     '{_PII_IPV4}', '[IP]', 'g'),
                     '{_PII_PHONE}', '[PHONE]', 'g') AS scrubbed,
                   (len(regexp_extract_all(t, '{_PII_EMAIL}')) = 0
                    AND len(regexp_extract_all(t, '{_PII_IPV4}')) = 0
                    AND len(regexp_extract_all(t, '{_PII_PHONE}')) = 0)
                     AS pii_free
            FROM base
        """,
        "resume_anti_join_bloom": """
            SELECT doc_id, n_chars FROM documents
            WHERE doc_id NOT IN (
              SELECT doc_id FROM documents WHERE doc_id % 7 = 0)
        """,
        "extract_text_plain": """
            SELECT doc_id, text, length(text)::BIGINT AS chars,
                   'handwriting' AS engine, 'Text' AS doc_type
            FROM documents WHERE doc_id % 20 = 14
        """,
        "extract_image_text": """
            SELECT doc_id, text, length(text)::BIGINT AS chars,
                   'handwriting' AS engine, 'Image' AS doc_type
            FROM documents WHERE doc_id % 10 = 8
        """,
        "politeness_waves": f"""
            WITH u AS (
              SELECT doc_id, {_HOST_CASE} AS host,
                     'https://' || {_HOST_CASE} || '/' || source || '/' ||
                     {_STEM_CASE} || '-' || doc_id || {_EXT_CASE} AS url
              FROM documents
            )
            SELECT doc_id,
                   ((row_number() OVER (PARTITION BY host ORDER BY url) - 1)
                    // 16)::INT AS wave
            FROM u
        """,
        "top_docs_by_chars": """
            SELECT doc_id, n_chars FROM documents
            ORDER BY n_chars DESC, doc_id ASC LIMIT 20
        """,
        "report_cube": """
            SELECT lang, source, count(*) AS n_docs,
                   sum(n_chars)::BIGINT AS sum_value,
                   round(avg(n_chars), 4) AS avg_value
            FROM documents GROUP BY CUBE (lang, source)
        """,
        "range_join_binned": """
            WITH iv AS (
              SELECT 'c' || i AS size_class, i * 150 AS lo,
                     (i + 1) * 150 AS hi
              FROM (SELECT unnest(range(20)) AS i))
            SELECT d.doc_id, d.n_chars, iv.size_class
            FROM documents d JOIN iv
              ON d.n_chars >= iv.lo AND d.n_chars < iv.hi
        """,
        "time_rollup": """
            SELECT 'hour' AS grain,
                   strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
                     AS bucket,
                   event_type, count(*) AS n_events,
                   round(sum(value::DECIMAL(18,4))::DOUBLE, 2) AS sum_value
            FROM events GROUP BY 2, 3
            UNION ALL
            SELECT 'day', strftime(date_trunc('day', ts),
                                   '%Y-%m-%d %H:%M:%S'),
                   event_type, count(*),
                   round(sum(value::DECIMAL(18,4))::DOUBLE, 2)
            FROM events GROUP BY 2, 3
        """,
        "quantile_report": """
            SELECT lang, count(*) AS n_docs,
                   round(quantile_cont(n_chars, 0.5), 4) AS p50,
                   round(quantile_cont(n_chars, 0.9), 4) AS p90,
                   round(quantile_cont(n_chars, 0.99), 4) AS p99
            FROM documents GROUP BY lang
        """,
        "as_of_join": """
            WITH r0 AS (
              SELECT user_id, ts, value,
                     row_number() OVER (PARTITION BY user_id, ts
                                        ORDER BY event_id DESC) AS rn
              FROM events WHERE event_id % 5 = 0),
            r AS (SELECT user_id, ts, value FROM r0 WHERE rn = 1),
            l AS (SELECT user_id, event_id, ts, event_type FROM events)
            SELECT l.user_id, l.event_id, epoch_us(l.ts) AS ts_us,
                   l.event_type, round(r.value, 4) AS snap_value
            FROM l ASOF LEFT JOIN r
              ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "lang_summary": """
            SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS total_value,
                   round(avg(n_chars), 4) AS avg_value
            FROM documents GROUP BY lang
        """,
        "dedup_exact": """
            SELECT md5(text) AS fingerprint, min(doc_id) AS keeper,
                   count(*) AS copies
            FROM documents GROUP BY 1
        """,
        "ngram_jaccard_pairs": f"""
            WITH {_SHINGLES_CTE}, {_JPAIRS_CTES}
            SELECT a, b, inter,
                   round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
        """,
        "minhash_accuracy_eval": f"""
            WITH {_SHINGLES_CTE}, {_JPAIRS_CTES}, {_LSH_PAIRS_CTES},
            ag AS (
              SELECT p.a, p.b,
                     sum(CASE WHEN xa.m = xb.m THEN 1 ELSE 0 END)::BIGINT
                       AS agree
              FROM pairs p
              JOIN sig xa ON xa.doc_id = p.a
              JOIN sig xb ON xb.doc_id = p.b AND xb.j = xa.j
              GROUP BY 1, 2),
            je AS (
              SELECT g.agree, i.inter, sa.n + sb.n - i.inter AS u
              FROM ag g
              JOIN inter i ON i.a = g.a AND i.b = g.b
              JOIN sizes sa ON sa.doc_id = g.a
              JOIN sizes sb ON sb.doc_id = g.b),
            er AS (
              SELECT least((inter * 20) // u, 19)::INT AS bucket,
                     round(abs(agree / 8 - inter / u), 6)::DECIMAL(18,6)
                       AS err
              FROM je)
            SELECT bucket, round(bucket / 20.0, 4) AS lo,
                   count(*)::BIGINT AS n_pairs,
                   round(sum(err)::DOUBLE / count(*), 4) AS mean_abs_err
            FROM er GROUP BY 1
        """,
        "jaccard_histogram": f"""
            WITH {_SHINGLES_CTE}, {_JPAIRS_CTES},
            ju AS (
              SELECT inter AS i, sa.n + sb.n - inter AS u
              FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b),
            h AS (SELECT least((i * 20) // u, 19)::INT AS bucket FROM ju)
            SELECT bucket, round(bucket / 20.0, 4) AS lo,
                   count(*)::BIGINT AS n_pairs
            FROM h GROUP BY 1
        """,
        "host_template_entropy": f"""
            WITH m AS (
              SELECT {_HOST_CASE} AS host, {_STEM_CASE} AS cat
              FROM documents),
            counts AS (
              SELECT host, cat, count(*)::BIGINT AS c FROM m GROUP BY 1, 2),
            tot AS (SELECT host, sum(c)::BIGINT AS n FROM counts GROUP BY 1),
            terms AS (
              SELECT c.host, t.n,
                     round(-(c.c / t.n) * round(ln(c.c / t.n), 8),
                           6)::DECIMAL(18,6) AS term
              FROM counts c JOIN tot t USING (host))
            SELECT host, max(n)::BIGINT AS n_rows,
                   count(*)::BIGINT AS n_cats,
                   round(sum(term)::DOUBLE, 4) AS entropy
            FROM terms GROUP BY host
        """,
        "retrieval_rerank": f"""
            WITH {_bm25_ctes("('vector', 'merge', 'table')")},
            cand AS (
              SELECT doc_id, round(sum(s)::DOUBLE, 4) AS bm25
              FROM bm25s GROUP BY doc_id
              ORDER BY bm25 DESC, doc_id LIMIT 50),
            q AS (SELECT vec_id AS query_id, embedding AS qv
                  FROM embeddings WHERE vec_id < 3),
            c AS (SELECT e.vec_id AS neighbor_id, e.embedding AS cv, b.bm25
                  FROM embeddings e JOIN cand b ON b.doc_id = e.vec_id),
            rescored AS (
              SELECT query_id, neighbor_id, bm25,
                round(
                  list_sum(list_transform(range(1, 1 + len(qv)),
                           i -> qv[i]::DOUBLE * cv[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE)))
                     * sqrt(list_sum(list_transform(cv, x -> x::DOUBLE * x::DOUBLE)))),
                  4) AS cosine
              FROM q, c
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY cosine DESC, neighbor_id) AS rnk
              FROM rescored
            )
            SELECT query_id, neighbor_id, cosine, rnk::INT AS rnk, bm25
            FROM ranked WHERE rnk <= 5
        """,
        "bm25_topk": f"""
            WITH {_bm25_ctes("('vector', 'merge', 'table')")}
            SELECT doc_id, round(sum(s)::DOUBLE, 4) AS score
            FROM bm25s GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT 10
        """,
        "compaction_plan": """
            WITH f AS (
              SELECT source AS part, doc_id % 17 AS file_id,
                     sum(n_chars)::BIGINT AS bytes
              FROM documents GROUP BY 1, 2),
            c AS (
              SELECT part, file_id, bytes,
                     coalesce(sum(bytes) OVER (
                       PARTITION BY part ORDER BY file_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS cb
              FROM f)
            SELECT part, file_id, bytes, (cb // 3000)::BIGINT AS grp FROM c
        """,
        "host_trustrank": _trustrank_oracle(3),
        "robots_rule_stats": f"""
            WITH u AS (
              SELECT DISTINCT
                     'https://' || {_HOST_CASE} || '/' || source || '/' ||
                     {_STEM_CASE} || '-' || doc_id || {_EXT_CASE} AS url,
                     {_HOST_CASE} AS host,
                     '/' || source || '/' || {_STEM_CASE} || '-' || doc_id
                     || {_EXT_CASE} AS path
              FROM documents
            ),
            r AS (
              SELECT * FROM (VALUES {", ".join(
                  f"('{h}', '{d}')" for h, d in _ROBOTS_RULES
              )}) t(rhost, dis)
            ),
            m AS (
              SELECT u.url, u.host,
                     max(CASE WHEN r.dis IS NOT NULL
                         THEN lpad(length(r.dis)::VARCHAR, 3, '0') || r.dis
                         END) AS rk
              FROM u LEFT JOIN r
                ON r.rhost = u.host AND starts_with(u.path, r.dis)
              GROUP BY 1, 2
            ),
            blocked AS (
              SELECT host, substr(rk, 4) AS rule, count(*)::BIGINT AS n
              FROM m WHERE rk IS NOT NULL GROUP BY 1, 2
            )
            SELECT r.rhost AS host, r.dis AS rule,
                   coalesce(b.n, 0)::BIGINT AS n_blocked,
                   coalesce(b.n, 0) > 0 AS fires
            FROM r LEFT JOIN blocked b
              ON b.host = r.rhost AND b.rule = r.dis
        """,
        "minhash_band_recall": _minhash_band_recall_oracle(),
        "containment_histogram": f"""
            WITH {_SHINGLES_CTE}, {_JPAIRS_CTES},
            cu AS (
              SELECT inter AS i, least(sa.n, sb.n) AS m
              FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b),
            h AS (SELECT least((i * 20) // m, 19)::INT AS bucket FROM cu)
            SELECT bucket, round(bucket / 20.0, 4) AS lo,
                   count(*)::BIGINT AS n_pairs
            FROM h GROUP BY 1
        """,
        "quality_by_crawl_round": f"""
            WITH {_DOMQ_CTES},
            q AS (
              SELECT doc_id,
                     (n_words >= 10 AND mean_wl >= 2.0 AND mean_wl <= 12.0
                      AND stop_ratio >= 0.01) AS ok
              FROM dqq),
            r AS (
              SELECT 0 AS round, ok FROM q
              UNION ALL
              SELECT 1 AS round, ok FROM q WHERE doc_id % 5 = 0)
            SELECT round, count(*)::BIGINT AS n_docs,
                   sum(ok::INT)::BIGINT AS n_ok,
                   round(sum(ok::INT) * 1.0 / count(*), 4) AS ok_rate
            FROM r GROUP BY round
        """,
        "wave_makespan": _wave_makespan_oracle(),
        "wave_makespan_mix": _wave_makespan_mix_oracle(),
        "bpe_learn": _bpe_learn_oracle(k=6),
        "simhash_band_recall": _simhash_band_recall_oracle(),
        "crawl_priority": f"""
            WITH {_EDGES_CTES},
            {_trustrank_ctes(3)},
            {_DOMQ_CTES},
            pq AS (
              SELECT t.host, t.trust,
                     round(g.n_ok * 1.0 / g.n_docs, 4) AS ok_rate
              FROM ttr t JOIN dqg g USING (host)),
            pr AS (
              SELECT host, trust, ok_rate,
                     round(trust * ok_rate, 6) AS priority
              FROM pq)
            SELECT host, trust, ok_rate, priority,
                   row_number() OVER (ORDER BY priority DESC, host)::INT
                     AS rank
            FROM pr
        """,
        "pretraining_export": f"""
            WITH RECURSIVE {_SHINGLES_CTE},
            {_LSH_COMP_CTES},
            {_VERDICT_CTES},
            fam AS (
              SELECT d.doc_id, d.text,
                     coalesce(c.label, d.doc_id) AS family
              FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
            kept AS (
              SELECT f.doc_id, f.text,
                     CASE WHEN substr(md5(f.family::VARCHAR), 1, 4) < 'e666'
                            THEN 'train'
                          WHEN substr(md5(f.family::VARCHAR), 1, 4) < 'f333'
                            THEN 'val'
                          ELSE 'test' END AS split
              FROM fam f JOIN verdict v ON v.doc_id = f.doc_id
              WHERE f.doc_id = f.family AND v.vreason = 'ok'),
            tok AS (
              SELECT doc_id, split,
                     len(string_split(text, ' ')) AS n_tokens
              FROM kept),
            bnd AS (
              SELECT doc_id, split, n_tokens,
                     length(format('{{:b}}', n_tokens)) AS band,
                     ({_md5_u32_sql("'shard|' || doc_id::VARCHAR")}) % 256
                       AS cell
              FROM tok),
            r AS (
              SELECT split, n_tokens, band, cell,
                     row_number() OVER (PARTITION BY split, band, cell
                                        ORDER BY doc_id) AS rn
              FROM bnd)
            SELECT split, ((rn - 1 + band + cell) % 4)::INT AS shard,
                   count(*) AS n_docs, sum(n_tokens)::BIGINT AS tokens
            FROM r GROUP BY 1, 2
        """,
        "containment_pairs": f"""
            WITH {_SHINGLES_CTE},
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            ok AS (SELECT shingle FROM sh GROUP BY 1
                   HAVING count(*) BETWEEN 2 AND 1000),
            inter AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              JOIN ok ON ok.shingle = a.shingle
              GROUP BY 1, 2
            )
            SELECT a, b, inter,
                   round(inter * 1.0 / least(sa.n, sb.n), 4) AS containment,
                   CASE WHEN sa.n <= sb.n THEN a ELSE b END AS contained_id
            FROM inter
            JOIN sizes sa ON sa.doc_id = a
            JOIN sizes sb ON sb.doc_id = b
        """,
        "minhash_lsh_candidates": f"""
            WITH {_SHINGLES_CTE},
            sig AS (
              SELECT doc_id, g.j AS j,
                     min(md5(g.j || '|' || shingle)) AS m
              FROM sh, generate_series(0, 7) AS g(j)
              GROUP BY doc_id, g.j
            ),
            bands AS (
              SELECT doc_id, j // 2 AS band,
                     md5(string_agg(m, '' ORDER BY j)) AS bucket
              FROM sig GROUP BY doc_id, j // 2
            )
            SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.bucket = b.bucket
              AND a.doc_id < b.doc_id
        """,
        "training_batches": """
            WITH keep0 AS (
              SELECT md5(text) AS fp, min(doc_id) AS keeper
              FROM documents GROUP BY 1),
            w AS (SELECT doc_id, text, string_split(text, ' ') AS w
                  FROM documents),
            q AS (
              SELECT doc_id, w,
                     len(w) AS n_words,
                     round((length(text) - (len(w) - 1)) * 1.0 / len(w), 4)
                       AS mean_wl,
                     round(len(list_filter(w, x -> x IN
                           ('the','a','of','to','and','in','is')))
                           * 1.0 / len(w), 4) AS stop_ratio
              FROM w),
            counts AS (
              SELECT doc_id, count(*) AS c
              FROM (SELECT doc_id, unnest(w) AS word FROM w)
              GROUP BY doc_id, word),
            top AS (SELECT doc_id, max(c) AS topc FROM counts GROUP BY 1),
            kg AS (
              SELECT doc_id,
                     CASE WHEN len(w) >= 5
                          THEN list_transform(range(1, len(w) - 3),
                               i -> array_to_string(w[i : i + 4], ' '))
                          ELSE [] END AS gs
              FROM w),
            flags AS (
              SELECT q.doc_id,
                     (q.n_words >= 10 AND q.mean_wl >= 2.0
                      AND q.mean_wl <= 12.0 AND q.stop_ratio >= 0.01)
                       AS quality_ok,
                     (round(len(list_distinct(q.w)) * 1.0 / q.n_words, 4)
                        >= 0.2
                      AND round(t.topc * 1.0 / q.n_words, 4) <= 0.3
                      AND (CASE WHEN len(k.gs) > 0
                           THEN round(1 - len(list_distinct(k.gs)) * 1.0
                                      / len(k.gs), 4)
                           ELSE 0.0 END) <= 0.6) AS repetition_ok
              FROM q
              JOIN top t ON t.doc_id = q.doc_id
              JOIN kg k ON k.doc_id = q.doc_id),
            kept AS (
              SELECT d.doc_id
              FROM documents d
              JOIN keep0 kk ON md5(d.text) = kk.fp
              JOIN flags f ON f.doc_id = d.doc_id
              WHERE d.doc_id = kk.keeper
                AND f.quality_ok AND f.repetition_ok),
            cw AS (SELECT w.doc_id, w.w FROM w JOIN kept USING (doc_id)),
            meta AS (
              SELECT doc_id, w,
                     CASE WHEN len(w) <= 32 THEN 1
                          ELSE ceil((len(w) - 32) / 24)::INT + 1 END AS nc
              FROM cw),
            ch AS (
              SELECT doc_id, w, unnest(range(nc)) AS cid FROM meta),
            t AS (
              SELECT doc_id, cid,
                     doc_id * 1024 + cid AS ck,
                     (doc_id * 1024 + cid) % 8 AS bucket,
                     len(w[cid * 24 + 1 : cid * 24 + 32])::INT AS tokens
              FROM ch)
            SELECT doc_id, cid::INT AS chunk_id, bucket,
                   (floor((sum(tokens) OVER (PARTITION BY bucket
                             ORDER BY ck) - tokens) / 256))::INT AS bin_id,
                   tokens
            FROM t
        """,
        "cross_corpus_dedup": f"""
            WITH {_SHINGLES_CTE},
            sig AS (
              SELECT doc_id, g.j AS j,
                     min(md5(g.j || '|' || shingle)) AS m
              FROM sh, generate_series(0, 7) AS g(j)
              GROUP BY doc_id, g.j
            ),
            bands AS (
              SELECT doc_id, j // 2 AS band,
                     md5(string_agg(m, '' ORDER BY j)) AS bucket
              FROM sig GROUP BY doc_id, j // 2
            ),
            pairs AS (
              SELECT DISTINCT n.doc_id AS k, r.doc_id AS ref
              FROM bands n JOIN bands r
                ON n.band = r.band AND n.bucket = r.bucket
              WHERE n.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
            )
            SELECT k AS doc_id, count(*)::BIGINT AS n_ref_hits,
                   min(ref) AS first_ref
            FROM pairs GROUP BY k
        """,
        "winnow_fingerprints": f"""
            WITH {_winnow_ctes("documents")}
            SELECT doc_id, fingerprint FROM wfp
        """,
        "winnow_near_pairs": f"""
            WITH docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 3000000,
                     array_to_string(string_split(text, ' ')[1:40], ' ')
                     || ' unique continuation ' || doc_id
              FROM documents WHERE doc_id % 9 = 0
            ),
            {_winnow_ctes("docs")},
            ok AS (SELECT fingerprint FROM wfp GROUP BY 1
                   HAVING count(*) BETWEEN 2 AND 1000),
            pr AS (
              SELECT a.doc_id AS a, b.doc_id AS b,
                     count(*)::BIGINT AS n_shared
              FROM wfp a JOIN wfp b
                ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
              JOIN ok ON ok.fingerprint = a.fingerprint
              GROUP BY 1, 2)
            SELECT a, b, n_shared FROM pr WHERE n_shared >= 2
        """,
        "token_counts": """
            SELECT doc_id,
                   len(string_split(text, ' '))::INT AS n_ws_tokens,
                   len(regexp_extract_all(lower(text), '[a-z0-9]+'))::INT
                     AS n_re_tokens
            FROM documents
        """,
        "curation_verdict": f"""
            WITH base AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 11 = 7 THEN '{_DUP_TEXT}'
                          ELSE text END AS text
              FROM documents),
            keep AS (
              SELECT md5(text) AS fp, min(doc_id) AS keeper
              FROM base GROUP BY 1),
            w AS (SELECT doc_id, text, string_split(text, ' ') AS w
                  FROM base),
            q AS (
              SELECT doc_id, w,
                     len(w) AS n_words,
                     round((length(text) - (len(w) - 1)) * 1.0 / len(w), 4)
                       AS mean_wl,
                     round(len(list_filter(w, x -> x IN
                           ('the','a','of','to','and','in','is')))
                           * 1.0 / len(w), 4) AS stop_ratio
              FROM w),
            counts AS (
              SELECT doc_id, count(*) AS c
              FROM (SELECT doc_id, unnest(w) AS word FROM w)
              GROUP BY doc_id, word),
            top AS (SELECT doc_id, max(c) AS topc FROM counts GROUP BY 1),
            kg AS (
              SELECT doc_id,
                     CASE WHEN len(w) >= 5
                          THEN list_transform(range(1, len(w) - 3),
                               i -> array_to_string(w[i : i + 4], ' '))
                          ELSE [] END AS gs
              FROM w),
            flags AS (
              SELECT q.doc_id,
                     (q.n_words >= 10 AND q.mean_wl >= 2.0
                      AND q.mean_wl <= 12.0 AND q.stop_ratio >= 0.01)
                       AS quality_ok,
                     (round(len(list_distinct(q.w)) * 1.0 / q.n_words, 4)
                        >= 0.2
                      AND round(t.topc * 1.0 / q.n_words, 4) <= 0.3
                      AND (CASE WHEN len(k.gs) > 0
                           THEN round(1 - len(list_distinct(k.gs)) * 1.0
                                      / len(k.gs), 4)
                           ELSE 0.0 END) <= 0.6) AS repetition_ok
              FROM q
              JOIN top t ON t.doc_id = q.doc_id
              JOIN kg k ON k.doc_id = q.doc_id),
            verdict AS (
              SELECT b.doc_id,
                     CASE WHEN b.doc_id <> kk.keeper THEN 'duplicate'
                          WHEN NOT f.quality_ok THEN 'quality'
                          WHEN NOT f.repetition_ok THEN 'repetition'
                          ELSE 'ok' END AS reason
              FROM base b
              JOIN keep kk ON md5(b.text) = kk.fp
              JOIN flags f ON f.doc_id = b.doc_id)
            SELECT doc_id, reason, reason = 'ok' AS keep FROM verdict
        """,
        "curate_corpus_incremental": f"""
            WITH {_SHINGLES_CTE},
            sig AS (
              SELECT doc_id, g.j AS j,
                     min(md5(g.j || '|' || shingle)) AS m
              FROM sh, generate_series(0, 7) AS g(j)
              GROUP BY doc_id, g.j
            ),
            bands AS (
              SELECT doc_id, j // 2 AS band,
                     md5(string_agg(m, '' ORDER BY j)) AS bucket
              FROM sig GROUP BY doc_id, j // 2
            ),
            pairs AS (
              SELECT DISTINCT n.doc_id AS k, r.doc_id AS ref
              FROM bands n JOIN bands r
                ON n.band = r.band AND n.bucket = r.bucket
              WHERE n.doc_id % 10 = 0 AND r.doc_id % 10 <> 0
            ),
            hits AS (
              SELECT k, count(*)::BIGINT AS n_ref_hits, min(ref) AS first_ref
              FROM pairs GROUP BY k
            ),
            base AS (
              SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
            keep AS (
              SELECT md5(text) AS fp, min(doc_id) AS keeper
              FROM base GROUP BY 1),
            bw AS (SELECT doc_id, text, string_split(text, ' ') AS w
                   FROM base),
            q AS (
              SELECT doc_id, w,
                     len(w) AS n_words,
                     round((length(text) - (len(w) - 1)) * 1.0 / len(w), 4)
                       AS mean_wl,
                     round(len(list_filter(w, x -> x IN
                           ('the','a','of','to','and','in','is')))
                           * 1.0 / len(w), 4) AS stop_ratio
              FROM bw),
            counts AS (
              SELECT doc_id, count(*) AS c
              FROM (SELECT doc_id, unnest(w) AS word FROM bw)
              GROUP BY doc_id, word),
            top AS (SELECT doc_id, max(c) AS topc FROM counts GROUP BY 1),
            kg AS (
              SELECT doc_id,
                     CASE WHEN len(w) >= 5
                          THEN list_transform(range(1, len(w) - 3),
                               i -> array_to_string(w[i : i + 4], ' '))
                          ELSE [] END AS gs
              FROM bw),
            flags AS (
              SELECT q.doc_id,
                     (q.n_words >= 10 AND q.mean_wl >= 2.0
                      AND q.mean_wl <= 12.0 AND q.stop_ratio >= 0.01)
                       AS quality_ok,
                     (round(len(list_distinct(q.w)) * 1.0 / q.n_words, 4)
                        >= 0.2
                      AND round(t.topc * 1.0 / q.n_words, 4) <= 0.3
                      AND (CASE WHEN len(k.gs) > 0
                           THEN round(1 - len(list_distinct(k.gs)) * 1.0
                                      / len(k.gs), 4)
                           ELSE 0.0 END) <= 0.6) AS repetition_ok
              FROM q
              JOIN top t ON t.doc_id = q.doc_id
              JOIN kg k ON k.doc_id = q.doc_id),
            verdict AS (
              SELECT b.doc_id,
                     CASE WHEN b.doc_id <> kk.keeper THEN 'duplicate'
                          WHEN NOT f.quality_ok THEN 'quality'
                          WHEN NOT f.repetition_ok THEN 'repetition'
                          ELSE 'ok' END AS vreason
              FROM base b
              JOIN keep kk ON md5(b.text) = kk.fp
              JOIN flags f ON f.doc_id = b.doc_id),
            final AS (
              SELECT v.doc_id,
                     CASE WHEN h.k IS NOT NULL THEN 'near_duplicate'
                          ELSE v.vreason END AS reason,
                     coalesce(h.n_ref_hits, 0)::BIGINT AS n_ref_hits,
                     coalesce(h.first_ref, -1)::BIGINT AS first_ref
              FROM verdict v LEFT JOIN hits h ON h.k = v.doc_id)
            SELECT doc_id, reason, reason = 'ok' AS keep,
                   n_ref_hits, first_ref
            FROM final
        """,
        "curate_corpus": f"""
            WITH RECURSIVE {_SHINGLES_CTE},
            {_LSH_COMP_CTES},
            {_VERDICT_CTES},
            final AS (
              SELECT d.doc_id,
                     coalesce(c.label, d.doc_id) AS cluster,
                     CASE WHEN coalesce(c.label, d.doc_id) <> d.doc_id
                          THEN 'near_duplicate' ELSE v.vreason END AS reason
              FROM documents d
              LEFT JOIN comp c ON c.node = d.doc_id
              JOIN verdict v ON v.doc_id = d.doc_id)
            SELECT doc_id, cluster, reason, reason = 'ok' AS keep FROM final
        """,
        "remove_dup_spans": """
            WITH wn AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            pos AS (
              SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
              FROM wn WHERE len(w) >= 8
            ),
            pg AS (
              SELECT doc_id, i,
                     md5(array_to_string(w[i : i + 7], ' ')) AS d
              FROM pos
            ),
            dup AS (
              SELECT d FROM pg GROUP BY d
              HAVING count(DISTINCT doc_id) >= 2
            ),
            cov AS (
              SELECT DISTINCT doc_id, unnest(range(i, i + 8)) AS p
              FROM pg JOIN dup USING (d)
            ),
            allp AS (
              SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS p FROM wn
            ),
            kept AS (
              SELECT a.doc_id, a.p, a.w[a.p::INT] AS word
              FROM allp a
              ANTI JOIN cov c ON a.doc_id = c.doc_id AND a.p = c.p
            ),
            agg AS (
              SELECT doc_id, count(*) AS n_kept,
                     string_agg(word, ' ' ORDER BY p) AS clean_text
              FROM kept GROUP BY doc_id
            )
            SELECT wn.doc_id, len(wn.w)::BIGINT AS n_words,
                   (len(wn.w) - coalesce(agg.n_kept, 0))::BIGINT
                     AS n_removed,
                   coalesce(agg.clean_text, '') AS clean_text
            FROM wn LEFT JOIN agg USING (doc_id)
        """,
        "lsh_bucket_histogram": f"""
            WITH {_SHINGLES_CTE},
            sig AS (
              SELECT doc_id, g.j AS j,
                     min(md5(g.j || '|' || shingle)) AS m
              FROM sh, generate_series(0, 7) AS g(j)
              GROUP BY doc_id, g.j
            ),
            bands AS (
              SELECT doc_id, (j // 2)::INT AS band,
                     md5(string_agg(m, '' ORDER BY j)) AS bucket
              FROM sig GROUP BY doc_id, j // 2
            ),
            sizes AS (
              SELECT band, bucket, count(*) AS n FROM bands GROUP BY 1, 2
            )
            SELECT band,
                   CASE WHEN n <= 1 THEN '1' WHEN n <= 2 THEN '2'
                        WHEN n <= 4 THEN '3-4' WHEN n <= 8 THEN '5-8'
                        WHEN n <= 16 THEN '9-16' ELSE '17+' END
                     AS size_class,
                   count(*)::BIGINT AS n_buckets,
                   sum(n)::BIGINT AS n_docs,
                   sum(n * (n - 1) / 2)::BIGINT AS pair_bound
            FROM sizes GROUP BY 1, 2
        """,
        "split_leakage": f"""
            WITH {_SHINGLES_CTE},
            sig AS (
              SELECT doc_id, g.j AS j,
                     min(md5(g.j || '|' || shingle)) AS m
              FROM sh, generate_series(0, 7) AS g(j)
              GROUP BY doc_id, g.j
            ),
            bands AS (
              SELECT doc_id, j // 2 AS band,
                     md5(string_agg(m, '' ORDER BY j)) AS bucket
              FROM sig GROUP BY doc_id, j // 2
            ),
            pairs AS (
              SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bucket = b.bucket
                AND a.doc_id < b.doc_id
            ),
            sp AS (
              SELECT doc_id,
                     CASE WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'e666'
                            THEN 'train'
                          WHEN substr(md5(doc_id::VARCHAR), 1, 4) < 'f333'
                            THEN 'val'
                          ELSE 'test' END AS s
              FROM documents
            )
            SELECT least(sa.s, sb.s) AS split_a,
                   greatest(sa.s, sb.s) AS split_b,
                   count(*)::BIGINT AS n_pairs
            FROM pairs p
            JOIN sp sa ON sa.doc_id = p.a
            JOIN sp sb ON sb.doc_id = p.b
            GROUP BY 1, 2
        """,
        "vocab_coverage": """
            WITH toks AS (
              SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                AS token
              FROM documents
            ),
            counts AS (SELECT token, count(*) AS n FROM toks GROUP BY 1),
            ranked AS (
              SELECT row_number() OVER (ORDER BY n DESC, token) AS rn,
                     sum(n) OVER (ORDER BY n DESC, token
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum
              FROM counts
            ),
            tot AS (SELECT sum(n) AS total, count(*) AS v FROM counts),
            ns AS (SELECT unnest([100, 1000, 10000]) AS n_vocab)
            SELECT ns.n_vocab::INT AS n_vocab,
                   least(ns.n_vocab, t.v)::BIGINT AS vocab_size,
                   max(r.cum)::BIGINT AS covered_tokens,
                   t.total::BIGINT AS total_tokens,
                   round(max(r.cum) * 1.0 / t.total, 4) AS coverage
            FROM ns
            JOIN ranked r ON r.rn <= ns.n_vocab
            CROSS JOIN tot t
            GROUP BY ns.n_vocab, t.v, t.total
        """,
        "dedup_savings": f"""
            WITH base AS (
              SELECT source,
                     CASE WHEN doc_id % 11 = 7 THEN '{_DUP_TEXT}'
                          ELSE text END AS text
              FROM documents
            ),
            per AS (
              SELECT source, md5(text) AS d, count(*) AS c,
                     min(len(string_split(text, ' '))) AS t
              FROM base GROUP BY source, md5(text)
            )
            SELECT source,
                   sum(c)::BIGINT AS n_docs,
                   count(*)::BIGINT AS n_unique_docs,
                   round(1.0 - count(*) * 1.0 / sum(c), 4) AS doc_savings,
                   sum(c * t)::BIGINT AS n_tokens,
                   sum(t)::BIGINT AS n_kept_tokens,
                   round(1.0 - sum(t) * 1.0 / sum(c * t), 4)
                     AS token_savings
            FROM per GROUP BY source
        """,
        "contamination_by_source": f"""
            WITH {_SHINGLES_CTE},
            bsh AS (
              SELECT DISTINCT shingle FROM sh WHERE doc_id % 101 = 0
            ),
            nsh AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
            hits AS (
              SELECT sh.doc_id, count(*) AS n_h
              FROM sh JOIN bsh USING (shingle) GROUP BY 1
            ),
            per AS (
              SELECT d.source, d.doc_id,
                     coalesce(h.n_h, 0) AS h, coalesce(n.n_sh, 0) AS s
              FROM documents d
              LEFT JOIN nsh n USING (doc_id)
              LEFT JOIN hits h USING (doc_id)
            )
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(CASE WHEN h > 0 THEN 1 ELSE 0 END)::BIGINT
                     AS n_contaminated,
                   round(sum(CASE WHEN h > 0 THEN 1 ELSE 0 END) * 1.0
                         / count(*), 4) AS doc_rate,
                   sum(s)::BIGINT AS n_shingles,
                   sum(h)::BIGINT AS n_hit_shingles,
                   CASE WHEN sum(s) > 0
                        THEN round(sum(h) * 1.0 / sum(s), 4)
                        ELSE 0.0 END AS hit_rate
            FROM per GROUP BY source
        """,
        "benchmark_contamination": f"""
            WITH {_SHINGLES_CTE},
            bsh AS (
              SELECT DISTINCT shingle FROM sh WHERE doc_id % 101 = 0
            ),
            nsh AS (
              SELECT w.doc_id,
                     CASE WHEN len(w.w) >= 5
                          THEN len(list_distinct(list_transform(
                               range(1, len(w.w) - 3),
                               i -> array_to_string(w.w[i : i + 4], ' '))))
                          ELSE 0 END AS n_shingles
              FROM w
            ),
            hits AS (
              SELECT sh.doc_id, count(*) AS n_hits
              FROM sh JOIN bsh USING (shingle)
              GROUP BY sh.doc_id
            )
            SELECT n.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   n.n_shingles::BIGINT AS n_shingles,
                   coalesce(h.n_hits, 0) > 0 AS contaminated
            FROM nsh n LEFT JOIN hits h ON h.doc_id = n.doc_id
        """,
        "domain_mix": """
            SELECT doc_id, source FROM documents
            WHERE CASE source
              WHEN 'src0' THEN TRUE
              WHEN 'src1' THEN substr(md5(doc_id::VARCHAR), 1, 4) < '8000'
              WHEN 'src2' THEN substr(md5(doc_id::VARCHAR), 1, 4) < '4000'
              ELSE substr(md5(doc_id::VARCHAR), 1, 4) < '0ccc'
            END
        """,
        "oov_rate": """
            WITH t AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS token
              FROM documents),
            v AS (
              SELECT token FROM (
                SELECT token, count(*) AS n FROM t
                GROUP BY token ORDER BY n DESC, token LIMIT 100)),
            j AS (
              SELECT t.doc_id, (v.token IS NOT NULL)::INT AS iv
              FROM t LEFT JOIN v ON t.token = v.token)
            SELECT doc_id,
                   count(*)::BIGINT AS n_tokens,
                   (count(*) - sum(iv))::BIGINT AS n_oov,
                   round((count(*) - sum(iv)) * 1.0 / count(*), 4)
                     AS oov_rate
            FROM j GROUP BY doc_id
        """,
        "vocab_topk": """
            WITH t AS (
              SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                AS token
              FROM documents)
            SELECT token, count(*) AS n FROM t
            GROUP BY token ORDER BY n DESC, token LIMIT 100
        """,
        "quality_scores": """
            WITH q AS (
              SELECT doc_id,
                     len(string_split(text, ' ')) AS n_words,
                     round((length(text) - (len(string_split(text, ' ')) - 1))
                           * 1.0 / len(string_split(text, ' ')), 4) AS mean_word_len,
                     round(len(list_filter(string_split(text, ' '),
                               w -> w IN ('the','a','of','to','and','in','is')))
                           * 1.0 / len(string_split(text, ' ')), 4) AS stopword_ratio
              FROM documents
            )
            SELECT doc_id, n_words::INT AS n_words, mean_word_len, stopword_ratio,
                   (n_words >= 10 AND mean_word_len >= 2.0
                    AND mean_word_len <= 12.0 AND stopword_ratio >= 0.01)
                     AS quality_ok
            FROM q
        """,
        "url_normalize": f"""
            WITH u AS (
              SELECT 'https://' || {_HOST_CASE} || '/' || source || '/' ||
                     {_STEM_CASE} || '-' || doc_id || {_EXT_CASE}
                     || '?utm_source=feed&id=' || doc_id
                     || '&gclid=zz#frag' AS dirty_url
              FROM documents
            )
            SELECT dirty_url,
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(dirty_url, '#.*$', '', 'g'),
                         '(utm_[a-z]+|fbclid|gclid)=[^&#]*&?', '', 'g'),
                       '[?&]+$', '', 'g'),
                     '\\?&', '?', 'g') AS canonical_url
            FROM u
        """,
        "domain_quality": f"""
            WITH {_DOMQ_CTES}
            SELECT host, n_docs, n_ok,
                   round(n_ok * 1.0 / n_docs, 4) AS ok_rate,
                   (n_docs >= 5 AND n_ok * 1.0 / n_docs < 0.85)
                     AS blocklist_candidate
            FROM dqg
        """,
        "fetch_frontier": f"""
            WITH {_DOMQ_CTES},
            blk AS (SELECT host FROM dqg
                    WHERE n_docs >= 5 AND n_ok * 1.0 / n_docs < 0.85),
            u0 AS (
              SELECT 'https://' || {_HOST_CASE} || '/' || source || '/' ||
                     {_STEM_CASE} || '-' || doc_id || {_EXT_CASE} ||
                     CASE doc_id % 7
                       WHEN 0 THEN '?a=1&b=2&c=3'
                       WHEN 1 THEN '?q=' || repeat('z', 80)
                       ELSE '' END AS url
              FROM documents
            ),
            u AS (SELECT DISTINCT url FROM u0),
            p AS (
              SELECT url,
                     regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
                     regexp_replace(regexp_replace(url,
                       '^[a-z]+://[^/]+', ''), '[?#].*$', '') AS path,
                     CASE
                       WHEN regexp_matches(
                              lower(regexp_replace(url, '[?#].*$', '')),
                              '\\.(jpg|jpeg|png|gif|mp4|zip|exe|css|js)$')
                         THEN 'binary_ext'
                       WHEN regexp_matches(url, '/draft-')
                         THEN 'blocked_pattern'
                       WHEN len(list_filter(string_split(
                              regexp_extract(url, '\\?([^#]*)', 1), '&'),
                              x -> x <> '')) > 2
                         THEN 'too_many_params'
                       WHEN len(url) > 90 THEN 'too_long'
                       ELSE 'ok' END AS reason
              FROM u
            ),
            r AS (
              SELECT * FROM (VALUES {", ".join(
                  f"('{h}', '{d}')" for h, d in _ROBOTS_RULES
              )}) t(rhost, dis)
            ),
            m AS (
              SELECT p.url, p.host, p.reason,
                     max(CASE WHEN r.dis IS NOT NULL THEN 1 END) AS hit
              FROM p LEFT JOIN r
                ON r.rhost = p.host AND starts_with(p.path, r.dis)
              GROUP BY 1, 2, 3
            ),
            v AS (
              SELECT url, host,
                     CASE WHEN reason <> 'ok' THEN 'filtered:' || reason
                          WHEN hit IS NOT NULL THEN 'robots'
                          WHEN host IN (SELECT host FROM blk)
                            THEN 'blocked_host'
                          ELSE 'fetch' END AS verdict
              FROM m
            ),
            fw AS (
              SELECT url,
                     ((row_number() OVER (PARTITION BY host ORDER BY url)
                       - 1) // 16)::INT AS wave
              FROM v WHERE verdict = 'fetch'
            )
            SELECT v.url, v.host, v.verdict,
                   coalesce(fw.wave, -1)::INT AS wave
            FROM v LEFT JOIN fw ON fw.url = v.url
        """,
        "url_filter": f"""
            WITH u AS (
              SELECT 'https://' || {_HOST_CASE} || '/' || source || '/' ||
                     {_STEM_CASE} || '-' || doc_id || {_EXT_CASE} ||
                     CASE doc_id % 7
                       WHEN 0 THEN '?a=1&b=2&c=3'
                       WHEN 1 THEN '?q=' || repeat('z', 80)
                       ELSE '' END AS url
              FROM documents
            ),
            r AS (
              SELECT url,
                     CASE
                       WHEN regexp_matches(
                              lower(regexp_replace(url, '[?#].*$', '')),
                              '\\.(jpg|jpeg|png|gif|mp4|zip|exe|css|js)$')
                         THEN 'binary_ext'
                       WHEN regexp_matches(url, '/draft-')
                         THEN 'blocked_pattern'
                       WHEN len(list_filter(string_split(
                              regexp_extract(url, '\\?([^#]*)', 1), '&'),
                              x -> x <> '')) > 2
                         THEN 'too_many_params'
                       WHEN len(url) > 90 THEN 'too_long'
                       ELSE 'ok' END AS reason
              FROM u
            )
            SELECT url, reason, reason = 'ok' AS keep FROM r
        """,
        "robots_filter": f"""
            WITH u AS (
              SELECT DISTINCT
                     'https://' || {_HOST_CASE} || '/' || source || '/' ||
                     {_STEM_CASE} || '-' || doc_id || {_EXT_CASE} AS url,
                     {_HOST_CASE} AS host,
                     '/' || source || '/' || {_STEM_CASE} || '-' || doc_id
                     || {_EXT_CASE} AS path
              FROM documents
            ),
            r AS (
              SELECT * FROM (VALUES {", ".join(
                  f"('{h}', '{d}')" for h, d in _ROBOTS_RULES
              )}) t(rhost, dis)
            ),
            m AS (
              SELECT u.url, u.host, u.path,
                     max(CASE WHEN r.dis IS NOT NULL
                         THEN lpad(length(r.dis)::VARCHAR, 3, '0') || r.dis
                         END) AS rk
              FROM u LEFT JOIN r
                ON r.rhost = u.host AND starts_with(u.path, r.dis)
              GROUP BY 1, 2, 3
            )
            SELECT url, host, path, substr(rk, 4) AS rule,
                   rk IS NULL AS allowed
            FROM m
        """,
        "repetition_stats": """
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
                       FROM documents),
            counts AS (
              SELECT doc_id, count(*) AS c
              FROM (SELECT doc_id, unnest(w) AS word FROM w)
              GROUP BY doc_id, word
            ),
            top AS (SELECT doc_id, max(c) AS topc FROM counts GROUP BY 1),
            kg AS (
              SELECT doc_id,
                     CASE WHEN len(w) >= 5
                          THEN list_transform(range(1, len(w) - 3),
                               i -> array_to_string(w[i : i + 4], ' '))
                          ELSE [] END AS gs
              FROM w
            ),
            r AS (
              SELECT w.doc_id, len(w.w) AS n_words,
                     round(len(list_distinct(w.w)) * 1.0 / len(w.w), 4)
                       AS distinct_word_frac,
                     round(t.topc * 1.0 / len(w.w), 4) AS top_word_frac,
                     CASE WHEN len(k.gs) > 0
                          THEN round(1 - len(list_distinct(k.gs)) * 1.0
                                     / len(k.gs), 4)
                          ELSE 0.0 END AS dup_kgram_frac
              FROM w JOIN top t ON t.doc_id = w.doc_id
                     JOIN kg k ON k.doc_id = w.doc_id
            )
            SELECT doc_id, n_words::INT AS n_words, distinct_word_frac,
                   top_word_frac, dup_kgram_frac,
                   (distinct_word_frac >= 0.2 AND top_word_frac <= 0.3
                    AND dup_kgram_frac <= 0.6) AS repetition_ok
            FROM r
        """,
        "langid_confusion": """
            SELECT lang,
                   CASE WHEN len(list_filter(string_split(text, ' '),
                             w -> w IN ('the','a','and','of'))) > 0
                        THEN 'en' ELSE 'und' END AS pred_lang,
                   count(*) AS n_docs
            FROM documents GROUP BY 1, 2
        """,
        "lang_segments": """
            WITH inp AS (
              SELECT doc_id,
                     text || CASE WHEN doc_id % 3 = 0
                       THEN chr(10) || chr(10) ||
                            'lorem ipsum dolor sit amet consectetur ' ||
                            'adipiscing elit'
                       ELSE '' END AS t
              FROM documents),
            p AS (
              SELECT doc_id,
                     unnest(string_split(t, chr(10) || chr(10))) AS para
              FROM inp),
            pr AS (
              SELECT doc_id,
                     CASE WHEN len(list_filter(string_split(para, ' '),
                               w -> w IN ('the','a','and','of'))) > 0
                          THEN 'en' ELSE 'und' END AS pl
              FROM p),
            agg AS (
              SELECT doc_id, count(*) AS n,
                     sum(CASE WHEN pl = 'en' THEN 1 ELSE 0 END) AS n_en
              FROM pr GROUP BY 1)
            SELECT doc_id, n::INT AS n_paras,
                   CASE WHEN n_en >= n - n_en THEN 'en' ELSE 'und' END
                     AS dominant_lang,
                   round(greatest(n_en, n - n_en) * 1.0 / n, 4)
                     AS dominant_frac,
                   (n_en > 0 AND n_en < n) AS mixed
            FROM agg
        """,
        "fingerprints": """
            SELECT doc_id, md5(text) AS fingerprint,
                   substr(md5(text), 1, 4) AS fp_bucket
            FROM documents
        """,
        "ann_cosine_topk": _ANN_ORACLE,
        # ann_recall_eval: portable k-means codebook (seeds = 8 lowest
        # corpus keys + one decimal-exact Lloyd refinement, the
        # semantic_dedup machinery), corpus assigned to cells, per-query
        # top-2 probed cells, in-cell exact top-5 vs brute-force top-5.
        "ann_recall_eval": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cv
                  FROM embeddings WHERE vec_id >= 10),
            seeds AS (
              SELECT row_number() OVER (ORDER BY neighbor_id) AS cluster,
                     cv AS cv0
              FROM c ORDER BY neighbor_id LIMIT 8),
            s0 AS (
              SELECT p.neighbor_id, s.cluster,
                list_sum(list_transform(range(1, 1 + len(p.cv)),
                         i -> p.cv[i]::DOUBLE * s.cv0[i]::DOUBLE))
                / (sqrt(list_sum(list_transform(p.cv, x -> x::DOUBLE * x::DOUBLE)))
                   * sqrt(list_sum(list_transform(s.cv0, x -> x::DOUBLE * x::DOUBLE)))
                   + 1e-12) AS sim
              FROM c p, seeds s),
            a0 AS (
              SELECT neighbor_id, cluster FROM (
                SELECT neighbor_id, cluster, row_number() OVER (
                  PARTITION BY neighbor_id ORDER BY sim DESC, cluster) AS rn
                FROM s0) WHERE rn = 1),
            pv AS (
              SELECT a.cluster, p.cv AS v, unnest(range(len(p.cv))) AS pos
              FROM a0 a JOIN c p USING (neighbor_id)),
            means AS (
              SELECT cluster, pos,
                     (sum(CAST(v[(pos + 1)::INT]::DOUBLE AS DECIMAL(28,12))))::DOUBLE
                     / count(*) AS m
              FROM pv GROUP BY cluster, pos),
            cents AS (
              SELECT cluster, list(m ORDER BY pos) AS ctv
              FROM means GROUP BY cluster),
            s1 AS (
              SELECT p.neighbor_id, ct.cluster,
                list_sum(list_transform(range(1, 1 + len(p.cv)),
                         i -> p.cv[i]::DOUBLE * ct.ctv[i]))
                / (sqrt(list_sum(list_transform(p.cv, x -> x::DOUBLE * x::DOUBLE)))
                   * sqrt(list_sum(list_transform(ct.ctv, x -> x * x)))
                   + 1e-12) AS sim
              FROM c p, cents ct),
            a1 AS (
              SELECT neighbor_id, cluster FROM (
                SELECT neighbor_id, cluster, row_number() OVER (
                  PARTITION BY neighbor_id ORDER BY sim DESC, cluster) AS rn
                FROM s1) WHERE rn = 1),
            qs AS (
              SELECT q.query_id, ct.cluster,
                list_sum(list_transform(range(1, 1 + len(q.qv)),
                         i -> q.qv[i]::DOUBLE * ct.ctv[i]))
                / (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))
                   * sqrt(list_sum(list_transform(ct.ctv, x -> x * x)))
                   + 1e-12) AS sim
              FROM q, cents ct),
            probes AS (
              SELECT query_id, cluster FROM (
                SELECT query_id, cluster, row_number() OVER (
                  PARTITION BY query_id ORDER BY sim DESC, cluster) AS rn
                FROM qs) WHERE rn <= 2),
            cand AS (
              SELECT pr.query_id, a.neighbor_id,
                round(
                  list_sum(list_transform(range(1, 1 + len(q.qv)),
                           i -> q.qv[i]::DOUBLE * p.cv[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))
                     * sqrt(list_sum(list_transform(p.cv, x -> x::DOUBLE * x::DOUBLE)))),
                  4) AS cosine
              FROM probes pr
              JOIN a1 a ON a.cluster = pr.cluster
              JOIN q ON q.query_id = pr.query_id
              JOIN c p ON p.neighbor_id = a.neighbor_id),
            approx AS (
              SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id, row_number() OVER (
                  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
                FROM cand) WHERE rnk <= 5),
            brute AS (
              SELECT query_id, neighbor_id FROM (
                SELECT query_id, neighbor_id, row_number() OVER (
                  PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
                FROM (
                  SELECT q.query_id, p.neighbor_id,
                    round(
                      list_sum(list_transform(range(1, 1 + len(q.qv)),
                               i -> q.qv[i]::DOUBLE * p.cv[i]::DOUBLE))
                      / (sqrt(list_sum(list_transform(q.qv, x -> x::DOUBLE * x::DOUBLE)))
                         * sqrt(list_sum(list_transform(p.cv, x -> x::DOUBLE * x::DOUBLE)))),
                      4) AS cosine
                  FROM q, c p)) WHERE rnk <= 5),
            hits AS (
              SELECT query_id, count(*) AS n_hits
              FROM approx JOIN brute USING (query_id, neighbor_id)
              GROUP BY 1)
            SELECT q.query_id,
                   coalesce(h.n_hits, 0)::BIGINT AS n_hits,
                   round(coalesce(h.n_hits, 0) / 5, 4) AS recall_at_k
            FROM q LEFT JOIN hits h USING (query_id)
        """,
        # ann_ivf_topk probes all cells in the driver query (exhaustive-
        # exact), so it shares the brute-force oracle:
        "ann_ivf_topk": _ANN_ORACLE,
        "chunk_ann_topk": f"""
            WITH dw AS (SELECT doc_id, string_split(text, ' ') AS w
                        FROM documents),
            ci AS (
              SELECT doc_id, w,
                     unnest(range(0, CASE WHEN len(w) <= 32 THEN 1
                            ELSE ceil((len(w) - 32) / 24.0)::BIGINT + 1 END))
                       AS i
              FROM dw
            ),
            ch AS (
              SELECT doc_id, i AS chunk_id,
                     coalesce(array_to_string(w[24*i+1 : 24*i+32], ' '), '')
                       AS chunk
              FROM ci
            ),
            vecs AS (
              SELECT doc_id * 1024 + chunk_id AS ck, doc_id,
                     {_embed_sql('chunk', 16)} AS v
              FROM ch
            ),
            q AS (SELECT ck AS query_id, v AS qv FROM vecs
                  WHERE doc_id % 100 = 0),
            c AS (SELECT ck AS neighbor_id, v AS cv FROM vecs
                  WHERE doc_id % 100 <> 0),
            scored AS (
              SELECT query_id, neighbor_id,
                round(
                  list_sum(list_transform(range(1, 17),
                           i -> qv[i]::DOUBLE * cv[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                     * sqrt(list_sum(list_transform(cv, x -> x * x)))),
                  4) AS cosine
              FROM q, c
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
                  AS rnk
              FROM scored)
            SELECT query_id, neighbor_id, cosine, rnk::INT AS rnk
            FROM ranked WHERE rnk <= 3
        """,
        "golden_compare": """
            SELECT doc_id, true AS matched
            FROM documents WHERE doc_id % 10 <= 6
        """,
        "embedding_near_dupes": """
            WITH e AS (SELECT vec_id, embedding AS v FROM embeddings)
            SELECT a.vec_id AS a, b.vec_id AS b,
                   round(
                     list_sum(list_transform(range(1, 1 + len(a.v)),
                              i -> a.v[i]::DOUBLE * b.v[i]::DOUBLE))
                     / (sqrt(list_sum(list_transform(a.v, x -> x::DOUBLE * x::DOUBLE)))
                        * sqrt(list_sum(list_transform(b.v, x -> x::DOUBLE * x::DOUBLE)))),
                     4) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE round(
                     list_sum(list_transform(range(1, 1 + len(a.v)),
                              i -> a.v[i]::DOUBLE * b.v[i]::DOUBLE))
                     / (sqrt(list_sum(list_transform(a.v, x -> x::DOUBLE * x::DOUBLE)))
                        * sqrt(list_sum(list_transform(b.v, x -> x::DOUBLE * x::DOUBLE)))),
                     4) >= 0.45
        """,
        "embedding_near_dupes_lsh": """
            WITH e AS (SELECT vec_id AS id, embedding AS v FROM embeddings),
            bands AS (SELECT unnest(range(8)) AS band),
            sb AS (
              SELECT id, v, band,
                list_sum(list_transform(range(4), p ->
                  CASE WHEN list_sum(list_transform(range(64), i ->
                         v[(i + 1)::INT]::DOUBLE *
                         CASE WHEN (instr('0123456789abcdef',
                                substr(md5((band * 4 + p)::VARCHAR || '|' ||
                                           i::VARCHAR), 32, 1)) - 1)
                              % 2 = 1 THEN 1.0 ELSE -1.0 END)) > 0
                       THEN (1::BIGINT << p::INT) ELSE 0 END)) AS sig
              FROM e, bands),
            cand AS (
              SELECT DISTINCT l.id AS a, r.id AS b
              FROM sb l JOIN sb r
                ON l.band = r.band AND l.sig = r.sig AND l.id < r.id),
            scored AS (
              SELECT cand.a, cand.b,
                round(
                  list_sum(list_transform(range(1, 1 + len(ea.v)),
                           i -> ea.v[i]::DOUBLE * eb.v[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(ea.v, x -> x::DOUBLE * x::DOUBLE)))
                     * sqrt(list_sum(list_transform(eb.v, x -> x::DOUBLE * x::DOUBLE)))),
                  4) AS cosine
              FROM cand
              JOIN e ea ON ea.id = cand.a
              JOIN e eb ON eb.id = cand.b)
            SELECT a, b, cosine FROM scored WHERE cosine >= 0.45
        """,
        "semantic_dedup": """
            WITH pts AS (SELECT vec_id, embedding AS v FROM embeddings),
            seeds AS (
              SELECT row_number() OVER (ORDER BY vec_id) AS cluster,
                     embedding AS cv
              FROM embeddings ORDER BY vec_id LIMIT 8),
            s0 AS (
              SELECT p.vec_id, s.cluster,
                list_sum(list_transform(range(1, 1 + len(p.v)),
                         i -> p.v[i]::DOUBLE * s.cv[i]::DOUBLE))
                / (sqrt(list_sum(list_transform(p.v, x -> x::DOUBLE * x::DOUBLE)))
                   * sqrt(list_sum(list_transform(s.cv, x -> x::DOUBLE * x::DOUBLE)))
                   + 1e-12) AS sim
              FROM pts p, seeds s),
            a0 AS (
              SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
                FROM s0) WHERE rn = 1),
            pv AS (
              SELECT a.cluster, p.v, unnest(range(len(p.v))) AS pos
              FROM a0 a JOIN pts p USING (vec_id)),
            means AS (
              -- DECIMAL(28,12) partial sums: exact, order-insensitive —
              -- matches kmeans_centroids' engine-portable mean bit-for-bit
              SELECT cluster, pos,
                     (sum(CAST(v[(pos + 1)::INT]::DOUBLE AS DECIMAL(28,12))))::DOUBLE
                     / count(*) AS m
              FROM pv GROUP BY cluster, pos),
            cents AS (
              SELECT cluster, list(m ORDER BY pos) AS cv
              FROM means GROUP BY cluster),
            s1 AS (
              SELECT p.vec_id, c.cluster,
                list_sum(list_transform(range(1, 1 + len(p.v)),
                         i -> p.v[i]::DOUBLE * c.cv[i]))
                / (sqrt(list_sum(list_transform(p.v, x -> x::DOUBLE * x::DOUBLE)))
                   * sqrt(list_sum(list_transform(c.cv, x -> x * x)))
                   + 1e-12) AS sim
              FROM pts p, cents c),
            a1 AS (
              SELECT vec_id, cluster FROM (
                SELECT vec_id, cluster, row_number() OVER (
                  PARTITION BY vec_id ORDER BY sim DESC, cluster) AS rn
                FROM s1) WHERE rn = 1),
            dup AS (
              SELECT DISTINCT y.vec_id AS b
              FROM a1 x JOIN a1 y
                ON x.cluster = y.cluster AND x.vec_id < y.vec_id
              JOIN pts px ON px.vec_id = x.vec_id
              JOIN pts py ON py.vec_id = y.vec_id
              WHERE round(
                  list_sum(list_transform(range(1, 1 + len(px.v)),
                           i -> px.v[i]::DOUBLE * py.v[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(px.v, x -> x::DOUBLE * x::DOUBLE)))
                     * sqrt(list_sum(list_transform(py.v, x -> x::DOUBLE * x::DOUBLE)))),
                  4) >= 0.4)
            SELECT a1.vec_id, a1.cluster::INT AS cluster,
                   CASE WHEN d.b IS NULL THEN 0 ELSE 1 END AS is_dup
            FROM a1 LEFT JOIN dup d ON d.b = a1.vec_id
        """,
        "tpch_shipping_revenue": """
            SELECT l.l_orderkey AS orderkey,
                   strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
                   CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                                  * CAST(1 - l.l_discount AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS revenue
            FROM customer c
            JOIN orders o ON c.c_custkey = o.o_custkey
            JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE c.c_mktsegment = 'BUILDING'
              AND o.o_orderdate < TIMESTAMP '1998-01-01'
              AND l.l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY 1, 2
        """,
        "nation_revenue": """
            SELECT n.n_name AS nation,
                   CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2)
                        AS DOUBLE) AS total_revenue,
                   count(*) AS n_orders
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        """,
        "events_daily": """
            SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
                   count(*) AS n_events, round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "session_windows": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
            d AS (SELECT user_id, t,
                         lag(t) OVER (PARTITION BY user_id ORDER BY t) AS pt
                  FROM e),
            s AS (SELECT user_id, t,
                         CASE WHEN pt IS NULL OR t - pt > 1800000000
                              THEN 1 ELSE 0 END AS new_s
                  FROM d),
            g AS (SELECT user_id, t,
                         sum(new_s) OVER (PARTITION BY user_id ORDER BY t
                           ROWS UNBOUNDED PRECEDING) AS sid
                  FROM s)
            SELECT user_id, min(t) AS start_us,
                   max(t) + 1800000000 AS end_us,
                   count(*) AS n_events
            FROM g GROUP BY user_id, sid
        """,
        "sessionize": """
            WITH e AS (SELECT user_id, epoch_us(ts) AS t FROM events),
            d AS (SELECT user_id, t,
                         lag(t) OVER (PARTITION BY user_id ORDER BY t) AS pt
                  FROM e),
            s AS (SELECT user_id,
                         CASE WHEN pt IS NULL OR t - pt > 1800000000
                              THEN 1 ELSE 0 END AS new_s
                  FROM d)
            SELECT user_id, sum(new_s)::BIGINT AS n_sessions
            FROM s GROUP BY 1
        """,
        # SimHash: md5-hex bit extraction mirrors dedup._md5_word_hash —
        # bit b of the 64-bit value = bit (b%4) of hex digit (16 - b//4).
        "simhash_buckets": f"""
            WITH {_simhash_sig_ctes("documents")}
            SELECT doc_id, simhash, bucket FROM sig
        """,
        "simhash_near_pairs": f"""
            WITH docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 1000000, text || ' near dup tail'
              FROM documents WHERE doc_id % 7 = 0
              UNION ALL
              SELECT doc_id + 2000000, text
              FROM documents WHERE doc_id % 7 = 3
            ),
            {_simhash_sig_ctes("docs")},
            bd AS (
              SELECT doc_id, simhash,
                     ((simhash >> (16 * i.i)::INT) & 65535)
                       + (i.i::BIGINT << 16) AS bkey
              FROM sig, (SELECT unnest(range(4)) AS i) i),
            okb AS (SELECT bkey FROM bd GROUP BY 1
                    HAVING count(*) BETWEEN 2 AND 1000),
            pr AS (
              SELECT DISTINCT a.doc_id AS a, b.doc_id AS b,
                     bit_count(xor(a.simhash, b.simhash))::INT AS hamming
              FROM bd a JOIN bd b
                ON a.bkey = b.bkey AND a.doc_id < b.doc_id
              JOIN okb ON okb.bkey = a.bkey)
            SELECT a, b, hamming FROM pr WHERE hamming <= 3
        """,
        "ann_lsh_topk": f"""
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                       FROM embeddings WHERE vec_id < 10),
            c AS (SELECT vec_id AS neighbor_id, embedding AS cv
                  FROM embeddings WHERE vec_id >= 10),
            qs AS (SELECT query_id, qv, {_lsh_sig_sql('qv')} AS sig FROM q),
            cs AS (SELECT neighbor_id, cv, {_lsh_sig_sql('cv')} AS sig
                   FROM c),
            scored AS (
              SELECT query_id, neighbor_id,
                round(
                  list_sum(list_transform(range(1, 1 + len(qv)),
                           i -> qv[i]::DOUBLE * cv[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(qv, x -> x::DOUBLE * x::DOUBLE)))
                     * sqrt(list_sum(list_transform(cv, x -> x::DOUBLE * x::DOUBLE)))),
                  4) AS cosine
              FROM qs JOIN cs ON qs.sig = cs.sig
            ),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
              FROM scored
            )
            SELECT query_id, neighbor_id, cosine, rnk::INT AS rnk
            FROM ranked WHERE rnk <= 5
        """,
        # Template mining: reconstruct each HTML page's block inventory
        # (chrome + content, mirroring corpus.build_html and the
        # htmltext block parser with the mining drop-set), apply the
        # per-host url-order sample cap, recompute per-host support.
        "template_mining": f"""
            WITH {_RENDER_CTES},
            f AS (
              SELECT doc_id, text, {_HOST_CASE} AS host,
                     'https://' || {_HOST_CASE} || '/' || source || '/' ||
                     {_STEM_CASE} || '-' || doc_id || '.html' AS url
              FROM documents WHERE doc_id % 10 <= 6),
            samp AS (
              SELECT doc_id, text, host FROM (
                SELECT f.*, row_number() OVER (
                  PARTITION BY host ORDER BY url) AS rn
                FROM f) WHERE rn <= 100),
            nh AS (SELECT host, count(*) AS n FROM samp GROUP BY 1),
            allb AS (
              SELECT host, doc_id, '# Example Site ' || (doc_id % 7) AS block
              FROM samp WHERE doc_id % 20 <> 14
              UNION ALL
              SELECT host, doc_id, '- Section ' || g.i
              FROM samp, (SELECT unnest(range(6)) AS i) g
              WHERE doc_id % 20 <> 14
              UNION ALL
              SELECT host, doc_id,
                     'Sponsored: one weird trick limited offer'
              FROM samp WHERE doc_id % 20 <> 14 AND doc_id % 10 <> 4
              UNION ALL
              SELECT host, doc_id,
                     'related story one related story two more'
              FROM samp WHERE doc_id % 20 <> 14 AND doc_id % 10 <> 4
              UNION ALL
              SELECT host, doc_id,
                     'Terms Privacy © 2024 Example Corp partner partner partner'
              FROM samp WHERE doc_id % 20 <> 14
              UNION ALL
              SELECT host, doc_id, text AS block FROM samp
              WHERE doc_id % 10 IN (0, 1, 4, 5, 6)
              UNION ALL
              SELECT s.host, s.doc_id, r.gtext AS block
              FROM samp s JOIN rendered r USING (doc_id)
              WHERE s.doc_id % 10 = 2
              UNION ALL
              SELECT s.host, s.doc_id, '- ' || rp.item AS block
              FROM samp s JOIN rp ON s.doc_id = rp.doc_id
              WHERE s.doc_id % 10 = 3 AND rp.item <> ''),
            blocks AS (SELECT DISTINCT host, doc_id, block FROM allb),
            counted AS (
              SELECT host, block, count(*) AS c FROM blocks GROUP BY 1, 2)
            SELECT c.host, c.block, round(c.c * 1.0 / nh.n, 4) AS support,
                   nh.n::INT AS n_docs
            FROM counted c JOIN nh ON c.host = nh.host
            WHERE c.c * 1.0 / nh.n >= 0.5
        """,
        "host_link_graph": f"""
            WITH {_EDGES_CTES}
            SELECT src_host, dst_host, n_links FROM edges
        """,
        "host_pagerank": _pagerank_oracle(iterations=3),
        "host_communities": _communities_oracle(iterations=4),
        "community_quarantine": f"""
WITH {_EDGES_CTES},
{_DOMQ_CTES},
{_QUAR_CTES}
SELECT host, community, n_docs, n_ok, host_rate, comm_n_docs, comm_n_ok,
       comm_rate, verdict_basis, quarantined
FROM cqv
        """,
        "community_budget": f"""
WITH {_EDGES_CTES},
{_DOMQ_CTES},
{_QUAR_CTES},
hu AS (SELECT host, n_docs AS n_urls FROM dqg
       UNION ALL SELECT h, 30 + CAST(substr(h, 5, 1) AS BIGINT) FROM sph
       UNION ALL SELECT 'lone.junk', 12::BIGINT
       UNION ALL SELECT 'tiny.shop', 3::BIGINT),
cb AS (SELECT q.community,
              count(*)::BIGINT AS n_hosts,
              sum(coalesce(hu.n_urls, 0))::BIGINT AS n_urls,
              bool_or(q.quarantined) AS quarantined
       FROM cqv q LEFT JOIN hu ON hu.host = q.host
       GROUP BY 1),
cw AS (SELECT community, n_hosts, n_urls, quarantined,
              CASE WHEN quarantined THEN 0::BIGINT
                   ELSE n_urls END AS weight
       FROM cb),
tw AS (SELECT sum(weight)::BIGINT AS t FROM cw)
SELECT community, n_hosts, n_urls, quarantined, weight,
       CASE WHEN tw.t > 0 THEN (10000 * weight) // tw.t
            ELSE 0 END::BIGINT AS budget
FROM cw CROSS JOIN tw
        """,
        # host_assortativity: all Pearson moment sums BIGINT (DuckDB
        # sum() widens to HUGEINT — cast back); the sqrt/divide tree is
        # mirrored token-for-token; NULL when either variance is 0.
        "host_assortativity": f"""
WITH {_EDGES_CTES},
de AS (SELECT src_host, dst_host FROM edges
       WHERE src_host <> dst_host),
od AS (SELECT src_host AS host, count(*)::BIGINT AS dx
       FROM de GROUP BY 1),
idg AS (SELECT dst_host AS host, count(*)::BIGINT AS dy
        FROM de GROUP BY 1),
j AS (SELECT od.dx, idg.dy
      FROM de
      JOIN od ON od.host = de.src_host
      JOIN idg ON idg.host = de.dst_host),
a AS (SELECT count(*)::BIGINT AS m,
             sum(dx)::BIGINT AS sx, sum(dy)::BIGINT AS sy,
             sum(dx * dx)::BIGINT AS sxx, sum(dy * dy)::BIGINT AS syy,
             sum(dx * dy)::BIGINT AS sxy
      FROM j)
SELECT m AS n_edges,
       CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0
            THEN round((m * sxy - sx * sy)
                       / (sqrt(m * sxx - sx * sx)
                          * sqrt(m * syy - sy * sy)), 6)
       END AS assortativity
FROM a
        """,
        # token_gini: BIGINT masses/ranks/sums end-to-end; only the two
        # final divisions are double, with expression trees mirrored
        # token-for-token (six*2)/(n*sx) - (n+1)/n and top/sx.
        "token_gini": f"""
WITH hm AS (
  SELECT {_HOST_CASE} AS host,
         sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))::BIGINT
           AS m
  FROM documents GROUP BY 1),
r AS (
  SELECT m, row_number() OVER (ORDER BY m ASC, host ASC) AS i,
         count(*) OVER () AS n
  FROM hm),
a AS (
  SELECT max(n)::BIGINT AS n_hosts, sum(m)::BIGINT AS total_tokens,
         sum(i * m)::BIGINT AS six,
         sum(CASE WHEN i > n - greatest(1, n // 10) THEN m
                  ELSE 0 END)::BIGINT AS top_sum
  FROM r)
SELECT n_hosts, total_tokens,
       round((six * 2) / (n_hosts * total_tokens)
             - (n_hosts + 1) / n_hosts, 6) AS gini,
       round(top_sum / total_tokens, 6) AS top_decile_share
FROM a
        """,
        # host_reciprocity: distinct directed pairs (edges is already
        # grouped by (src,dst)), reversed-pair self-join for mutual,
        # full-outer degree join; rate NULL when out_deg = 0 (the CASE
        # mirrors Spark's F.when divide guard).
        "host_reciprocity": f"""
WITH {_EDGES_CTES},
de AS (SELECT src_host, dst_host FROM edges
       WHERE src_host <> dst_host),
od AS (SELECT src_host AS host, count(*)::BIGINT AS out_deg
       FROM de GROUP BY 1),
idg AS (SELECT dst_host AS host, count(*)::BIGINT AS in_deg
        FROM de GROUP BY 1),
deg AS (SELECT coalesce(od.host, idg.host) AS host,
               coalesce(od.out_deg, 0)::BIGINT AS out_deg,
               coalesce(idg.in_deg, 0)::BIGINT AS in_deg
        FROM od FULL OUTER JOIN idg ON od.host = idg.host),
mu AS (SELECT a.src_host AS host, count(*)::BIGINT AS mutual
       FROM de a JOIN de b
         ON a.src_host = b.dst_host AND a.dst_host = b.src_host
       GROUP BY 1)
SELECT deg.host, deg.out_deg, deg.in_deg,
       coalesce(mu.mutual, 0)::BIGINT AS mutual,
       CASE WHEN deg.out_deg > 0
            THEN round(coalesce(mu.mutual, 0)::BIGINT / deg.out_deg, 4)
       END AS recip_rate
FROM deg LEFT JOIN mu ON deg.host = mu.host
        """,
        "host_kcore": _kcore_oracle(k=6, rounds=3),
        "host_hits": _hits_oracle(iterations=2),
        # event_cooccurrence: lift over the distinct (user, type)
        # incidence relation; all BIGINT until one mirrored division.
        "event_cooccurrence": """
            WITH ut AS (
              SELECT DISTINCT user_id AS u, event_type AS t FROM events),
            nu AS (SELECT count(DISTINCT u) AS n_users FROM ut),
            nt AS (SELECT t, count(*)::BIGINT AS n FROM ut GROUP BY 1),
            pairs AS (
              SELECT a.t AS type_a, b.t AS type_b,
                     count(*)::BIGINT AS n_both
              FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t
              GROUP BY 1, 2)
            SELECT type_a, type_b, na.n AS n_a, nb.n AS n_b, n_both,
                   round((n_both * nn.n_users) * 1.0 / (na.n * nb.n), 6)
                     AS lift
            FROM pairs
            JOIN nt na ON na.t = pairs.type_a
            JOIN nt nb ON nb.t = pairs.type_b, nu nn
        """,
        # host_pagerank_delta: both iteration depths come from ONE
        # unrolled chain; the delta diffs the 6dp-ROUNDED outputs on
        # both engines (exactly what the Spark composite joins).
        "host_pagerank_delta": f"""
{_pagerank_ctes(3)}
SELECT r2.host, round(r2.rank, 6) AS rank_i2, round(r3.rank, 6) AS rank_i3,
       round(abs(round(r3.rank, 6) - round(r2.rank, 6)), 6) AS delta
FROM r2 JOIN r3 USING (host)
        """,
        # source_token_kl: the user_transition_entropy decimal recipe
        # with a two-ln difference per term; every source token exists
        # in the corpus, so no zero-denominator terms.
        "source_token_kl": """
            WITH sc AS (
              SELECT source, tok, count(*)::BIGINT AS c FROM (
                SELECT source,
                       unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                         AS tok
                FROM documents)
              GROUP BY 1, 2),
            stot AS (
              SELECT source, sum(c)::BIGINT AS n_s,
                     count(*)::BIGINT AS vocab
              FROM sc GROUP BY 1),
            gc AS (SELECT tok, sum(c)::BIGINT AS cw FROM sc GROUP BY 1),
            nn AS (SELECT sum(n_s)::BIGINT AS nn FROM stot),
            terms AS (
              SELECT sc.source,
                     c * (CAST(round(ln(c * 1.0 / n_s), 8)
                               AS DECIMAL(18, 8))
                          - CAST(round(ln(cw * 1.0 / nn.nn), 8)
                                 AS DECIMAL(18, 8))) AS term
              FROM sc
              JOIN stot USING (source)
              JOIN gc USING (tok), nn),
            sm AS (SELECT source, sum(term) AS sm FROM terms GROUP BY 1)
            SELECT t.source, t.n_s AS n_tokens, t.vocab,
                   round(sm.sm::DOUBLE / t.n_s, 6) AS kl_nats
            FROM stot t JOIN sm USING (source)
        """,
        "tpch_local_supplier_revenue": """
            SELECT n.n_name AS nation,
                   CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                                  * CAST(1 - l.l_discount AS DECIMAL(18,4))),
                              2) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
                           AND c.c_nationkey = s.s_nationkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            WHERE r.r_name = 'ASIA'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1997-01-01'
            GROUP BY 1
        """,
        # interevent_histogram: all-integer — whole-second gaps (the
        # bot_suspects // idiom), bucket = length(bin(g)) (identical
        # bit-length strings on both engines), bounds via BIGINT shifts.
        "interevent_histogram": """
            WITH g AS (
              SELECT event_type,
                     (epoch_us(ts)
                      - lag(epoch_us(ts)) OVER (
                          PARTITION BY user_id, event_type
                          ORDER BY epoch_us(ts), event_id))
                     // 1000000 AS g
              FROM events),
            b AS (SELECT event_type, length(bin(g))::INT AS bucket
                  FROM g WHERE g IS NOT NULL),
            h AS (SELECT event_type, bucket, count(*)::BIGINT AS n_gaps
                  FROM b GROUP BY 1, 2)
            SELECT event_type, bucket,
                   (CASE WHEN bucket > 1 THEN (1::BIGINT << (bucket - 1))
                         ELSE 0 END)::BIGINT AS bucket_lo_s,
                   (1::BIGINT << bucket)::BIGINT AS bucket_hi_s,
                   n_gaps
            FROM h
        """,
        # heaps_law: window-free prefix cuts (((max+1)*i) div 10),
        # BIGINT counts through the broadcast non-equi attach, then the
        # zipf_slope OLS idiom (8dp ln, decimal moments, double slope,
        # divide-guarded beta) repeated onto the curve rows.
        "heaps_law": """
            WITH toks AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
              FROM documents),
            docs AS (SELECT doc_id, len(ws)::BIGINT AS n_toks FROM toks),
            fl AS (SELECT doc_id, unnest(ws) AS tok FROM toks),
            firsts AS (SELECT tok, min(doc_id) AS first_k FROM fl
                       GROUP BY 1),
            mx AS (SELECT max(doc_id) AS m FROM documents),
            cuts AS (SELECT i, ((m + 1) * i) // 10 AS c
                     FROM mx, (SELECT unnest(range(1, 11)) AS i) g),
            ctoks AS (SELECT i, c, count(*)::BIGINT AS n_docs,
                             sum(n_toks)::BIGINT AS cum_tokens
                      FROM docs JOIN cuts ON docs.doc_id < cuts.c
                      GROUP BY 1, 2),
            cvoc AS (SELECT i, c, count(*)::BIGINT AS cum_vocab
                     FROM firsts JOIN cuts ON firsts.first_k < cuts.c
                     GROUP BY 1, 2),
            curve AS (SELECT i, n_docs, cum_tokens, cum_vocab
                      FROM ctoks JOIN cvoc USING (i, c)),
            xy AS (SELECT round(ln(cum_tokens::DOUBLE), 8) AS x,
                          round(ln(cum_vocab::DOUBLE), 8) AS y
                   FROM curve),
            m2 AS (SELECT count(*) AS cnt,
                          sum(CAST(x AS DECIMAL(20, 8))) AS sx,
                          sum(CAST(y AS DECIMAL(20, 8))) AS sy,
                          sum(CAST(x * y AS DECIMAL(30, 12))) AS sxy,
                          sum(CAST(x * x AS DECIMAL(30, 12))) AS sxx
                   FROM xy),
            bt AS (SELECT CASE WHEN cnt::DOUBLE * sxx::DOUBLE
                                    - sx::DOUBLE * sx::DOUBLE <> 0
                               THEN round((cnt::DOUBLE * sxy::DOUBLE
                                           - sx::DOUBLE * sy::DOUBLE)
                                          / (cnt::DOUBLE * sxx::DOUBLE
                                             - sx::DOUBLE * sx::DOUBLE), 4)
                                    + 0.0
                          END AS beta
                   FROM m2)
            SELECT ((i * 100) // 10)::INT AS pct, n_docs, cum_tokens,
                   cum_vocab, (SELECT beta FROM bt) AS beta
            FROM curve
        """,
        # host_mirrors: stop-neighbor pruning drops hub destinations
        # from the UNIVERSE (degrees and intersections alike), so true
        # mirrors keep jaccard 1.0; the unrounded quotient both filters
        # and (rounded) projects, the identical double on both engines.
        "host_mirrors": f"""
WITH {_EDGES_CTES},
e0 AS (SELECT src_host, dst_host FROM edges
       WHERE src_host <> dst_host),
kept AS (SELECT dst_host FROM e0 GROUP BY 1 HAVING count(*) <= 8),
e2 AS (SELECT e0.* FROM e0 JOIN kept USING (dst_host)),
deg AS (SELECT src_host AS host, count(*)::BIGINT AS deg
        FROM e2 GROUP BY 1),
pairs AS (SELECT a.src_host AS host_a, b.src_host AS host_b,
                 count(*)::BIGINT AS shared
          FROM e2 a JOIN e2 b
            ON a.dst_host = b.dst_host AND a.src_host < b.src_host
          GROUP BY 1, 2)
SELECT host_a, host_b, shared, da.deg AS deg_a, db.deg AS deg_b,
       round(shared * 1.0 / (da.deg + db.deg - shared), 4) AS jaccard
FROM pairs
JOIN deg da ON da.host = pairs.host_a
JOIN deg db ON db.host = pairs.host_b
WHERE shared * 1.0 / (da.deg + db.deg - shared) >= 0.25
        """,
        "host_seed_distance": _seed_distance_oracle(
            ("h0.example.com", "h1.example.com"), max_hops=3),
        # crawl_reachability: corpus hosts bucketed by seed-BFS hops;
        # hosts outside the graph or unreached fall in the NULL group;
        # the share divides by the window total cast back to BIGINT.
        "crawl_reachability": f"""
WITH {_EDGES_CTES},
{_seed_distance_ctes(("h0.example.com", "h1.example.com"), 3)},
hostdocs AS (
  SELECT {_host_case('doc_id')} AS host, count(*)::BIGINT AS n_docs
  FROM documents GROUP BY 1),
jj AS (
  SELECT hostdocs.host, d.hops, hostdocs.n_docs
  FROM hostdocs LEFT JOIN d3 d ON d.host = hostdocs.host),
g AS (
  SELECT hops, count(*)::BIGINT AS n_hosts, sum(n_docs)::BIGINT AS n_docs
  FROM jj GROUP BY 1)
SELECT hops, n_hosts, n_docs,
       round(n_docs * 1.0 / (sum(n_docs) OVER ())::BIGINT, 6) AS doc_share
FROM g
        """,
        # cdc_chunks: the gear value at position i is the closed form
        # sum(u[t] * 2^(L-t)) over the last L = least(8, i) md5-u32 token
        # hashes — integer-identical to the engine's acc*2+u fold; the
        # fixed-stride twin reuses _chunk_ctes. Shared-digest counts are
        # DISTINCT-set intersections per planted (orig, +5000000) pair.
        "cdc_chunks": f"""
WITH marked AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 11 = 0
),
alldocs AS (
  SELECT doc_id, text FROM marked
  UNION ALL
  SELECT doc_id + 5000000 AS doc_id, 'xq zr wv ' || text AS text
  FROM marked
),
cdw AS (SELECT doc_id, string_split(text, ' ') AS w FROM alldocs),
cdh AS (
  SELECT doc_id, w,
         list_transform(w, x -> {_md5_u32_sql('x')}) AS u
  FROM cdw),
cdb AS (
  SELECT doc_id, w,
         list_filter(range(1, len(w) + 1), i ->
           i = len(w) OR
           list_sum(list_transform(range(1, least(8, i) + 1), t ->
             u[i - least(8, i) + t]
             * power(2, least(8, i) - t)::BIGINT)) % 16 = 0
         ) AS b
  FROM cdh),
cdk AS (SELECT doc_id, w, b, unnest(range(1, len(b) + 1)) AS k FROM cdb),
cdcch AS (
  SELECT doc_id,
         md5(coalesce(array_to_string(
           w[(CASE WHEN k = 1 THEN 0 ELSE b[k - 1] END) + 1 : b[k]],
           ' '), '')) AS d
  FROM cdk),
cdcd AS (SELECT DISTINCT doc_id, d FROM cdcch),
{_chunk_ctes('alldocs')},
fixd AS (SELECT DISTINCT doc_id, md5(chunk) AS d FROM chunks),
pools AS (
  SELECT 'cdc' AS kind, doc_id, d FROM cdcd
  UNION ALL
  SELECT 'fixed' AS kind, doc_id, d FROM fixd
),
orig AS (SELECT kind, doc_id, d FROM pools WHERE doc_id < 5000000),
cpy AS (SELECT kind, doc_id - 5000000 AS doc_id, d FROM pools
        WHERE doc_id >= 5000000),
nch AS (SELECT kind, doc_id, count(*)::BIGINT AS n_chunks
        FROM orig GROUP BY 1, 2),
nsh AS (SELECT o.kind, o.doc_id, count(*)::BIGINT AS n_shared
        FROM orig o
        JOIN cpy c ON o.kind = c.kind AND o.doc_id = c.doc_id
                  AND o.d = c.d
        GROUP BY 1, 2),
m AS (SELECT nch.kind, nch.doc_id, nch.n_chunks,
             coalesce(nsh.n_shared, 0)::BIGINT AS n_shared
      FROM nch LEFT JOIN nsh
        ON nch.kind = nsh.kind AND nch.doc_id = nsh.doc_id)
SELECT c.doc_id AS orig_id,
       c.n_chunks AS cdc_chunks, c.n_shared AS cdc_shared,
       round(c.n_shared / c.n_chunks, 4) AS cdc_rate,
       f.n_chunks AS fixed_chunks, f.n_shared AS fixed_shared,
       round(f.n_shared / f.n_chunks, 4) AS fixed_rate
FROM m c JOIN m f ON c.doc_id = f.doc_id
WHERE c.kind = 'cdc' AND f.kind = 'fixed'
        """,
        # snapshot_gc_report: the icetbl lifecycle is fully determined by
        # the doc_id % 3 slice sizes — single-file appends (repartition(1))
        # make file counts exact literals, compaction rewrites to 1 file,
        # and expire(keep_last=1) reclaims exactly the 3 pre-compaction
        # files (the rewritten file is the only live reference).
        "snapshot_gc_report": """
WITH n AS (SELECT count(*) FILTER (WHERE doc_id % 3 = 0) AS na,
                  count(*) FILTER (WHERE doc_id % 3 = 1) AS nb,
                  count(*) AS nt
           FROM documents)
SELECT s.step::BIGINT AS step, s.phase, s.snapshot_id::BIGINT AS snapshot_id,
       s.n_files::BIGINT AS n_files,
       (CASE s.rk WHEN 0 THEN n.na WHEN 1 THEN n.na + n.nb
                  ELSE n.nt END)::BIGINT AS n_rows,
       s.reclaimed_files::BIGINT AS reclaimed_files
FROM n, (VALUES (1, 'append', 1, 1, 0, 0),
                (2, 'append', 2, 2, 1, 0),
                (3, 'append', 3, 3, 2, 0),
                (4, 'compact', 4, 1, 3, 0),
                (5, 'expire', 4, 1, 3, 3))
       AS s(step, phase, snapshot_id, n_files, rk, reclaimed_files)
        """,
        # crawl_diff: arithmetic prediction of the digest compare —
        # doc_id % 5 == 0 urls are re-crawled (corpus.capture_rows);
        # among them k=5 carries changed content, k=0 is byte-identical.
        "crawl_diff": f"""
            WITH d AS (
              SELECT doc_id, {_HOST_CASE} AS host,
                     (doc_id % 5 = 0)::INT AS recrawled,
                     (doc_id % 10 = 5)::INT AS changed
              FROM documents
            )
            SELECT host, count(*)::BIGINT AS n_urls,
                   sum(recrawled)::BIGINT AS n_recrawled,
                   sum(changed)::BIGINT AS n_changed,
                   sum(recrawled - changed)::BIGINT AS n_unchanged
            FROM d GROUP BY host
        """,
        # url_aliases: corpus arithmetic — the query mirrors every %5
        # url's captures under mirror-a (and %15 under mirror-b too);
        # latest captures are byte-identical within a cluster and unique
        # across docs, so each %5 doc is exactly one cluster with its
        # original url as the lexicographic-min canonical.
        "url_aliases": f"""
            SELECT 'https://' || {_HOST_CASE} || '/' || source || '/' ||
                   {_STEM_CASE} || '-' || doc_id || {_EXT_CASE}
                     AS canonical_url,
                   (CASE WHEN doc_id % 15 = 0 THEN 3 ELSE 2 END)::BIGINT
                     AS n_urls,
                   (CASE WHEN doc_id % 15 = 0 THEN 3 ELSE 2 END)::BIGINT
                     AS n_hosts
            FROM documents WHERE doc_id % 5 = 0
            UNION ALL
            -- the corpus's one NATURAL dup cluster: every %20==19 doc
            -- serves the same constant junk payload (corpus.build_payload
            -- k=9); %20==9 docs have NULL payloads and must NOT cluster.
            SELECT min('https://' || {_HOST_CASE} || '/' || source || '/' ||
                       {_STEM_CASE} || '-' || doc_id || {_EXT_CASE}),
                   count(*)::BIGINT,
                   count(DISTINCT {_HOST_CASE})::BIGINT
            FROM documents WHERE doc_id % 20 = 19
        """,
        # dedup_cluster_sizes: the minhash-LSH pair CTEs (sig/bands, as
        # in curate_corpus) → recursive closure → per-label sizes →
        # histogram; singletons from count arithmetic.
        "dedup_cluster_sizes": f"""
            WITH RECURSIVE {_SHINGLES_CTE},
            sig AS (
              SELECT doc_id, g.j AS j,
                     min(md5(g.j || '|' || shingle)) AS m
              FROM sh, generate_series(0, 7) AS g(j)
              GROUP BY doc_id, g.j
            ),
            bands AS (
              SELECT doc_id, j // 2 AS band,
                     md5(string_agg(m, '' ORDER BY j)) AS bucket
              FROM sig GROUP BY doc_id, j // 2
            ),
            pairs AS (
              SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bucket = b.bucket
                AND a.doc_id < b.doc_id
            ),
            edges AS (
              SELECT a AS src, b AS dst FROM pairs
              UNION
              SELECT b AS src, a AS dst FROM pairs),
            reach(node, r) AS (
              SELECT src AS node, src AS r FROM edges
              UNION
              SELECT e.dst AS node, reach.r
              FROM reach JOIN edges e ON reach.node = e.src),
            comp AS (SELECT node, min(r) AS label FROM reach GROUP BY node),
            sizes AS (
              SELECT label, count(*) AS cluster_size FROM comp
              GROUP BY label),
            hist AS (
              SELECT cluster_size, count(*) AS n_clusters FROM sizes
              GROUP BY cluster_size),
            tot AS (SELECT count(*) AS n_total FROM documents),
            clus AS (SELECT count(*) AS n_clustered FROM comp)
            SELECT cluster_size::BIGINT AS cluster_size,
                   n_clusters::BIGINT AS n_clusters,
                   (cluster_size * n_clusters)::BIGINT AS n_docs
            FROM hist
            UNION ALL
            SELECT 1::BIGINT, (n_total - n_clustered)::BIGINT,
                   (n_total - n_clustered)::BIGINT
            FROM tot, clus
        """,
        # anchor_text_stats: corpus arithmetic — every html page carries
        # 6 nav "Section i" + footer Terms/Privacy self-anchors; non-memo
        # archetypes add the aside/link-farm five; footers add 3 constant
        # "partner" anchors to corpus.partner_hosts.
        "anchor_text_stats": f"""
            WITH {_ANCHOR_CTES}
            SELECT dst_host, anchor, n_links FROM anchors
        """,
        "host_topic_labels": f"""
            WITH {_ANCHOR_CTES},
            named AS (
              SELECT {_HOST_CASE} AS dst_host,
                     'guide to ' || {_HOST_CASE} AS anchor,
                     count(*)::BIGINT AS n_links
              FROM documents WHERE doc_id % 5 = 0 GROUP BY 1, 2
              UNION ALL
              SELECT {_HOST_CASE} AS dst_host,
                     'news from ' || {_HOST_CASE} AS anchor,
                     count(*)::BIGINT AS n_links
              FROM documents WHERE doc_id % 3 = 0 GROUP BY 1, 2
            ),
            anchors2 AS (
              SELECT * FROM anchors UNION ALL SELECT * FROM named),
            nh AS (SELECT count(DISTINCT dst_host) AS n FROM anchors2),
            chrome AS (
              SELECT anchor FROM anchors2 CROSS JOIN nh
              GROUP BY anchor, nh.n
              HAVING count(DISTINCT dst_host) * 100 > 50 * nh.n),
            topical AS (
              SELECT a.dst_host, a.anchor, a.n_links
              FROM anchors2 a
              WHERE a.anchor NOT IN (SELECT anchor FROM chrome)),
            ranked AS (
              SELECT dst_host, anchor, n_links,
                     row_number() OVER (
                       PARTITION BY dst_host
                       ORDER BY n_links DESC, anchor)::INT AS rnk,
                     (sum(n_links) OVER (PARTITION BY dst_host))::BIGINT
                       AS tot
              FROM topical)
            SELECT dst_host, rnk, anchor, n_links,
                   round(n_links * 1.0 / tot, 4) AS share
            FROM ranked WHERE rnk <= 3
        """,
        # recrawl_schedule: doc_id % 5 == 0 urls have two captures
        # (corpus.capture_rows) — k=5 changed -> 24h, k=0 identical ->
        # 168h; everything else is single-capture -> 72h.
        "recrawl_schedule": f"""
            WITH d AS (
              SELECT doc_id, {_HOST_CASE} AS host,
                     CASE WHEN doc_id % 10 = 5 THEN 24
                          WHEN doc_id % 10 = 0 THEN 168
                          ELSE 72 END AS interval_hours
              FROM documents
            )
            SELECT host, interval_hours, count(*)::BIGINT AS n_urls
            FROM d GROUP BY 1, 2
        """,
        # crawl_budget: the synthesized capture pattern reduces to doc_id
        # arithmetic — doc_id%10==5 is a changed re-crawl, %10==0 a
        # stable re-crawl, the rest single captures (corpus.captures).
        "crawl_budget": f"""
            WITH d AS (
              SELECT doc_id, {_HOST_CASE} AS host,
                     (doc_id % 10 = 5)::INT AS changed,
                     (doc_id % 10 IN (0, 5))::INT AS recrawled
              FROM documents
            ),
            h AS (
              SELECT host, count(*)::BIGINT AS n_urls,
                     sum(changed)::BIGINT AS n_changed,
                     sum(recrawled)::BIGINT AS n_recrawled
              FROM d GROUP BY 1
            ),
            w AS (
              SELECT host, n_urls, n_changed,
                     CASE WHEN n_recrawled > 0
                          THEN round(n_changed * 1000.0 / n_recrawled)::BIGINT
                          ELSE 0 END AS churn_pm
              FROM h
            ),
            ww AS (
              SELECT *, n_urls * (1000 + churn_pm) AS weight FROM w
            )
            SELECT host, n_urls, n_changed, churn_pm, weight,
                   ((10000 * weight)
                    // (SELECT sum(weight)::BIGINT FROM ww))::BIGINT
                     AS budget
            FROM ww
        """,
        "phrase_search": """
            WITH toks AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS l
              FROM documents
            ),
            pos AS (SELECT doc_id, unnest(range(len(l))) AS p, l FROM toks),
            pp AS (SELECT doc_id, p, l[(p + 1)::INT] AS term FROM pos)
            SELECT a.doc_id, count(*)::BIGINT AS n_matches
            FROM pp a JOIN pp b ON a.doc_id = b.doc_id AND b.p = a.p + 1
            WHERE a.term = 'table' AND b.term = 'part'
            GROUP BY 1
        """,
        "and_search": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS term
              FROM documents
            )
            SELECT doc_id, count(*)::BIGINT AS n_hits
            FROM toks WHERE term IN ('vector', 'merge')
            GROUP BY doc_id
            HAVING count(DISTINCT term) = 2
        """,
        "tfidf_top_terms": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS term
              FROM documents
            ),
            tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            sc AS (
              SELECT tf.doc_id, tf.term, tf.tf,
                     tf.tf * round(ln((nd.n_docs + 1) / (dfq.df + 1)), 8)
                       AS score
              FROM tf JOIN dfq USING (term) CROSS JOIN nd
            ),
            rk AS (
              SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
              FROM sc
            )
            SELECT doc_id, term, tf::BIGINT AS tf, round(score, 6) AS score,
                   rnk::INT AS rnk
            FROM rk WHERE rnk <= 3
        """,
        "bpe_pair_counts": """
            WITH toks AS (
              SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS w
              FROM documents
            ),
            wc AS (SELECT w, count(*) AS wn FROM toks GROUP BY w),
            pr AS (
              SELECT substr(w, i::INT, 2) AS pair, wn
              FROM (SELECT w, wn, unnest(range(1, length(w))) AS i
                    FROM wc WHERE length(w) >= 2)
            )
            SELECT pair, sum(wn)::BIGINT AS n
            FROM pr GROUP BY pair
            ORDER BY n DESC, pair LIMIT 200
        """,
        "dsir_importance": """
            WITH tl AS (
              SELECT doc_id, lang,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS t
              FROM documents
            ),
            unn AS (
              SELECT doc_id, lang, t, unnest(range(1, len(t))) AS i
              FROM tl WHERE len(t) >= 2
            ),
            gsel AS (
              SELECT doc_id, lang,
                     t[i::INT] || ' ' || t[(i + 1)::INT] AS g
              FROM unn
            ),
            feat AS (
              SELECT doc_id, lang,
                     (instr('0123456789abcdef', substr(md5(g), 1, 1)) - 1)
                       * 16
                     + instr('0123456789abcdef', substr(md5(g), 2, 1)) - 1
                       AS b
              FROM gsel
            ),
            docfeat AS (
              SELECT doc_id, b, count(*) AS n FROM feat GROUP BY 1, 2
            ),
            rawlm AS (SELECT b, count(*) AS cr FROM feat GROUP BY b),
            tgtlm AS (SELECT b, count(*) AS ct FROM feat
                      WHERE lang = 'en' GROUP BY b),
            rt AS (SELECT sum(cr) AS tr FROM rawlm),
            tt AS (SELECT sum(ct) AS tt FROM tgtlm),
            lm AS (
              SELECT rawlm.b,
                     round(ln((coalesce(ct, 0) + 1) / (tt + 256)), 8)
                     - round(ln((cr + 1) / (tr + 256)), 8) AS dlogp
              FROM rawlm LEFT JOIN tgtlm USING (b)
              CROSS JOIN rt CROSS JOIN tt
            ),
            sc AS (
              SELECT doc_id, sum(n)::BIGINT AS n_feats,
                     sum(CAST(n * dlogp AS DECIMAL(18, 8))) AS lw
              FROM docfeat JOIN lm USING (b) GROUP BY doc_id
            )
            SELECT doc_id, n_feats, round(lw::DOUBLE, 4) AS log_weight,
                   lw > 0 AS keep
            FROM sc
        """,
        "nb_quality": f"""
            WITH {_NB_CTES}
            SELECT doc_id, is_seed, n_tokens,
                   round(lo::DOUBLE, 4) AS log_odds, lo > 0 AS nb_keep
            FROM sc
        """,
        "host_content_entropy": f"""
            WITH m AS (
              SELECT {_HOST_CASE} AS host, md5(text) AS cat
              FROM documents),
            counts AS (
              SELECT host, cat, count(*)::BIGINT AS c FROM m GROUP BY 1, 2),
            tot AS (SELECT host, sum(c)::BIGINT AS n FROM counts GROUP BY 1),
            terms AS (
              SELECT c.host, t.n,
                     round(-(c.c / t.n) * round(ln(c.c / t.n), 8),
                           6)::DECIMAL(18,6) AS term
              FROM counts c JOIN tot t USING (host))
            SELECT host, max(n)::BIGINT AS n_rows,
                   count(*)::BIGINT AS n_cats,
                   round(sum(term)::DOUBLE, 4) AS entropy
            FROM terms GROUP BY host
        """,
        "dedup_methods_overlap": f"""
            WITH {_SHINGLES_CTE}, {_JPAIRS_CTES}, {_LSH_PAIRS_CTES},
            {_simhash_sig_ctes("documents", "sx")},
            {_winnow_ctes("documents")},
            jp AS (
              SELECT a, b FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
              WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= 0.5),
            sxbd AS (
              SELECT doc_id, simhash,
                     ((simhash >> (16 * i.i)::INT) & 65535)
                       + (i.i::BIGINT << 16) AS bkey
              FROM sxsig, (SELECT unnest(range(4)) AS i) i),
            sxok AS (SELECT bkey FROM sxbd GROUP BY 1
                     HAVING count(*) BETWEEN 2 AND 1000),
            sp AS (
              SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
              FROM sxbd x JOIN sxbd y
                ON x.bkey = y.bkey AND x.doc_id < y.doc_id
              JOIN sxok ON sxok.bkey = x.bkey
              WHERE bit_count(xor(x.simhash, y.simhash)) <= 3),
            wok AS (SELECT fingerprint FROM wfp GROUP BY 1
                    HAVING count(*) BETWEEN 2 AND 1000),
            wp AS (
              SELECT x.doc_id AS a, y.doc_id AS b
              FROM wfp x JOIN wfp y
                ON x.fingerprint = y.fingerprint
                AND x.doc_id < y.doc_id
              JOIN wok ON wok.fingerprint = x.fingerprint
              GROUP BY 1, 2 HAVING count(*) >= 2),
            allp AS (
              SELECT DISTINCT a, b FROM (
                SELECT a, b FROM jp
                UNION ALL SELECT a, b FROM pairs
                UNION ALL SELECT a, b FROM sp
                UNION ALL SELECT a, b FROM wp)),
            fl AS (
              SELECT (j.a IS NOT NULL) AS in_jaccard,
                     (l.a IS NOT NULL) AS in_lsh,
                     (s.a IS NOT NULL) AS in_simhash,
                     (w2.a IS NOT NULL) AS in_winnow
              FROM allp al
              LEFT JOIN jp j ON j.a = al.a AND j.b = al.b
              LEFT JOIN pairs l ON l.a = al.a AND l.b = al.b
              LEFT JOIN sp s ON s.a = al.a AND s.b = al.b
              LEFT JOIN wp w2 ON w2.a = al.a AND w2.b = al.b)
            SELECT in_jaccard, in_lsh, in_simhash, in_winnow,
                   count(*)::BIGINT AS n_pairs
            FROM fl GROUP BY 1, 2, 3, 4
        """,
        "quality_confusion": f"""
            WITH {_SHINGLES_CTE}, {_VERDICT_CTES}, {_NB_CTES},
            j AS (
              SELECT s.lo > 0 AS nb_keep, v.vreason AS reason
              FROM sc s JOIN verdict v ON v.doc_id = s.doc_id),
            t AS (SELECT count(*) AS t FROM j)
            SELECT nb_keep, reason, count(*)::BIGINT AS n_docs,
                   round((count(*) * 1.0) / (SELECT t FROM t), 4) AS share
            FROM j GROUP BY 1, 2
        """,
        "chunk_documents": f"""
            WITH {_chunk_ctes("documents")}
            SELECT doc_id, chunk_id, n_words, chunk FROM chunks
        """,
        "chunk_dedup": f"""
            WITH docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + 4000000, text FROM documents
              WHERE doc_id % 13 = 0
            ),
            {_chunk_ctes("docs")},
            dd AS (
              SELECT doc_id, chunk_id,
                     doc_id::BIGINT * 4194304 + chunk_id AS p,
                     md5(chunk) AS d
              FROM chunks),
            ag AS (
              SELECT d, min(p) AS keepp, count(*)::BIGINT AS n_copies
              FROM dd GROUP BY 1)
            SELECT dd.doc_id, dd.chunk_id, dd.p = ag.keepp AS keep,
                   ag.n_copies
            FROM dd JOIN ag USING (d)
        """,
        "shingle_novelty": """
            WITH w AS (
              SELECT doc_id // 50 AS r, string_split(text, ' ') AS w
              FROM documents
            ),
            pos AS (
              SELECT r, unnest(range(1, len(w) - 3)) AS i, w
              FROM w WHERE len(w) >= 5
            ),
            sh AS (
              SELECT DISTINCT r,
                     md5(array_to_string(w[i : i + 4], ' ')) AS d
              FROM pos
            ),
            fst AS (SELECT d, min(r) AS fr FROM sh GROUP BY d)
            SELECT sh.r AS crawl_round, count(*)::BIGINT AS n_shingles,
                   sum(CASE WHEN fst.fr = sh.r THEN 1 ELSE 0 END)::BIGINT
                     AS n_new,
                   round(sum(CASE WHEN fst.fr = sh.r THEN 1 ELSE 0 END)
                         / count(*), 4) AS new_frac
            FROM sh JOIN fst USING (d) GROUP BY sh.r
        """,
        "group_holdout_split": """
            WITH sizes AS (
              SELECT source, count(*) AS n FROM documents GROUP BY source
            ),
            tot AS (SELECT sum(n) AS total FROM sizes),
            cum AS (
              SELECT source,
                     sum(n) OVER (ORDER BY md5(source)) - n AS bef
              FROM sizes
            ),
            asg AS (
              SELECT source,
                     CASE WHEN bef / total < 0.9 THEN 'train'
                          WHEN bef / total < 0.95 THEN 'val'
                          ELSE 'test' END AS split
              FROM cum CROSS JOIN tot
            )
            SELECT d.doc_id, d.source, a.split
            FROM documents d JOIN asg a USING (source)
        """,
        "temperature_mix": """
            WITH sizes AS (
              SELECT source, count(*) AS c FROM documents GROUP BY source
            ),
            wdec AS (
              SELECT source, c,
                     CAST(round(sqrt(c::DOUBLE), 6) AS DECIMAL(28, 6)) AS w
              FROM sizes
            ),
            tot AS (SELECT sum(w) AS wsum, sum(c) AS n FROM wdec),
            rates AS (
              SELECT source,
                     least(
                       CAST(floor(
                         ((CAST(round(n * 0.5) AS BIGINT)
                           * (w::DOUBLE / wsum::DOUBLE)) / c) * 65536
                       ) AS BIGINT),
                       65536
                     ) AS thr
              FROM wdec CROSS JOIN tot
            )
            SELECT d.doc_id, d.source
            FROM documents d JOIN rates r USING (source)
            WHERE r.thr >= 65536
               OR substr(md5(d.doc_id::VARCHAR), 1, 4)
                  < lpad(lower(to_hex(r.thr)), 4, '0')
        """,
        "zorder_key": """
            WITH g AS (
              SELECT doc_id, doc_id % 64 AS x, (doc_id // 64) % 64 AS y
              FROM documents
            )
            SELECT doc_id, x, y,
                   (((x >> 0) & 1) << 0)  + (((y >> 0) & 1) << 1)
                 + (((x >> 1) & 1) << 2)  + (((y >> 1) & 1) << 3)
                 + (((x >> 2) & 1) << 4)  + (((y >> 2) & 1) << 5)
                 + (((x >> 3) & 1) << 6)  + (((y >> 3) & 1) << 7)
                 + (((x >> 4) & 1) << 8)  + (((y >> 4) & 1) << 9)
                 + (((x >> 5) & 1) << 10) + (((y >> 5) & 1) << 11)
                   AS zkey
            FROM g
        """,
        "unigram_logprob": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS tok
              FROM documents
            ),
            dt AS (SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY 1, 2),
            vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
            tot AS (SELECT sum(c) AS t_tokens, count(*) AS v_size FROM vocab),
            sc AS (
              SELECT dt.doc_id, dt.n,
                     round(ln((vocab.c + 1) / (tot.t_tokens + tot.v_size)),
                           8) AS logp
              FROM dt JOIN vocab USING (tok) CROSS JOIN tot
            )
            SELECT doc_id, sum(n)::BIGINT AS n_tokens,
                   round(-sum(n * logp) / sum(n), 4) AS nats_per_token
            FROM sc GROUP BY doc_id
        """,
        "bigram_logprob": """
            WITH tl AS (
              SELECT doc_id,
                     regexp_extract_all(lower(text), '[a-z0-9]+') AS t
              FROM documents
            ),
            v AS (
              SELECT count(DISTINCT tok) AS v
              FROM (SELECT unnest(t) AS tok FROM tl)
            ),
            unn AS (
              SELECT doc_id, t, unnest(range(1, len(t))) AS i
              FROM tl WHERE len(t) >= 2
            ),
            bg AS (
              SELECT doc_id, t[i::INT] AS w1,
                     t[i::INT] || ' ' || t[(i + 1)::INT] AS g
              FROM unn
            ),
            dbg AS (
              SELECT doc_id, g, w1, count(*) AS n FROM bg GROUP BY 1, 2, 3
            ),
            ctx AS (SELECT w1, sum(n) AS cctx FROM dbg GROUP BY 1),
            lm AS (
              SELECT g, round(ln((c + 1) / (cctx + v)), 8) AS logp
              FROM (SELECT g, w1, sum(n) AS c FROM dbg GROUP BY 1, 2) b
              JOIN ctx USING (w1) CROSS JOIN v
            ),
            sc AS (
              SELECT doc_id, sum(n)::BIGINT AS n_bigrams,
                     sum(CAST(n * logp AS DECIMAL(18, 8))) AS lo
              FROM dbg JOIN lm USING (g) GROUP BY 1
            )
            SELECT doc_id, n_bigrams,
                   round((-lo)::DOUBLE / n_bigrams, 4) AS nats_per_bigram
            FROM sc
        """,
        # zipf_slope: OLS of ln(freq) on ln(rank) over the top-500 tokens;
        # 8dp-quantized lns, decimal moment sums, double arithmetic after.
        "zipf_slope": """
            WITH tok AS (
              SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS tok
              FROM documents
            ),
            c AS (SELECT tok, count(*) AS n FROM tok GROUP BY 1),
            top AS (SELECT tok, n FROM c ORDER BY n DESC, tok LIMIT 500),
            r AS (
              SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank
              FROM top
            ),
            xy AS (
              SELECT round(ln(rank), 8) AS x, round(ln(n), 8) AS y FROM r
            ),
            m AS (
              SELECT count(*) AS cnt,
                     sum(CAST(x AS DECIMAL(20, 8))) AS sx,
                     sum(CAST(y AS DECIMAL(20, 8))) AS sy,
                     sum(CAST(x * y AS DECIMAL(30, 12))) AS sxy,
                     sum(CAST(x * x AS DECIMAL(30, 12))) AS sxx
              FROM xy
            ),
            s AS (
              SELECT cnt, sx::DOUBLE AS sx, sy::DOUBLE AS sy,
                     (cnt::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                     / (cnt::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                       AS slope
              FROM m
            )
            SELECT cnt AS n_ranked, round(slope, 4) AS slope,
                   round((sy - slope * sx) / cnt::DOUBLE, 4) AS intercept
            FROM s
        """,
        # quality_deciles: NTILE(10) over the unigram-LM doc scores
        # (ties on doc_id); per-decile doc/token mass + decimal mean nats.
        "quality_deciles": """
            WITH toks AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS tok
              FROM documents
            ),
            dt AS (SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY 1, 2),
            vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
            tot AS (SELECT sum(c) AS t_tokens, count(*) AS v_size FROM vocab),
            sc AS (
              SELECT dt.doc_id, dt.n,
                     round(ln((vocab.c + 1) / (tot.t_tokens + tot.v_size)),
                           8) AS logp
              FROM dt JOIN vocab USING (tok) CROSS JOIN tot
            ),
            scores AS (
              SELECT doc_id, sum(n)::BIGINT AS n_tokens,
                     round(-sum(n * logp) / sum(n), 4) AS nats_per_token
              FROM sc GROUP BY doc_id
            ),
            b AS (
              SELECT *, ntile(10) OVER (ORDER BY nats_per_token, doc_id)
                       AS decile
              FROM scores
            )
            SELECT decile, count(*)::BIGINT AS n_docs,
                   sum(n_tokens)::BIGINT AS n_tokens,
                   round(sum(CAST(nats_per_token AS DECIMAL(18, 4)))::DOUBLE
                         / count(*), 4) AS mean_nats
            FROM b GROUP BY decile
        """,
        # dedup_representatives: LSH pairs -> recursive closure (the
        # curate_corpus CTE chain) -> per-cluster longest-doc keeper.
        "dedup_representatives": f"""
            WITH RECURSIVE {_SHINGLES_CTE},
            sig AS (
              SELECT doc_id, g.j AS j,
                     min(md5(g.j || '|' || shingle)) AS m
              FROM sh, generate_series(0, 7) AS g(j)
              GROUP BY doc_id, g.j
            ),
            bands AS (
              SELECT doc_id, j // 2 AS band,
                     md5(string_agg(m, '' ORDER BY j)) AS bucket
              FROM sig GROUP BY doc_id, j // 2
            ),
            pairs AS (
              SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bucket = b.bucket
                AND a.doc_id < b.doc_id
            ),
            edges AS (
              SELECT a AS src, b AS dst FROM pairs
              UNION
              SELECT b AS src, a AS dst FROM pairs),
            reach(node, r) AS (
              SELECT src AS node, src AS r FROM edges
              UNION
              SELECT e.dst AS node, reach.r
              FROM reach JOIN edges e ON reach.node = e.src),
            comp AS (SELECT node, min(r) AS label FROM reach GROUP BY node),
            mem AS (
              SELECT c.label AS cluster, d.doc_id,
                     len(string_split(d.text, ' ')) AS n_tokens
              FROM comp c JOIN documents d ON d.doc_id = c.node),
            rk AS (
              SELECT *, row_number() OVER (
                PARTITION BY cluster ORDER BY n_tokens DESC, doc_id) AS rn
              FROM mem)
            SELECT cluster,
                   max(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc,
                   count(*)::BIGINT AS n_members,
                   max(CASE WHEN rn = 1 THEN n_tokens END)::INT
                     AS kept_tokens,
                   coalesce(sum(CASE WHEN rn > 1 THEN n_tokens END),
                            0)::BIGINT AS tokens_dropped
            FROM rk GROUP BY cluster
        """,
        # lsh_precision_eval: exact-Jaccard ground truth (same hot-shingle
        # cap as ngram_jaccard_pairs) scored against the banded LSH
        # candidate set.
        "lsh_precision_eval": f"""
            WITH {_SHINGLES_CTE},
            sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            ok AS (SELECT shingle FROM sh GROUP BY 1
                   HAVING count(*) BETWEEN 2 AND 1000),
            inter AS (
              SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS inter
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              JOIN ok ON ok.shingle = a.shingle
              GROUP BY 1, 2
            ),
            jac AS (
              SELECT a, b,
                     round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
              FROM inter
              JOIN sizes sa ON sa.doc_id = a
              JOIN sizes sb ON sb.doc_id = b
            ),
            truth AS (SELECT a, b FROM jac WHERE jaccard >= 0.5),
            sig AS (
              SELECT doc_id, g.j AS j,
                     min(md5(g.j || '|' || shingle)) AS m
              FROM sh, generate_series(0, 7) AS g(j)
              GROUP BY doc_id, g.j
            ),
            bands AS (
              SELECT doc_id, j // 2 AS band,
                     md5(string_agg(m, '' ORDER BY j)) AS bucket
              FROM sig GROUP BY doc_id, j // 2
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
              FROM bands a JOIN bands b
                ON a.band = b.band AND a.bucket = b.bucket
                AND a.doc_id < b.doc_id
            ),
            m AS (
              SELECT (SELECT count(*) FROM cand) AS n_candidates,
                     (SELECT count(*) FROM truth) AS n_true_pairs,
                     (SELECT count(*) FROM cand JOIN truth USING (a, b))
                       AS n_hits
            )
            SELECT 0.5::DOUBLE AS threshold,
                   n_candidates, n_true_pairs, n_hits,
                   round(n_hits * 1.0 / nullif(n_candidates, 0), 4)
                     AS precision_at_t,
                   round(n_hits * 1.0 / nullif(n_true_pairs, 0), 4)
                     AS recall_at_t
            FROM m
        """,
        # dedup_lines: 4-line synthetic doc (header repeats at lines 1,
        # 2-or-mid, and tail) — keep first occurrences, preserve order.
        # DuckDB list lambdas index 1-based; Spark 0-based (i+1).
        "dedup_lines": """
            WITH inp AS (
              SELECT doc_id,
                     'nav ' || (doc_id % 5)::VARCHAR || chr(10) || text ||
                     chr(10) ||
                     CASE WHEN doc_id % 3 = 0
                          THEN 'nav ' || (doc_id % 5)::VARCHAR
                          ELSE 'mid ' || doc_id::VARCHAR END ||
                     chr(10) || 'nav ' || (doc_id % 5)::VARCHAR AS t
              FROM documents),
            l AS (SELECT doc_id, string_split(t, chr(10)) AS lines FROM inp),
            k AS (
              SELECT doc_id, lines,
                     list_filter(lines,
                                 (x, i) -> list_position(lines, x) = i)
                       AS kept
              FROM l)
            SELECT doc_id, array_to_string(kept, chr(10)) AS text,
                   len(lines)::INT AS n_lines_in,
                   len(kept)::INT AS n_lines_kept
            FROM k
        """,
        # encoding_health: injected mojibake / U+FFFD / control-byte
        # damage, attributed per source.
        "encoding_health": """
            WITH inp AS (
              SELECT source,
                     text
                     || CASE WHEN doc_id % 7 = 0
                             THEN ' cafÃ© itâ€™s' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                             THEN ' bad' || chr(65533) || 'byte'
                             ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                             THEN ' ctl' || chr(1) || 'end'
                             ELSE '' END AS t
              FROM documents),
            f AS (
              SELECT source,
                     CASE WHEN regexp_matches(t, '(â€|Ã[©¨¤¶¼])')
                          THEN 1 ELSE 0 END AS moji,
                     CASE WHEN contains(t, chr(65533))
                          THEN 1 ELSE 0 END AS repl,
                     CASE WHEN regexp_matches(
                              t, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]')
                          THEN 1 ELSE 0 END AS ctrl
              FROM inp)
            SELECT source, count(*)::BIGINT AS n_docs,
                   sum(moji)::BIGINT AS mojibake_docs,
                   sum(repl)::BIGINT AS replacement_docs,
                   sum(ctrl)::BIGINT AS control_docs,
                   round(sum(CASE WHEN moji + repl + ctrl > 0
                             THEN 1 ELSE 0 END) * 1.0 / count(*), 4)
                     AS damaged_frac
            FROM f GROUP BY source
        """,
        # fix_encoding: the repair twin — identical injected damage, the
        # closed cp1252 repair table as a nested replace chain (innermost
        # = first fix, same order as textstats.MOJIBAKE_FIXES, spelled in
        # chr() codepoints so no editor can re-encode the sequences),
        # then U+FFFD removal, then C0-control strip.
        "fix_encoding": """
            WITH inp AS (
              SELECT doc_id,
                     text
                     || CASE WHEN doc_id % 7 = 0
                             THEN ' cafÃ© itâ€™s' ELSE '' END
                     || CASE WHEN doc_id % 11 = 0
                             THEN ' bad' || chr(65533) || 'byte'
                             ELSE '' END
                     || CASE WHEN doc_id % 13 = 0
                             THEN ' ctl' || chr(1) || 'end'
                             ELSE '' END
                     || CASE WHEN doc_id % 5 = 0
                             THEN ' ' || chr(226)||chr(8364)||chr(339)
                               || 'quoted'
                               || chr(226)||chr(8364)||chr(157)
                             ELSE '' END AS t
              FROM documents),
            f AS (
              SELECT doc_id, t,
                regexp_replace(
                  replace(
                  replace(replace(replace(replace(replace(
                  replace(replace(replace(replace(replace(
                    t,
                    chr(226)||chr(8364)||chr(8482), chr(8217)),
                    chr(226)||chr(8364)||chr(339),  chr(8220)),
                    chr(226)||chr(8364)||chr(157),  chr(8221)),
                    chr(226)||chr(8364)||chr(8220), chr(8211)),
                    chr(226)||chr(8364)||chr(8221), chr(8212)),
                    chr(195)||chr(169), chr(233)),
                    chr(195)||chr(168), chr(232)),
                    chr(195)||chr(164), chr(228)),
                    chr(195)||chr(182), chr(246)),
                    chr(195)||chr(188), chr(252)),
                  chr(65533), ''),
                '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]', '', 'g') AS fixed
              FROM inp)
            SELECT doc_id, fixed AS text,
                   length(t)::INT AS n_chars_in,
                   length(fixed)::INT AS n_chars_out,
                   (regexp_matches(t, '(â€|Ã[©¨¤¶¼])')
                    OR contains(t, chr(65533))
                    OR regexp_matches(
                         t, '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]'))
                     AS was_damaged
            FROM f
        """,
        # data_budget_plan: sqrt-temperature token allocation; the weight
        # denominator sums 4dp-quantized roots through DECIMAL(18,4)
        # (order-free), matching the Spark plan exactly.
        "data_budget_plan": """
            WITH s AS (
              SELECT source,
                     sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
              FROM documents GROUP BY source),
            r AS (
              SELECT source, n_tokens,
                     round(sqrt(n_tokens), 4) AS rt
              FROM s),
            d AS (
              SELECT sum(rt::DECIMAL(18,4)) AS denom FROM r),
            p AS (
              SELECT source, n_tokens,
                     round(rt / denom::DOUBLE, 6) AS weight,
                     floor(2000000.0 * (rt / denom::DOUBLE))::BIGINT
                       AS target_alloc
              FROM r, d)
            SELECT source, n_tokens, weight, target_alloc,
                   least(target_alloc, n_tokens * 4) AS served_tokens,
                   round(least(target_alloc, n_tokens * 4) * 1.0
                         / n_tokens, 4) AS epochs,
                   (target_alloc > least(target_alloc, n_tokens * 4))
                     AS capped
            FROM p
        """,
        # quality_sample: md5-acceptance against a variable keep_prob;
        # expression order mirrors Spark exactly ((hits/n)*5 not
        # 5*hits/n — fp associativity matters for hash parity).
        "quality_sample": f"""
            WITH q AS (
              SELECT doc_id,
                     round(least(greatest(
                       (len(list_filter(string_split(text, ' '),
                            x -> x IN ('the','a','of','to','and','in',
                                       'is'))) * 1.0
                        / len(string_split(text, ' '))) * 5,
                       0.1), 1.0), 4) AS keep_prob
              FROM documents)
            SELECT doc_id, keep_prob,
                   ({_md5_u32_sql("'qs|' || doc_id::VARCHAR")}
                    < floor(keep_prob * 4294967296.0)::BIGINT) AS kept
            FROM q
        """,
        # mix_manifest: the data_budget_plan CTEs -> per-source epochs,
        # joined back to documents with md5-acceptance for the
        # fractional repeat.
        "mix_manifest": f"""
            WITH s AS (
              SELECT source,
                     sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
              FROM documents GROUP BY source),
            r AS (
              SELECT source, n_tokens, round(sqrt(n_tokens), 4) AS rt
              FROM s),
            d AS (SELECT sum(rt::DECIMAL(18,4)) AS denom FROM r),
            p AS (
              SELECT source, n_tokens,
                     floor(2000000.0 * (rt / denom::DOUBLE))::BIGINT
                       AS target_alloc
              FROM r, d),
            e AS (
              SELECT source,
                     round(least(target_alloc, n_tokens * 4) * 1.0
                           / n_tokens, 4) AS epochs
              FROM p)
            SELECT doc_id, documents.source AS source, epochs,
                   (floor(epochs)::INT +
                    CASE WHEN {_md5_u32_sql("'mix|' || doc_id::VARCHAR")}
                         < floor(round(epochs - floor(epochs), 4)
                                 * 4294967296.0)::BIGINT
                         THEN 1 ELSE 0 END) AS n_repeats
            FROM documents JOIN e ON documents.source = e.source
        """,
        # tokenizer_fertility: per-lang map-side counters.
        "tokenizer_fertility": """
            SELECT lang, count(*)::BIGINT AS n_docs,
                   sum(length(text))::BIGINT AS n_chars,
                   sum(len(string_split(text, ' ')))::BIGINT
                     AS n_ws_tokens,
                   sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
                     ::BIGINT AS n_re_tokens,
                   round(sum(len(regexp_extract_all(lower(text),
                                 '[a-z0-9]+'))) * 1.0
                         / sum(len(string_split(text, ' '))), 4)
                     AS fertility,
                   round(sum(length(text)) * 1.0
                         / sum(len(regexp_extract_all(lower(text),
                               '[a-z0-9]+'))), 4) AS chars_per_token
            FROM documents GROUP BY lang
        """,
        # hapax_rate: per-source type/token counts from collapsed
        # (source, token) rows; hapax = types with count 1.
        "hapax_rate": """
            WITH tok AS (
              SELECT source,
                     unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
                       AS token
              FROM documents),
            ty AS (
              SELECT source, token, count(*) AS n
              FROM tok GROUP BY source, token)
            SELECT source, count(*)::BIGINT AS n_types,
                   sum(n)::BIGINT AS n_tokens,
                   sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT
                     AS n_hapax,
                   round(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1.0
                         / count(*), 4) AS hapax_frac,
                   round(count(*) * 1.0 / sum(n), 4) AS ttr
            FROM ty GROUP BY source
        """,
        # packing_efficiency: every budget's bins derive from ONE shared
        # per-bucket running sum (the pack_sequences window), so the
        # sweep is an unnest of constants, not extra corpus passes.
        "packing_efficiency": """
            WITH t AS (
              SELECT doc_id, doc_id % 8 AS bucket,
                     len(string_split(text, ' '))::BIGINT AS tokens
              FROM documents),
            c AS (
              SELECT bucket, tokens,
                     sum(tokens) OVER (PARTITION BY bucket
                                       ORDER BY doc_id) AS cum
              FROM t),
            s AS (
              SELECT bucket, tokens, cum, budget
              FROM c CROSS JOIN (
                SELECT unnest([512, 1024, 2048, 4096]) AS budget) u),
            b AS (
              SELECT budget, bucket,
                     floor((cum - tokens) * 1.0 / budget) AS bin_id,
                     sum(tokens) AS bin_tokens, count(*) AS bin_docs
              FROM s GROUP BY budget, bucket, bin_id)
            SELECT budget::INT AS budget, count(*)::BIGINT AS n_bins,
                   sum(bin_docs)::BIGINT AS n_docs,
                   sum(bin_tokens)::BIGINT AS total_tokens,
                   sum(greatest(budget - bin_tokens, 0))::BIGINT
                     AS padding_tokens,
                   sum(greatest(bin_tokens - budget, 0))::BIGINT
                     AS overflow_tokens,
                   round(sum(greatest(budget - bin_tokens, 0)) * 1.0
                         / (count(*) * budget), 4) AS waste_frac
            FROM b GROUP BY budget
        """,
        # ngram_span_coverage: k=8 positional shingles; dup = digest seen
        # in >= 2 distinct docs; covered = interval union of sorted starts
        # (Σ min(k, next - cur), last span counts k).
        "ngram_span_coverage": """
            WITH w AS (
              SELECT doc_id, string_split(text, ' ') AS w FROM documents
            ),
            pos AS (
              SELECT doc_id, unnest(range(1, len(w) - 6)) AS i, w
              FROM w WHERE len(w) >= 8
            ),
            sh AS (
              SELECT doc_id, i,
                     md5(array_to_string(w[i : i + 7], ' ')) AS d
              FROM pos
            ),
            dup AS (
              SELECT d FROM sh GROUP BY d
              HAVING count(DISTINCT doc_id) >= 2
            ),
            agg AS (
              SELECT doc_id, count(*) AS n_dup_spans,
                     list_sort(list(i)) AS arr
              FROM sh JOIN dup USING (d) GROUP BY doc_id
            ),
            cov AS (
              SELECT doc_id, n_dup_spans,
                     list_sum(list_transform(range(1, len(arr) + 1),
                       j -> least(8, coalesce(arr[j + 1], arr[j] + 8)
                                      - arr[j]))) AS covered
              FROM agg
            )
            SELECT d.doc_id,
                   len(string_split(d.text, ' '))::BIGINT AS n_words,
                   coalesce(c.n_dup_spans, 0)::BIGINT AS n_dup_spans,
                   coalesce(c.covered, 0)::BIGINT AS covered,
                   round(coalesce(c.covered, 0)
                         / len(string_split(d.text, ' ')), 4) AS coverage
            FROM documents d LEFT JOIN cov c USING (doc_id)
        """,
    }
    # curation_funnel composes the full curation_verdict statement as a
    # CTE (single source of truth for the gate semantics) and folds the
    # reason histogram through an inline 3-row gate table.
    d["curation_funnel"] = f'''
        WITH verdict AS ({d["curation_verdict"]}),
        hist AS (SELECT reason, count(*) AS n FROM verdict GROUP BY 1),
        gates(stage, gate) AS (
          VALUES (1, 'duplicate'), (2, 'quality'), (3, 'repetition')),
        j AS (
          SELECT stage, gate, coalesce(n, 0) AS n_failed
          FROM gates LEFT JOIN hist ON gate = reason),
        tot AS (SELECT sum(n) AS n_total FROM hist)
        SELECT stage, gate, n_failed::BIGINT AS n_failed,
               (n_total - sum(n_failed) OVER (ORDER BY stage))::BIGINT
                 AS n_surviving
        FROM j CROSS JOIN tot
    '''
    return d
