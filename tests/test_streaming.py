"""Structured Streaming incremental mode: exactly-once drain semantics."""

from __future__ import annotations

import pytest

from ollama_ocr_spark.operators.extract import synthesize_stage
from ollama_ocr_spark.sources.icetbl import IceTable
from ollama_ocr_spark.streaming.incremental import (
    incremental_extract,
    windowed_event_counts,
)


def test_incremental_extract_drains_and_resumes(spark, documents_smoke, tmp_path):
    pages_dir = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    results = IceTable(str(tmp_path / "results"))

    first = synthesize_stage(documents_smoke.filter("doc_id < 100"))
    first.write.mode("append").parquet(pages_dir)
    incremental_extract(spark, pages_dir, results, ckpt)
    n1 = results.read(spark).count()
    assert n1 == first.count()

    # New captures arrive; a second availableNow run picks up ONLY them.
    second = synthesize_stage(
        documents_smoke.filter("doc_id >= 100 AND doc_id < 150")
    )
    second.write.mode("append").parquet(pages_dir)
    incremental_extract(spark, pages_dir, results, ckpt)
    n2 = results.read(spark).count()
    assert n2 == n1 + second.count()

    # Idempotent: nothing new → no new rows.
    incremental_extract(spark, pages_dir, results, ckpt)
    assert results.read(spark).count() == n2


def test_incremental_minhash_matches_batch(spark, documents_smoke, tmp_path):
    """Draining the corpus in two micro-batch runs must emit exactly the
    batch minhash_lsh_candidates pair set, with no duplicate pairs across
    batches (new×all bucket join + emitted-pair anti-join)."""
    from ollama_ocr_spark.operators.dedup import minhash_lsh_candidates
    from ollama_ocr_spark.operators.extract import extract_stage
    from ollama_ocr_spark.streaming.incremental import incremental_minhash

    pages_dir = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    sigs = IceTable(str(tmp_path / "sigs"))
    cands = IceTable(str(tmp_path / "cands"))

    from ollama_ocr_spark.operators.maintenance import latest_capture

    docs = documents_smoke.filter("doc_id < 200")
    latest_capture(synthesize_stage(docs.filter("doc_id < 120"))).write.mode(
        "append").parquet(pages_dir)
    incremental_minhash(spark, pages_dir, sigs, cands, ckpt)
    latest_capture(synthesize_stage(docs.filter("doc_id >= 120"))).write.mode(
        "append").parquet(pages_dir)
    incremental_minhash(spark, pages_dir, sigs, cands, ckpt)

    got_rows = cands.read(spark).collect()
    got = {(r["a"], r["b"]) for r in got_rows}
    assert len(got) == len(got_rows), "duplicate pairs emitted"

    batch_text = extract_stage(
        latest_capture(synthesize_stage(docs))
    ).select("url", "text")
    want = {
        (r["a"], r["b"])
        for r in minhash_lsh_candidates(batch_text, key="url").collect()
    }
    assert got == want


def test_watermarked_session_stream(spark, tmp_path):
    """session_window + watermark over a stream: sessions finalize (append
    mode) only once the watermark passes their end; events later than the
    watermark are dropped; state recovers from the checkpoint between
    availableNow runs."""
    from pyspark.sql import functions as F

    from ollama_ocr_spark.streaming.incremental import session_window_agg

    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")

    def _write(rows):
        spark.createDataFrame(rows, "user_id bigint, ts string").select(
            "user_id", F.col("ts").cast("timestamp").alias("ts")
        ).write.mode("append").parquet(events_dir)

    def _drain():
        stream = spark.readStream.schema("user_id bigint, ts timestamp").parquet(
            events_dir
        )
        out = session_window_agg(stream, gap="30 minutes", watermark="2 hours")
        emitted = []

        def _collect(batch_df, _bid):
            emitted.extend(batch_df.collect())

        (
            out.writeStream.foreachBatch(_collect)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return emitted

    # Run 1: two users' morning sessions + an evening event driving the
    # watermark to 18:00 (20:00 - 2h) in the final no-data batch, which
    # finalizes both morning sessions; the evening one stays open.
    _write([
        (1, "2024-01-01 10:00:00"), (1, "2024-01-01 10:10:00"),
        (2, "2024-01-01 10:05:00"), (99, "2024-01-01 20:00:00"),
    ])
    emitted = {r["user_id"]: r for r in _drain()}
    assert set(emitted) == {1, 2}
    assert emitted[1]["n_events"] == 2
    ten = spark.sql("select unix_micros(timestamp '2024-01-01 10:00:00') u").first()["u"]
    assert emitted[1]["start_us"] == ten
    assert emitted[1]["end_us"] == ten + (40 * 60) * 1_000_000  # 10:10 + gap
    assert emitted[2]["n_events"] == 1

    # Run 2 (checkpoint-recovered watermark = 18:00): an event inside user
    # 1's already-finalized session arrives LATE (10:05 < watermark) and is
    # dropped; fresh 21:00 activity moves the watermark to 19:00, which
    # still finalizes nothing (user 99's session ends 20:30).
    _write([(1, "2024-01-01 10:05:00"), (3, "2024-01-01 21:00:00")])
    assert _drain() == []

    # Run 3: watermark → 21:45 finalizes user 99 and user 3. User 1 never
    # re-emits — the late event really was discarded, not sessionized.
    _write([(4, "2024-01-01 23:45:00")])
    emitted = {r["user_id"]: r for r in _drain()}
    assert set(emitted) == {99, 3}
    assert emitted[99]["n_events"] == 1 and emitted[3]["n_events"] == 1


def test_windowed_event_counts_batch_twin(spark):
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = windowed_event_counts(events, window="1 day", watermark="1 day")
    rows = out.collect()
    assert sum(r["n_events"] for r in rows) == events.count()
    assert {len(r) for r in rows} == {4}


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark suppresses recrawl echoes of the same
    url inside the watermark window; state recovers from the checkpoint so
    a second drain does not re-emit already-seen urls from the same batch
    window."""
    from pyspark.sql import functions as F

    from ollama_ocr_spark.streaming.incremental import streaming_exact_dedup

    cap_dir = str(tmp_path / "caps")
    ckpt = str(tmp_path / "ckpt")

    def _write(rows):
        spark.createDataFrame(rows, "url string, warc_ts string").select(
            "url", F.col("warc_ts").cast("timestamp").alias("warc_ts")
        ).write.mode("append").parquet(cap_dir)

    def _drain():
        stream = spark.readStream.schema("url string, warc_ts timestamp").parquet(
            cap_dir
        )
        out = streaming_exact_dedup(stream, watermark="1 hour")
        emitted = []

        def _sink(batch_df, _bid):
            emitted.extend(
                (r["url"], str(r["warc_ts"])) for r in batch_df.collect()
            )

        (
            out.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return sorted(emitted)

    _write([
        ("https://h/a", "2024-01-01 10:00:00"),
        ("https://h/a", "2024-01-01 10:10:00"),   # echo inside watermark
        ("https://h/b", "2024-01-01 10:05:00"),
    ])
    first = _drain()
    assert [u for u, _ in first] == ["https://h/a", "https://h/b"]

    # second batch: an 'a' echo still inside the first capture's watermark
    # window is dropped (state recovered from checkpoint); a new url passes.
    _write([
        ("https://h/a", "2024-01-01 10:20:00"),
        ("https://h/c", "2024-01-01 10:30:00"),
    ])
    second = _drain()
    assert [u for u, _ in second] == ["https://h/c"]


def test_streaming_url_filter_frontier(spark, tmp_path):
    """url_filter is stateless, so it applies unchanged to a discovered-URL
    stream — the frontier gate runs as a streaming filter ahead of fetch
    scheduling; a second availableNow drain picks up only new URLs."""
    from ollama_ocr_spark.operators.maintenance import url_filter

    url_dir = str(tmp_path / "frontier")
    ckpt = str(tmp_path / "ckpt")

    def _write(urls):
        spark.createDataFrame([(u,) for u in urls], "url string").write.mode(
            "append").parquet(url_dir)

    def _drain():
        stream = spark.readStream.schema("url string").parquet(url_dir)
        out = url_filter(stream, blocked_pattern="/casino/")
        emitted = []

        def _sink(batch_df, _bid):
            emitted.extend((r["url"], r["reason"]) for r in batch_df.collect())

        (
            out.writeStream.foreachBatch(_sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return dict(emitted)

    _write(["https://a.com/page.html", "https://a.com/pic.jpg",
            "https://a.com/casino/win.html"])
    first = _drain()
    assert first == {
        "https://a.com/page.html": "ok",
        "https://a.com/pic.jpg": "binary_ext",
        "https://a.com/casino/win.html": "blocked_pattern",
    }
    _write(["https://a.com/new.html?a=1&b=2&c=3"])
    second = _drain()                      # only the new arrival re-emits
    assert second == {"https://a.com/new.html?a=1&b=2&c=3": "too_many_params"}


def test_incremental_simhash_matches_batch(spark, documents_smoke, tmp_path):
    """Draining the corpus in two micro-batch runs must emit exactly the
    batch simhash_near_pairs set — same band blocking via the shared
    simhash_band_keys — with no duplicate pairs across batches."""
    from ollama_ocr_spark.operators.dedup import simhash_near_pairs
    from ollama_ocr_spark.operators.extract import extract_stage
    from ollama_ocr_spark.operators.maintenance import latest_capture
    from ollama_ocr_spark.streaming.incremental import incremental_simhash

    pages_dir = str(tmp_path / "pages")
    ckpt = str(tmp_path / "ckpt")
    sigs = IceTable(str(tmp_path / "sigs"))
    cands = IceTable(str(tmp_path / "cands"))

    docs = documents_smoke.filter("doc_id < 200")
    latest_capture(synthesize_stage(docs.filter("doc_id < 120"))).write.mode(
        "append").parquet(pages_dir)
    incremental_simhash(spark, pages_dir, sigs, cands, ckpt)
    latest_capture(synthesize_stage(docs.filter("doc_id >= 120"))).write.mode(
        "append").parquet(pages_dir)
    incremental_simhash(spark, pages_dir, sigs, cands, ckpt)

    got_rows = cands.read(spark).collect()
    got = {(r["a"], r["b"], r["hamming"]) for r in got_rows}
    assert len(got) == len(got_rows), "duplicate pairs emitted"

    batch_text = extract_stage(
        latest_capture(synthesize_stage(docs))
    ).select("url", "text")
    want = {
        (r["a"], r["b"], r["hamming"])
        for r in simhash_near_pairs(batch_text, key="url",
                                    max_bucket=None).collect()
    }
    assert got == want


def test_incremental_frontier_matches_batch(spark, tmp_path):
    """Draining candidate urls in two micro-batch runs must produce
    exactly frontier_verdicts over the full url set, one row per url
    (re-discovered urls are never re-verdicted)."""
    from ollama_ocr_spark.operators.maintenance import frontier_verdicts
    from ollama_ocr_spark.streaming.incremental import incremental_frontier

    urls_dir = str(tmp_path / "urls")
    ckpt = str(tmp_path / "ckpt")
    verdicts = IceTable(str(tmp_path / "verdicts"))
    rules = [("a.com", "/priv/")]
    blocked = ["b.com"]

    u1 = [("https://a.com/x/p1.html",), ("https://a.com/priv/p.html",),
          ("https://b.com/x/p.html",)]
    # second batch re-discovers p1 and adds new urls
    u2 = [("https://a.com/x/p1.html",), ("https://a.com/x/p2.jpg",),
          ("https://c.com/ok.html",)]
    spark.createDataFrame(u1, ["url"]).write.mode("append").parquet(urls_dir)
    incremental_frontier(spark, urls_dir, verdicts, ckpt, rules, blocked)
    spark.createDataFrame(u2, ["url"]).write.mode("append").parquet(urls_dir)
    incremental_frontier(spark, urls_dir, verdicts, ckpt, rules, blocked)

    rows = verdicts.read(spark).collect()
    got = {(r["url"], r["host"], r["verdict"]) for r in rows}
    assert len(got) == len(rows) == 5, "re-discovered url re-verdicted"

    batch = frontier_verdicts(
        spark.createDataFrame(u1 + u2, ["url"]),
        spark.createDataFrame(rules, "host string, disallow string"),
        spark.createDataFrame([(h,) for h in blocked], "host string"),
    )
    want = {(r["url"], r["host"], r["verdict"]) for r in batch.collect()}
    assert got == want
    by_url = {u: v for u, _, v in got}
    assert by_url["https://a.com/priv/p.html"] == "robots"
    assert by_url["https://b.com/x/p.html"] == "blocked_host"
    assert by_url["https://a.com/x/p2.jpg"] == "filtered:binary_ext"
    assert by_url["https://a.com/x/p1.html"] == "fetch"


def test_incremental_pii_gate_matches_batch(spark, tmp_path):
    """Draining documents in two micro-batch runs must accumulate exactly
    with_pii_scrub over the full set, one row per doc_id (a re-delivered
    document is never re-scrubbed/double-exported); the pii_free=false
    slice carries the redacted text."""
    from ollama_ocr_spark.operators.textstats import with_pii_scrub
    from ollama_ocr_spark.streaming.incremental import incremental_pii_gate

    docs_dir = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    out = IceTable(str(tmp_path / "scrubbed"))
    d1 = [(1, "mail me at bob@example.com now"),
          (2, "clean text only")]
    # second batch re-delivers doc 1 and adds a multi-hit doc
    d2 = [(1, "mail me at bob@example.com now"),
          (3, "ip 10.0.0.1 and +1 555 123 4567")]
    spark.createDataFrame(d1, ["doc_id", "text"]).write.mode(
        "append").parquet(docs_dir)
    incremental_pii_gate(spark, docs_dir, out, ckpt)
    spark.createDataFrame(d2, ["doc_id", "text"]).write.mode(
        "append").parquet(docs_dir)
    incremental_pii_gate(spark, docs_dir, out, ckpt)

    rows = out.read(spark).collect()
    got = {(r["doc_id"], r["scrubbed"], r["n_emails"], r["n_ipv4"],
            r["n_phones"], r["pii_free"]) for r in rows}
    assert len(rows) == len(got) == 3, "re-delivered doc re-exported"

    batch = with_pii_scrub(
        spark.createDataFrame(d1 + d2, ["doc_id", "text"]).dropDuplicates(
            ["doc_id"])
    ).select("doc_id", "scrubbed", "n_emails", "n_ipv4", "n_phones",
             "pii_free")
    want = {tuple(r) for r in batch.collect()}
    assert got == want
    by_id = {r["doc_id"]: r for r in rows}
    assert by_id[1]["scrubbed"] == "mail me at [EMAIL] now"
    assert not by_id[1]["pii_free"] and by_id[1]["n_emails"] == 1
    assert by_id[2]["pii_free"] and by_id[2]["scrubbed"] == "clean text only"
    assert by_id[3]["scrubbed"] == "ip [IP] and [PHONE]"


def test_incremental_chunk_dedup_matches_batch(spark, tmp_path):
    """Draining documents in two micro-batch runs must store exactly the
    batch chunker's distinct digests over the full corpus, one row per
    digest; in-batch keeper follows dedup_chunks' min-packed-position
    rule, and a later duplicate never replaces a stored keeper."""
    from pyspark.sql import functions as F

    from ollama_ocr_spark.operators.textstats import chunk_documents
    from ollama_ocr_spark.streaming.incremental import incremental_chunk_dedup

    base = " ".join(f"w{i}" for i in range(40))        # 40 words -> 2 chunks
    other = " ".join(f"x{i}" for i in range(32))       # 1 chunk
    docs_dir = str(tmp_path / "docs")
    ckpt = str(tmp_path / "ckpt")
    store = IceTable(str(tmp_path / "chunks"))
    d1 = [(5, base), (2, base)]        # duplicate docs in ONE batch
    d2 = [(9, base), (3, other)]       # later duplicate + novel text
    spark.createDataFrame(d1, ["doc_id", "text"]).write.mode(
        "append").parquet(docs_dir)
    incremental_chunk_dedup(spark, docs_dir, store, ckpt)
    spark.createDataFrame(d2, ["doc_id", "text"]).write.mode(
        "append").parquet(docs_dir)
    incremental_chunk_dedup(spark, docs_dir, store, ckpt)

    rows = store.read(spark).collect()
    assert len(rows) == len({r["digest"] for r in rows}), "digest stored twice"
    # batch twin: distinct digests over the full corpus
    full = chunk_documents(
        spark.createDataFrame(d1 + d2, ["doc_id", "text"]),
        size=32, stride=24,
    ).select(F.md5("chunk").alias("digest")).distinct()
    assert {r["digest"] for r in rows} == {r["digest"]
                                           for r in full.collect()}
    # in-batch keeper: doc 2 (min packed position) beat doc 5; the batch-2
    # duplicate (doc 9) never replaced it
    owners = {r["doc_id"] for r in rows}
    assert 2 in owners and 5 not in owners and 9 not in owners
    assert 3 in owners                      # novel text stored once


def test_incremental_transitions_matches_batch(spark, tmp_path):
    """Draining a per-user-ordered split of the events must leave
    read_transition_matrix equal to the batch event_transitions counts
    over the full stream — including the boundary-crossing pair each
    user's carried last-event row restores — and a re-drain with
    nothing new must change nothing (append-only logs + checkpoint)."""
    from ollama_ocr_spark.operators.reports import event_transitions
    from ollama_ocr_spark.sources.icetbl import IceTable
    from ollama_ocr_spark.streaming.incremental import (
        incremental_transitions,
        read_transition_matrix,
    )

    rows = [
        # user 1: a->b in batch 1; b->c CROSSES the boundary; c->a in 2
        (1, 1, "a", 100), (1, 2, "b", 200),
        (1, 3, "c", 300), (1, 4, "a", 400),
        # user 2: single event per batch — the only pair is cross-batch
        (2, 1, "a", 150), (2, 2, "a", 250),
        # user 3: appears only in batch 2
        (3, 1, "b", 310), (3, 2, "c", 320),
        # user 4: appears only in batch 1, nothing ever follows
        (4, 1, "c", 110),
    ]
    cols = ["user_id", "event_id", "event_type", "ts_us"]
    full = spark.createDataFrame(rows, cols)

    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    matrix = IceTable(str(tmp_path / "matrix"))
    state = IceTable(str(tmp_path / "state"))

    first = full.filter("ts_us < 300")
    second = full.filter("ts_us >= 300")
    first.write.mode("append").parquet(events_dir)
    incremental_transitions(spark, events_dir, matrix, state, ckpt)
    second.write.mode("append").parquet(events_dir)
    incremental_transitions(spark, events_dir, matrix, state, ckpt)

    got = {(r["from_type"], r["to_type"]): r["n_transitions"]
           for r in read_transition_matrix(spark, matrix).collect()}
    want = {(r["from_type"], r["to_type"]): r["n_transitions"]
            for r in event_transitions(full).collect()}
    assert got == want
    assert got[("b", "c")] == 2          # u1 crosses the boundary + u3 in-batch
    assert got[("a", "a")] == 1          # user 2's only (cross) pair

    # idempotent re-drain: no new files -> no new deltas
    incremental_transitions(spark, events_dir, matrix, state, ckpt)
    again = {(r["from_type"], r["to_type"]): r["n_transitions"]
             for r in read_transition_matrix(spark, matrix).collect()}
    assert again == want

    # simulated foreachBatch REPLAY (at-least-once: append succeeded,
    # checkpoint commit didn't): re-appending a batch's byte-identical
    # stamped deltas must not change the merge-on-read counts
    log = matrix.read(spark)
    last_bid = log.agg({"batch_id": "max"}).collect()[0][0]
    matrix.append(log.filter(log.batch_id == last_bid))
    replayed = {(r["from_type"], r["to_type"]): r["n_transitions"]
                for r in read_transition_matrix(spark, matrix).collect()}
    assert replayed == want


def test_incremental_interevent_matches_batch(spark, tmp_path):
    """Draining a per-(user, type)-ordered split must leave
    read_interevent_histogram equal to the batch interevent_histogram
    over the full stream — including the boundary-crossing gap each
    carried (user, type) last-event restores — and both the no-new-data
    re-drain and a simulated foreachBatch replay must change nothing."""
    from pyspark.sql import functions as F

    from ollama_ocr_spark.operators.reports import interevent_histogram
    from ollama_ocr_spark.sources.icetbl import IceTable
    from ollama_ocr_spark.streaming.incremental import (
        incremental_interevent,
        read_interevent_histogram,
    )

    us = 1_000_000
    rows = [
        # u1/click: 1s gap in batch 1; 1024s gap CROSSES the boundary
        (1, 1, "click", 0 * us), (1, 2, "click", 1 * us),
        (1, 3, "click", 1025 * us),
        # u1/view interleaves and must not contaminate click gaps:
        # its only gap (3s) also crosses the boundary
        (1, 4, "view", 100 * us), (1, 5, "view", 103 * us),
        # u2/click: both events in batch 2, 0s gap (sub-second)
        (2, 6, "click", 2000 * us), (2, 7, "click", 2000 * us + us // 2),
        # u3/click: single event in batch 1, nothing follows
        (3, 8, "click", 50 * us),
    ]
    cols = ["user_id", "event_id", "event_type", "ts_us"]
    full = spark.createDataFrame(rows, cols)

    events_dir = str(tmp_path / "events")
    ckpt = str(tmp_path / "ckpt")
    hist = IceTable(str(tmp_path / "hist"))
    state = IceTable(str(tmp_path / "state"))

    first = full.filter("ts_us < 102 * 1000000")
    second = full.filter("ts_us >= 102 * 1000000")
    first.write.mode("append").parquet(events_dir)
    incremental_interevent(spark, events_dir, hist, state, ckpt)
    second.write.mode("append").parquet(events_dir)
    incremental_interevent(spark, events_dir, hist, state, ckpt)

    def as_map(df):
        return {(r["event_type"], r["bucket"]):
                (r["bucket_lo_s"], r["bucket_hi_s"], r["n_gaps"])
                for r in df.collect()}

    got = as_map(read_interevent_histogram(spark, hist))
    want = as_map(interevent_histogram(full))
    assert got == want
    assert got[("click", 11)] == (1024, 2048, 1)   # boundary-crossing gap
    assert got[("view", 2)] == (2, 4, 1)           # cross-batch, other type

    # idempotent re-drain: no new files -> no new deltas
    incremental_interevent(spark, events_dir, hist, state, ckpt)
    assert as_map(read_interevent_histogram(spark, hist)) == want

    # simulated replay: re-append the last batch's stamped delta rows
    log = hist.read(spark)
    last_bid = log.agg(F.max("batch_id")).collect()[0][0]
    hist.append(log.filter(log.batch_id == last_bid))
    assert as_map(read_interevent_histogram(spark, hist)) == want


def test_transitions_commit_replay_after_state_append(spark, tmp_path):
    """The at-least-once window the stamped-delta distinct alone cannot
    cover: the SAME batch re-committed with the SAME batch_id AFTER its
    state append landed. The batch_id < current carried-state window
    keeps the replayed rows byte-identical — without it the replay
    would see its own last-events as prior state and emit a spurious
    self-transition per carried user."""
    from ollama_ocr_spark.operators.reports import event_transitions
    from ollama_ocr_spark.sources.icetbl import IceTable
    from ollama_ocr_spark.streaming.incremental import (
        _transitions_commit,
        read_transition_matrix,
    )

    cols = ["user_id", "event_id", "event_type", "ts_us"]
    b1 = spark.createDataFrame(
        [(1, 1, "a", 100), (1, 2, "b", 200), (2, 1, "a", 150)], cols)
    b2 = spark.createDataFrame(
        [(1, 3, "c", 300), (2, 2, "a", 250)], cols)
    matrix = IceTable(str(tmp_path / "matrix"))
    state = IceTable(str(tmp_path / "state"))

    _transitions_commit(spark, b1, 0, matrix, state)
    _transitions_commit(spark, b2, 1, matrix, state)
    want = {(r["from_type"], r["to_type"]): r["n_transitions"]
            for r in event_transitions(b1.unionByName(b2)).collect()}

    # replay batch 1 with its own state rows already in the log
    _transitions_commit(spark, b2, 1, matrix, state)
    got = {(r["from_type"], r["to_type"]): r["n_transitions"]
           for r in read_transition_matrix(spark, matrix).collect()}
    assert got == want
    assert ("c", "c") not in got and ("a", "a") in got  # u2 cross pair only


def test_interevent_commit_replay_after_state_append(spark, tmp_path):
    """Same replay window for the gap-histogram twin: a replay that saw
    its own carried state would count a spurious zero-second gap per
    carried (user, type); the batch_id window keeps the merge-on-read
    histogram equal to the batch operator."""
    from ollama_ocr_spark.operators.reports import interevent_histogram
    from ollama_ocr_spark.sources.icetbl import IceTable
    from ollama_ocr_spark.streaming.incremental import (
        _interevent_commit,
        read_interevent_histogram,
    )

    us = 1_000_000
    cols = ["user_id", "event_id", "event_type", "ts_us"]
    b1 = spark.createDataFrame(
        [(1, 1, "click", 0), (1, 2, "click", 3 * us)], cols)
    b2 = spark.createDataFrame(
        [(1, 3, "click", 1027 * us), (2, 4, "view", 10 * us)], cols)
    hist = IceTable(str(tmp_path / "hist"))
    state = IceTable(str(tmp_path / "state"))

    _interevent_commit(spark, b1, 0, hist, state)
    _interevent_commit(spark, b2, 1, hist, state)
    want = {(r["event_type"], r["bucket"]): r["n_gaps"]
            for r in interevent_histogram(b1.unionByName(b2)).collect()}

    _interevent_commit(spark, b2, 1, hist, state)
    got = {(r["event_type"], r["bucket"]): r["n_gaps"]
           for r in read_interevent_histogram(spark, hist).collect()}
    assert got == want
    assert got[("click", 11)] == 1     # the cross-batch 1024s gap, once
    # the polluted-replay artifact would be a zero-second gap (bucket 1)
    assert ("click", 1) not in got


@pytest.mark.parametrize("twin", ["transitions", "interevent"])
def test_commit_replay_over_mixed_state_log(spark, tmp_path, twin):
    """A state log written before batch_id stamping existed and appended
    to after it mixes files with and without the column. Replaying a
    batch over such a log must write exactly the delta rows of a run
    that was stamped from the start: legacy rows stay prior state, and
    the replay still cannot see its own state rows."""
    from ollama_ocr_spark.streaming import incremental as inc

    commit, last_events = {
        "transitions": (inc._transitions_commit, inc._last_events_per_user),
        "interevent": (inc._interevent_commit,
                       inc._last_events_per_user_type),
    }[twin]
    us = 1_000_000
    cols = ["user_id", "event_id", "event_type", "ts_us"]
    b0 = spark.createDataFrame(
        [(1, 1, "a", 0), (1, 2, "b", 3 * us), (2, 3, "a", 5 * us),
         (4, 9, "a", 1 * us)], cols)
    b1 = spark.createDataFrame(
        [(1, 4, "b", 1027 * us), (2, 5, "a", 40 * us), (3, 6, "c", 7 * us)],
        cols)
    b2 = spark.createDataFrame(
        [(1, 7, "a", 2000 * us), (3, 8, "c", 9 * us), (4, 10, "a", 60 * us)],
        cols)

    def run(root: str, legacy: bool) -> list[tuple]:
        out = IceTable(str(tmp_path / root / "out"))
        state = IceTable(str(tmp_path / root / "state"))
        if legacy:  # batch 0 was committed before stamping existed
            state.append(last_events(b0))
        else:
            commit(spark, b0, 0, out, state)
        commit(spark, b1, 1, out, state)
        commit(spark, b2, 2, out, state)
        commit(spark, b2, 2, out, state)  # replay after the state append
        rows = out.read(spark).filter("batch_id >= 1")
        return sorted(tuple(r) for r in rows.select(sorted(rows.columns))
                      .collect())

    clean = run("clean", legacy=False)
    assert run("mixed", legacy=True) == clean
    assert {r[0] for r in clean} == {1, 2}  # both batches wrote deltas
