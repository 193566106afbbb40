"""Incremental (micro-batch) execution of the extraction pipeline.

The reference "streams" only API responses (`ollama_cloud_ocr.py:206-215`);
its batch loop re-scans a directory and overwrites outputs. The Spark-native
incremental mode processes *what's new* instead:

- ``readStream`` over the pages directory (file source tracks processed
  files in the checkpoint — the open-source analog of reading new Iceberg
  snapshots),
- the same Arrow-vectorized extract stage (stateless per document — no
  watermark/state store needed),
- ``foreachBatch`` sink appending to an :class:`IceTable` so each
  micro-batch commits atomically and a crashed run resumes from the
  checkpoint + last snapshot,
- ``trigger(availableNow=True)`` gives "drain the backlog then stop" batch
  semantics — run it from cron and it picks up the new captures
  (:func:`_drain`, the one drain every op runs through).

``foreachBatch`` is at-least-once: a crash after a batch's append but
before its checkpoint commit re-runs the batch with the same batch_id.
Every op is idempotent under that replay in one of two ways. A
write-guarded op appends only through :func:`_append_new`, which drops
the rows whose key the table already holds. A carried-state op
(:func:`_carried_commit`) appends batch_id-stamped deltas that its
merge-on-read reader deduplicates (:func:`_sum_deltas`).

Event-time windowed aggregation over the events stream is in
:func:`windowed_event_counts` (tumbling window + watermark for late data).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import PAGES_SCHEMA, extract_stage
from ..operators.reports import (_gap_buckets, _transition_pairs,
                                 _with_bucket_bounds)
from ..sources.icetbl import IceTable

_DOCS_SCHEMA = "doc_id bigint, text string"
_EVENTS_SCHEMA = ("user_id bigint, event_id bigint, event_type string, "
                  "ts_us bigint")


def _drain(df: DataFrame, commit: Callable[[DataFrame, int], None],
           checkpoint_dir: str, output_mode: str = "append") -> None:
    """Run ``commit(batch_df, batch_id)`` over every micro-batch of the
    stream ``df`` until its backlog is drained, then stop."""
    (
        df.writeStream.foreachBatch(commit)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _append_new(tbl: IceTable, df: DataFrame, keys: list[str]) -> None:
    """Append the rows of ``df`` whose ``keys`` are not in ``tbl`` yet —
    the replay guard of every write-guarded commit: a batch re-run after
    its append (but before the checkpoint commit) appends nothing."""
    existing = tbl.read(df.sparkSession)
    if existing is not None:
        df = df.join(existing.select(*keys), keys, "left_anti")
    tbl.append(df)


def incremental_extract(
    spark: SparkSession,
    pages_dir: str,
    results_tbl: IceTable,
    checkpoint_dir: str,
) -> None:
    """Drain all unprocessed page files into the results table, then stop."""
    pages = (
        spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    )
    extracted = extract_stage(pages)

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        # A capture is (url, warc_ts), since one batch holds several
        # captures of the same url.
        _append_new(results_tbl, batch_df, ["url", "warc_ts"])

    _drain(extracted, _commit, checkpoint_dir)


def incremental_minhash(
    spark: SparkSession,
    pages_dir: str,
    sig_tbl: IceTable,
    cand_tbl: IceTable,
    checkpoint_dir: str,
    key: str = "url",
    num_hashes: int = 8,
    bands: int = 4,
) -> None:
    """Incremental MinHash near-dup detection over a capture stream.

    Signatures are pure map-side expressions (``minhash_signatures``), so
    they stream with no state store at all; the cross-document part —
    which documents share an LSH band bucket — runs per micro-batch in
    ``foreachBatch``: the NEW batch's band buckets join against the
    accumulated signature table's buckets, so each arriving document is
    compared exactly once against everything seen so far (new×all, which
    includes new×new). Already-emitted pairs are anti-joined away, making
    the candidate table append-only exactly-once across resumes.

    At scale the accumulated-signature side is a bucket-partitioned table
    (band, bucket) so the per-batch join prunes to touched buckets; the
    state Spark itself holds is just the file-source checkpoint. Drains
    the backlog then stops (``availableNow``), like
    :func:`incremental_extract`.

    Batch-equivalence (pytest-checked): after draining any split of the
    input into micro-batches, the union of emitted candidate pairs equals
    ``minhash_lsh_candidates`` over the full corpus.
    """
    from ..operators.dedup import band_buckets, minhash_signatures

    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    extracted = extract_stage(pages).select(key, "text")

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        new_sigs = minhash_signatures(batch_df, key=key, col="text")
        new_b = band_buckets(new_sigs, key=key, num_hashes=num_hashes,
                             bands=bands)
        prior = sig_tbl.read(spark)
        all_b = new_b if prior is None else band_buckets(
            prior, key=key, num_hashes=num_hashes, bands=bands
        ).unionByName(new_b)
        nk, ak = F.col(f"n.{key}"), F.col(f"a.{key}")
        cand = (
            new_b.alias("n")
            .join(all_b.alias("a"), ["band", "bucket"])
            .filter(nk != ak)
            .select(F.least(nk, ak).alias("a"), F.greatest(nk, ak).alias("b"))
            .distinct()
        )
        _append_new(cand_tbl, cand, ["a", "b"])
        _append_new(sig_tbl, new_sigs, [key])

    _drain(extracted, _commit, checkpoint_dir)


def incremental_simhash(
    spark: SparkSession,
    pages_dir: str,
    sig_tbl: IceTable,
    cand_tbl: IceTable,
    checkpoint_dir: str,
    key: str = "url",
    max_hamming: int = 3,
) -> None:
    """Incremental SimHash near-dup detection over a capture stream —
    the Hamming-distance twin of :func:`incremental_minhash`.

    Signatures (``simhash64``) are pure map-side expressions, so they
    stream with no state store; the cross-document part runs per
    micro-batch in ``foreachBatch``: the NEW batch's 4x16-bit band keys
    (``simhash_band_keys`` — the SAME blocking as the batch operator)
    join against the accumulated signature table's band keys, popcount
    verifies ``<= max_hamming``, and already-emitted pairs are
    anti-joined away — append-only exactly-once across resumes, each
    arriving document compared once against everything seen so far
    (new x all, which includes new x new).

    Batch-equivalence (pytest-checked): after draining any split of the
    input into micro-batches, the union of emitted pairs equals
    ``simhash_near_pairs`` over the full corpus (uncapped). At scale,
    partition the signature table by band key and add the batch
    operator's ``max_bucket``-style hot-band cap on the accumulated
    side — a boilerplate-heavy corpus can make one 16-bit band chunk
    arbitrarily hot.
    """
    from ..operators.dedup import simhash64, simhash_band_keys

    pages = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    extracted = extract_stage(pages).select(key, "text")

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        new_sigs = simhash64(batch_df, key=key, col="text").select(
            key, "simhash"
        )
        prior = sig_tbl.read(spark)
        all_sigs = new_sigs if prior is None else prior.select(
            key, "simhash"
        ).unionByName(new_sigs)
        nb = new_sigs.select(
            F.col(key).alias("nk"), F.col("simhash").alias("nsig"),
            F.explode(simhash_band_keys("simhash")).alias("bkey"),
        )
        ab = all_sigs.select(
            F.col(key).alias("ak"), F.col("simhash").alias("asig"),
            F.explode(simhash_band_keys("simhash")).alias("bkey"),
        )
        cand = (
            nb.join(ab, "bkey")
            .filter(F.col("nk") != F.col("ak"))
            .select(
                F.least("nk", "ak").alias("a"),
                F.greatest("nk", "ak").alias("b"),
                F.expr("bit_count(nsig ^ asig)").cast("int")
                .alias("hamming"),
            )
            .filter(F.col("hamming") <= max_hamming)
            .distinct()
        )
        _append_new(cand_tbl, cand, ["a", "b"])
        _append_new(sig_tbl, new_sigs, [key])

    _drain(extracted, _commit, checkpoint_dir)


def incremental_frontier(
    spark: SparkSession,
    urls_dir: str,
    verdict_tbl: IceTable,
    checkpoint_dir: str,
    rules_rows: list,
    blocked_hosts_rows: list,
    blocked_pattern: str | None = None,
) -> None:
    """Streaming frontier gate: candidate URLs arrive as a parquet
    stream (one ``url`` column — discovered outlinks, sitemap drops,
    recrawl candidates) and each micro-batch runs the EXACT batch policy
    chain (``maintenance.frontier_verdicts``: hygiene → robots → host
    blocklist) in ``foreachBatch``, appending (url, host, verdict) rows
    exactly-once (url anti-join against the accumulated verdict table,
    so a re-discovered URL is never re-verdicted). Politeness waves are
    deliberately NOT assigned here — they need a global per-host
    ordering, so the fetch scheduler runs ``politeness_waves`` over the
    accumulated fetchable set when it cuts a wave plan.

    Batch-equivalence (pytest-checked): after draining any split of the
    candidate urls, the accumulated verdict rows equal
    ``frontier_verdicts`` over the full url set.
    """
    from ..operators.maintenance import frontier_verdicts

    stream = spark.readStream.schema("url string").parquet(urls_dir)

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        rules = spark.createDataFrame(
            rules_rows, "host string, disallow string"
        )
        blocked = spark.createDataFrame(
            [(h,) for h in blocked_hosts_rows], "host string"
        )
        out = frontier_verdicts(
            batch_df, rules, blocked, blocked_pattern=blocked_pattern
        )
        _append_new(verdict_tbl, out, ["url"])

    _drain(stream, _commit, checkpoint_dir)


def incremental_pii_gate(
    spark: SparkSession,
    docs_dir: str,
    scrubbed_tbl: IceTable,
    checkpoint_dir: str,
) -> None:
    """Streaming PII gate: documents arrive as a parquet stream
    (``doc_id``, ``text``) and each micro-batch runs the EXACT batch
    scrubber (``textstats.with_pii_scrub`` — the same native-regexp
    expressions the batch export and the ``pii_stats`` report use) in
    ``foreachBatch``, appending (doc_id, scrubbed, n_emails, n_ipv4,
    n_phones, pii_free) rows exactly-once (doc_id anti-join against the
    accumulated table, so a re-delivered document is never re-scrubbed
    or double-exported). Downstream consumers read only ``scrubbed``;
    the pii_free=false slice IS the quarantine review queue.

    Batch-equivalence (pytest-checked, the incremental_minhash pattern):
    after draining any split of the documents, the accumulated rows
    equal ``with_pii_scrub`` over the full set.
    """
    from ..operators.textstats import with_pii_scrub

    stream = spark.readStream.schema(_DOCS_SCHEMA).parquet(docs_dir)

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        out = with_pii_scrub(batch_df).select(
            "doc_id", "scrubbed", "n_emails", "n_ipv4", "n_phones",
            "pii_free",
        )
        _append_new(scrubbed_tbl, out, ["doc_id"])

    _drain(stream, _commit, checkpoint_dir)


def incremental_chunk_dedup(
    spark: SparkSession,
    docs_dir: str,
    chunks_tbl: IceTable,
    checkpoint_dir: str,
    size: int = 32,
    stride: int = 24,
) -> None:
    """Streaming chunk store — the nightly-delta story at CHUNK level
    (``curate_corpus_incremental``'s companion): documents arrive as a
    parquet stream (``doc_id``, ``text``); each micro-batch runs the
    EXACT batch chunker (``textstats.chunk_documents``) and appends ONE
    row per never-seen chunk digest, so a downstream embed/index stage
    pays only for NOVEL text. Within a batch the keeper is
    ``dedup_chunks``' rule (min bit-packed ``doc*2^22+chunk`` position);
    across batches first-arrival wins — the digest anti-join against the
    accumulated store never lets a later copy replace a stored keeper.

    Output rows: (digest, doc_id, chunk_id, n_words, chunk). Scale
    shape: the anti-join carries digests only; chunk text ships once,
    on first sight. Batch-equivalence (pytest): after draining any
    split, the stored digest SET equals the batch chunker's distinct
    digests over the full corpus, one row each.
    """
    from ..operators.textstats import chunk_documents

    stream = spark.readStream.schema(_DOCS_SCHEMA).parquet(docs_dir)

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        chunks = chunk_documents(batch_df, size=size, stride=stride)
        pack = (
            F.col("doc_id").cast("bigint") * F.lit(1 << 22).cast("bigint")
            + F.col("chunk_id").cast("bigint")
        )
        d = chunks.select(
            F.md5(F.col("chunk")).alias("digest"),
            "doc_id", "chunk_id", "n_words", "chunk", pack.alias("__p"),
        )
        # in-batch keeper: min packed position per digest (dedup_chunks)
        w_min = d.groupBy("digest").agg(F.min("__p").alias("__keep"))
        out = (
            d.join(w_min, "digest")
            .filter(F.col("__p") == F.col("__keep"))
            .select("digest", "doc_id", "chunk_id", "n_words", "chunk")
        )
        _append_new(chunks_tbl, out, ["digest"])

    _drain(stream, _commit, checkpoint_dir)


def session_window_agg(events: DataFrame, gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """Gap sessionization via Spark's built-in ``session_window`` — the
    DECLARATIVE twin of both the lag-window batch sessionizer
    (`__spark_entry__.q_sessionize`) and the Python-state streaming one
    (`stateful.streaming_sessionize`).

    This is the scale path for streams: state lives in Spark's native state
    store (RocksDB-capable, watermark-evicted), merges happen JVM-side, and
    late events beyond the watermark are dropped instead of growing state
    forever. On a static DataFrame the same expression runs as a plain
    aggregation (no watermark needed), giving an oracle-checkable batch
    twin (`session_windows` query: gaps-and-islands SQL).

    Output: (user_id, start_us, end_us, n_events); end = last event + gap.
    """
    src = events.select(
        "user_id", F.col("ts").cast("timestamp_ltz").alias("ts")
    )
    if events.isStreaming:
        src = src.withWatermark("ts", watermark)
    return (
        src.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.unix_micros("sw.start").alias("start_us"),
            F.unix_micros("sw.end").alias("end_us"),
            "n_events",
        )
    )


def windowed_event_counts(events: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling-window counts with late-data watermark.

    Works on both a static events DataFrame (batch twin — used by the
    oracle-checked ``events_daily`` query at day granularity) and a
    ``readStream`` source.
    """
    ts = F.col("ts").cast("timestamp")
    return (
        events.withColumn("__ts", ts)
        .withWatermark("__ts", watermark)
        .groupBy(F.window("__ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "sum_value",
        )
    )


def streaming_exact_dedup(captures: DataFrame, key: str = "url",
                          ts: str = "warc_ts",
                          watermark: str = "1 hour") -> DataFrame:
    """Streaming twin of exact capture dedup: drop repeat captures of the
    same key arriving within the watermark window
    (``dropDuplicatesWithinWatermark``, Spark 3.5+).

    Unlike plain ``dropDuplicates`` on a stream — whose state grows without
    bound — the within-watermark form evicts each key's state once the
    watermark passes it, so a 10^12-document crawl stream runs with bounded
    state (pair with the RocksDB state store,
    ``session.enable_rocksdb_state``). Batch-mode equivalence: on a finite
    input this keeps the FIRST capture per key seen within any watermark
    window, i.e. recrawl echoes inside the window are suppressed while a
    genuine recrawl after the window passes through to the latest-capture
    batch dedup downstream.
    """
    return captures.withWatermark(ts, watermark).dropDuplicatesWithinWatermark(
        [key]
    )


def _sum_deltas(spark: SparkSession, log_tbl: IceTable, keys: list[str],
                value: str) -> DataFrame | None:
    """Merge-on-read view of a carried-state op's delta log: deltas are
    commutative, so the current value is one sum of ``value`` per
    ``keys`` over everything appended — the log-structured-counter
    recipe (no read-modify-write snapshot races), with
    ``IceTable.compact`` as the file-count bound. Replay safety lives
    HERE, not in the appender: foreachBatch is at-least-once, so a
    driver death between a successful append and the checkpoint commit
    re-appends the same batch — every delta row is stamped with its
    batch_id and a replayed batch rewrites byte-identical rows, so one
    distinct() over (batch_id, keys, value) collapses replays before the
    sum (the :func:`_append_new` guard, in merge-on-read form)."""
    log = log_tbl.read(spark)
    if log is None:
        return None
    return (
        log.select("batch_id", *keys, value)
        .distinct()
        .groupBy(*keys)
        .agg(F.sum(value).alias(value))
    )


def read_transition_matrix(spark: SparkSession,
                           matrix_tbl: IceTable) -> DataFrame | None:
    """Merge-on-read view of the :func:`incremental_transitions` count
    log: one replay-safe sum per (from_type, to_type) over the appended
    pair-count deltas (:func:`_sum_deltas`)."""
    return _sum_deltas(spark, matrix_tbl, ["from_type", "to_type"],
                       "n_transitions")


def incremental_transitions(
    spark: SparkSession,
    events_dir: str,
    matrix_tbl: IceTable,
    state_tbl: IceTable,
    checkpoint_dir: str,
) -> None:
    """Streaming maintenance of the first-order Markov transition
    matrix (:func:`...operators.reports.event_transitions`' count
    stage) — the live fetch-state-machine / funnel-health feed: events
    arrive as a parquet stream of (user_id, event_id, event_type,
    ts_us) and every micro-batch folds its transitions into a count
    log WITHOUT ever rescanning history.

    The batch lag window needs each user's PREVIOUS event, which at a
    micro-batch boundary lives in an earlier batch — so the one piece
    of state carried is each user's LAST event row. Per batch
    (:func:`_carried_commit` with state key ``user_id``):

    - prior last-events for ONLY the users present in the batch
      (left-semi — state never fans out beyond the batch's user set)
      union the batch, then the exact batch pair stage
      (``_transition_pairs``, same (ts_us, event_id) order) — the
      union's lead chain starts at the carried row, emitting precisely
      the boundary-crossing pair plus the in-batch pairs;
    - pair counts append as DELTAS (commutative — see
      :func:`read_transition_matrix`);
    - the batch's per-user argmax-(ts_us, event_id) rows append to the
      state log, resolved on read by the same argmax (the
      max-of-struct idiom: (ts_us, event_id) is unique, so the type
      field never decides the max).

    foreachBatch is AT-LEAST-once (a driver death between a
    successful append and the checkpoint commit replays the batch), so
    every delta row carries its batch_id and both readers are
    replay-idempotent: :func:`read_transition_matrix` distincts the
    stamped deltas before summing, and the state argmax is naturally
    idempotent (a replayed last-event row ties with itself). State rows
    are ALSO batch_id-stamped and the carried read filters to
    ``batch_id < current`` — see :func:`_carried_commit` for why a
    replay after the state append needs that window.
    Batch-equivalence (pytest): after draining any
    PER-USER-ORDERED split of the events (late cross-batch arrivals
    would need the full batch recompute — the standard lambda split),
    ``read_transition_matrix`` equals the batch operator's counts over
    the full corpus.
    """
    stream = spark.readStream.schema(_EVENTS_SCHEMA).parquet(events_dir)
    _drain(stream, lambda batch_df, batch_id: _carried_commit(
        spark, batch_df, batch_id, matrix_tbl, state_tbl, *_TRANSITIONS
    ), checkpoint_dir)


def _last_events(df: DataFrame, keys: list[str]) -> DataFrame:
    """Each ``keys`` group's last event row by (ts_us, event_id), which
    is unique, so the type field never decides the max."""
    return (
        df.groupBy(*keys)
        .agg(F.max(F.struct("ts_us", "event_id", "event_type")).alias("s"))
        .select("user_id", "s.event_id", "s.event_type", "s.ts_us")
    )


def _prior_state(spark: SparkSession, state_tbl: IceTable,
                 batch_id: int) -> DataFrame | None:
    """The carried-state rows a micro-batch may see: those committed
    before ``batch_id``. Read with ``mergeSchema`` because a log that
    was written before batch_id stamping existed and appended to after
    it mixes files with and without the column; without merging, the
    inferred schema follows one file and either drops the column (the
    replay window reopens) or reads the legacy rows' batch_id as NULL
    (the filter drops them). Unstamped rows are prior state by
    construction, hence the ``coalesce(batch_id, -1)``."""
    snap = state_tbl.snapshot()
    if snap is None or not snap.files:
        return None
    log = spark.read.option("mergeSchema", "true").parquet(*snap.files)
    if "batch_id" not in log.columns:  # a purely pre-stamping log
        return log
    return log.filter(
        F.coalesce(F.col("batch_id"), F.lit(-1)) < F.lit(batch_id))


def _gap_counts(events: DataFrame) -> DataFrame:
    return (
        _gap_buckets(events)
        .groupBy("event_type", "bucket")
        .agg(F.count("*").alias("n_gaps"))
    )


# (state key, delta stage) of each carried-state op.
_TRANSITIONS = (["user_id"], lambda events: _transition_pairs(
    events, "user_id", "ts_us", "event_type", "event_id"))
_INTEREVENT = (["user_id", "event_type"], _gap_counts)


def _carried_commit(spark: SparkSession, batch_df: DataFrame,
                    batch_id: int, out_tbl: IceTable, state_tbl: IceTable,
                    keys: list[str],
                    delta: Callable[[DataFrame], DataFrame]) -> None:
    """One micro-batch of a carried-state op (:data:`_TRANSITIONS` or
    :data:`_INTEREVENT`), module-level so the replay test can re-invoke
    it with the SAME batch_id: the last event per ``keys`` group of
    earlier batches joins this batch's events, ``delta`` turns the union
    into batch_id-stamped delta rows for ``out_tbl``, and the batch's
    own last events append to ``state_tbl``.

    The carried-state read filters to ``batch_id < current``:
    foreachBatch replays reuse the batch id, so a death AFTER the state
    append (but before the checkpoint commit) must not let the replay
    see its own last-event rows as prior state — that would emit an
    extra self-transition (or zero-second gap) per carried group and
    DIFFERENT delta rows the batch_id-distinct guard cannot collapse.
    With the filter, a replay recomputes byte-identical rows for both
    logs (state re-appends tie with themselves under the argmax)."""
    base = batch_df.select("user_id", "event_id", "event_type", "ts_us")
    prior = _prior_state(spark, state_tbl, batch_id)
    if prior is not None:
        carried = _last_events(prior, keys).join(
            base.select(*keys).distinct(), keys, "left_semi"
        )
        unioned = base.unionByName(carried)
    else:
        unioned = base
    stamp = F.lit(batch_id).cast("bigint")
    out_tbl.append(delta(unioned).withColumn("batch_id", stamp))
    state_tbl.append(_last_events(base, keys).withColumn("batch_id", stamp))


def read_interevent_histogram(spark: SparkSession,
                              hist_tbl: IceTable) -> DataFrame | None:
    """Merge-on-read view of the :func:`incremental_interevent` bucket
    log: one replay-safe sum per (event_type, bucket) over the appended
    gap-count deltas (:func:`_sum_deltas`). The [2^(b-1), 2^b) bounds
    attach on read via the batch operator's own projection."""
    hist = _sum_deltas(spark, hist_tbl, ["event_type", "bucket"], "n_gaps")
    return None if hist is None else _with_bucket_bounds(hist)


def incremental_interevent(
    spark: SparkSession,
    events_dir: str,
    hist_tbl: IceTable,
    state_tbl: IceTable,
    checkpoint_dir: str,
) -> None:
    """Streaming maintenance of the per-type inter-event gap histogram
    (:func:`...operators.reports.interevent_histogram`) — the live
    burstiness feed next to :func:`incremental_transitions`' Markov
    counts, same architecture (:func:`_carried_commit`), finer state
    key: the lag chain partitions by (user, TYPE), so the carried row is
    each (user, type)'s last event, restored ahead of every micro-batch
    so the boundary-crossing gap is emitted exactly once.

    Per batch: prior last-events for ONLY the (user, type) pairs
    present in the batch (left-semi) union the batch, the shared
    ``_gap_buckets`` stage (identical whole-second div + bin()
    bucketing), per-batch (type, bucket) counts append as
    batch_id-stamped DELTAS, and the batch's per-(user, type) argmax
    rows append to the state log (resolved on read by the same argmax
    — (ts_us, event_id) is unique, so the max never ties). Replay
    idempotence lives in the readers (see
    :func:`read_interevent_histogram`) plus the carried-state
    ``batch_id < current`` window (see :func:`_carried_commit` —
    a replay after the state append would otherwise count a spurious
    zero-second gap per carried (user, type)).

    Batch-equivalence (pytest): after draining any per-(user, type)-
    ordered split, the merge-on-read histogram equals the batch
    operator over the full stream.
    """
    stream = spark.readStream.schema(_EVENTS_SCHEMA).parquet(events_dir)
    _drain(stream, lambda batch_df, batch_id: _carried_commit(
        spark, batch_df, batch_id, hist_tbl, state_tbl, *_INTEREVENT
    ), checkpoint_dir)
