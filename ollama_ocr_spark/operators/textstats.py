"""Text-analysis operators for a training-data pipeline: token counting,
quality scoring, language-ID heuristic, document fingerprinting.

All expressions are native ``pyspark.sql.functions`` (JVM-side, whole-stage
codegen) — no Python in the hot path. Each has an exact ANSI-SQL mirror in
`__spark_entry__.oracle_sql` (DuckDB), which is why the formulas stick to
portable primitives (split/regexp/md5/round).
"""

from __future__ import annotations

import unicodedata

import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .extract import map_rows

# Tiny deterministic stopword list; the synthetic corpus vocabulary contains
# 'the' and 'a', so ratios are non-degenerate.
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is")

TOKEN_RE = "[a-z0-9]+"


def _words(col: str = "text"):
    return F.split(F.col(col), " ")


def _bigrams(col: str):
    """Adjacent-token bigram strings from the ``TOKEN_RE`` tokenizer.

    The token array is ``dedup._let``-bound: as a free variable inside
    the position lambda it would re-run ``regexp_extract_all`` once per
    bigram position — O(W^2) regex work per document (the HOF
    free-variable trap, measured 20x on winnow_fingerprints).
    """
    from ollama_ocr_spark.operators.dedup import _let

    def bg(toks):
        return F.when(
            F.size(toks) >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return _let(
        F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0), bg
    )


def with_token_counts(df: DataFrame, col: str = "text") -> DataFrame:
    """Whitespace tokens + regex (BPE-ish pre-tokenizer) token counts."""
    return df.withColumns(
        {
            "n_ws_tokens": F.size(_words(col)),
            "n_re_tokens": F.size(
                F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
            ),
        }
    )


def vocab_topk(df: DataFrame, col: str = "text", k: int = 1000) -> DataFrame:
    """Corpus vocabulary build: token → frequency, top-k by count with a
    deterministic token tiebreak — the tokenizer-training precursor every
    pretraining pipeline runs (same ``TOKEN_RE`` pre-tokenizer as
    :func:`with_token_counts`).

    Scale shape: explode → groupBy(token) gets map-side partial
    aggregation, so only (token, partial-count) pairs shuffle — never
    documents; the global top-k is a single-partition sort of the
    (bounded, ≪ corpus) distinct-token counts. Output: (token, n).
    """
    tokens = df.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
        ).alias("token")
    )
    return (
        tokens.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(k)
    )


def vocab_coverage(df: DataFrame, col: str = "text",
                   sizes: tuple = (100, 1000, 10000)) -> DataFrame:
    """Tokenizer-sizing coverage curve: what fraction of all token
    OCCURRENCES a top-N frequency vocabulary covers, at each candidate N
    — the report that decides a tokenizer's vocab size (and predicts the
    OOV rate a given budget buys) before BPE training starts.

    Scale shape: one explode → groupBy(token) with map-side partial
    aggregation (only (token, partial-count) shuffles, never documents);
    the ranking window runs over the DISTINCT-TOKEN relation (vocab-sized,
    ≪ corpus — same justification as group_holdout_split's group window).
    Output: one row per N — (n_vocab, vocab_size, covered_tokens,
    total_tokens, coverage); vocab_size = min(N, distinct tokens).
    """
    counts = (
        df.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
            ).alias("token")
        )
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    ranked = counts.select(
        F.row_number().over(w).alias("rn"),
        F.sum("n").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("cum"),
        F.col("n"),
    )
    total = ranked.agg(
        F.sum("n").alias("__total"), F.count("*").alias("__v")
    )
    # cum is monotone in rn, so coverage at N = cum at rank min(N, V):
    # one conditional max per N collapses the curve without a per-N scan
    aggs = []
    for n in sizes:
        aggs.append(
            F.max(F.when(F.col("rn") <= n, F.col("cum"))).alias(f"__c{n}")
        )
    row = ranked.agg(*aggs).crossJoin(F.broadcast(total))
    per_n = F.array(*[
        F.struct(
            F.lit(n).cast("int").alias("n_vocab"),
            F.least(F.lit(n).cast("bigint"), F.col("__v")).alias("vocab_size"),
            F.col(f"__c{n}").cast("bigint").alias("covered_tokens"),
        )
        for n in sizes
    ])
    return (
        row.select(F.col("__total"), F.explode(per_n).alias("s"))
        .select(
            F.col("s.n_vocab").alias("n_vocab"),
            F.col("s.vocab_size").alias("vocab_size"),
            F.col("s.covered_tokens").alias("covered_tokens"),
            F.col("__total").cast("bigint").alias("total_tokens"),
            F.round(F.col("s.covered_tokens") / F.col("__total"), 4)
            .alias("coverage"),
        )
    )


def unigram_logprob_scores(df: DataFrame, key: str = "doc_id",
                           col: str = "text") -> DataFrame:
    """CCNet-style language-model quality proxy with the corpus itself as
    the unigram LM (the in-sandbox stand-in for a KenLM scorer): per doc,

        nats_per_token = -(1/T_d) * Σ_tok n_d(tok) * ln p(tok)
        p(tok) = (c(tok) + 1) / (T + V)      (add-one smoothed)

    Low scores = statistically typical text; spikes flag gibberish,
    boilerplate, and wrong-language content — the CCNet perplexity-bucket
    signal.

    Scale shape: two token aggregations (both with map-side partial
    combine: per-(doc, token) counts, then global vocab counts) and ONE
    equi-join on token. The vocab side is ≪ corpus and broadcastable once
    capped (pair with :func:`vocab_topk` + an OOV bucket for a bounded
    production LM). The 1-row totals relation joins via an explicit
    broadcast — never a shuffle. Per-token logp is rounded to 8dp so Spark
    and DuckDB `ln` agree bit-for-bit; doc scores round to 4dp (the small
    per-doc sum is the only order-sensitive op).
    """
    toks = df.select(
        F.col(key),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
        ).alias("tok"),
    )
    doc_tok = toks.groupBy(key, "tok").agg(F.count("*").alias("n"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    totals = vocab.agg(
        F.sum("c").alias("t_tokens"), F.count("*").alias("v_size")
    )
    scored = (
        doc_tok.join(vocab, "tok")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "logp",
            F.round(
                F.log((F.col("c") + 1) / (F.col("t_tokens") + F.col("v_size"))),
                8,
            ),
        )
    )
    return scored.groupBy(key).agg(
        F.sum("n").alias("n_tokens"),
        F.round(-F.sum(F.col("n") * F.col("logp")) / F.sum("n"), 4)
        .alias("nats_per_token"),
    )


def bigram_logprob_scores(df: DataFrame, key: str = "doc_id",
                          col: str = "text") -> DataFrame:
    """Conditional-bigram LM quality proxy — the order-2 companion of
    :func:`unigram_logprob_scores` (KenLM-style scorers are n-gram
    models; the unigram proxy misses scrambled-word-order junk that a
    bigram LM flags):

        nats_per_bigram = -(1/B_d) * Σ_bg n_d(bg) * ln p(w2|w1)
        p(w2|w1) = (c(w1 w2) + 1) / (c(w1 ·) + V)   (add-one smoothed)

    Docs with fewer than 2 tokens have no bigrams and emit no row.

    Scale shape: ONE tokenization scan; per-(doc, bigram) counts feed
    BOTH the bigram LM and the context totals (map-side partial combine;
    integers identical by construction), so the corpus is never
    re-tokenized; one equi-join on the bigram string scores docs. Engine
    parity: 8dp-quantized ln, DECIMAL(18,8) per-doc sum — the
    :func:`dsir_importance_weights` conventions.
    """
    from ollama_ocr_spark.operators.dedup import ensure_parallelism

    toks = F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
    bigrams = _bigrams(col)
    base = ensure_parallelism(df)
    vtot = base.select(
        F.explode(toks).alias("tok")
    ).agg(F.count_distinct("tok").alias("v"))
    doc_bg = (
        base.select(F.col(key), F.explode(bigrams).alias("g"))
        .select(
            F.col(key), F.col("g"),
            F.split(F.col("g"), " ").getItem(0).alias("w1"),
        )
        .groupBy(key, "g", "w1")
        .agg(F.count("*").alias("n"))
    )
    ctx = doc_bg.groupBy("w1").agg(F.sum("n").alias("cctx"))
    bglm = doc_bg.groupBy("g", "w1").agg(F.sum("n").alias("c"))
    lm = (
        bglm.join(ctx, "w1")
        .crossJoin(F.broadcast(vtot))
        .select(
            "g",
            F.round(
                F.log((F.col("c") + 1) / (F.col("cctx") + F.col("v"))), 8
            ).alias("logp"),
        )
    )
    scored = doc_bg.join(lm, "g").groupBy(key).agg(
        F.sum("n").alias("n_bigrams"),
        F.sum((F.col("n") * F.col("logp")).cast("decimal(18,8)"))
        .alias("__lo"),
    )
    return scored.select(
        key,
        "n_bigrams",
        F.round(
            -F.col("__lo").cast("double") / F.col("n_bigrams"), 4
        ).alias("nats_per_bigram"),
    )


def zipf_slope(df: DataFrame, col: str = "text", top_n: int = 500) -> DataFrame:
    """Corpus-health report: OLS fit of ln(freq) on ln(rank) over the
    ``top_n`` most frequent tokens — natural text follows Zipf's law with
    slope ≈ -1; a corpus drifting toward machine-generated or deduped-
    to-death text shows it here first (slope flattens or steepens).

    Output is ONE row: ``n_ranked``, ``slope``, ``intercept``.

    Scale shape: token counts partial-aggregate map-side; the rank cut is
    ``orderBy().limit(top_n)`` — Spark's TakeOrdered (per-partition top-k
    then a k-row merge on the driver side of the exchange), NEVER a global
    sort of the vocabulary. The OLS moments then aggregate ``top_n`` rows.
    Engine parity: ln values quantized to 8dp, moment sums in DECIMAL
    (exact, order-free), slope/intercept computed in doubles from the
    decimal sums and rounded to 4dp.
    """
    counts = (
        df.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(top_n)
    w = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    xy = top.select(
        F.round(F.log(F.row_number().over(w).cast("double")), 8).alias("x"),
        F.round(F.log(F.col("n").cast("double")), 8).alias("y"),
    )
    m = xy.agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("x").cast("decimal(20,8)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(20,8)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,12)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(30,12)")).alias("sxx"),
    )
    cnt = F.col("cnt").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx)
    return m.select(
        F.col("cnt").alias("n_ranked"),
        F.round(slope, 4).alias("slope"),
        F.round((sy - slope * sx) / cnt, 4).alias("intercept"),
    )


def quality_deciles(df: DataFrame, key: str = "doc_id",
                    col: str = "text") -> DataFrame:
    """CCNet's perplexity-bucket report: docs ranked by the unigram-LM
    score (:func:`unigram_logprob_scores`) and cut into 10 equal-count
    buckets; per decile the doc count, token mass, and mean nats — the
    table a data lead reads to pick the head/middle/tail keep thresholds
    (CCNet keeps the best-perplexity third).

    Scale shape: the ranked relation is ONE ROW PER DOC (scores, not
    text), but NTILE is still a global sort of those rows; at 10^9+ docs
    swap the window for `approx_percentile(nats, array(0.1..0.9))`
    boundaries + a `width_bucket`-style comparison — one aggregate and a
    map-side assignment, no sort. The exact NTILE form is kept here
    because the driver oracle-compares bucket membership bit-for-bit
    (ties break on doc_id).
    """
    scores = unigram_logprob_scores(df, key=key, col=col)
    w = Window.orderBy(F.col("nats_per_token").asc(), F.col(key).asc())
    bucketed = scores.withColumn("decile", F.ntile(10).over(w))
    return (
        bucketed.groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.round(
                F.sum(F.col("nats_per_token").cast("decimal(18,4)"))
                .cast("double") / F.count("*"),
                4,
            ).alias("mean_nats"),
        )
        .select("decile", "n_docs", "n_tokens", "mean_nats")
    )


def with_quality_score(df: DataFrame, col: str = "text") -> DataFrame:
    """Deterministic quality features: length, word count, mean word length,
    stopword ratio, and a composite score. (Gopher/C4-style filters use the
    same feature family; thresholds here are illustrative and tunable.)"""
    words = _words(col)
    n_words = F.size(words)
    stop_hits = F.size(
        F.filter(words, lambda w: w.isin(*STOPWORDS))
    )
    mean_wl = F.round(
        (F.length(F.col(col)) - (n_words - F.lit(1))) / n_words, 4
    )
    stop_ratio = F.round(stop_hits / n_words, 4)
    return (
        df.withColumn("n_chars_q", F.length(F.col(col)))
        .withColumn("n_words", n_words)
        .withColumn("mean_word_len", mean_wl)
        .withColumn("stopword_ratio", stop_ratio)
        .withColumn(
            "quality_ok",
            (n_words >= F.lit(10))
            & (mean_wl >= F.lit(2.0))
            & (mean_wl <= F.lit(12.0))
            & (stop_ratio >= F.lit(0.01)),
        )
    )


def with_repetition_stats(df: DataFrame, col: str = "text",
                          k: int = 5) -> DataFrame:
    """Repetition-based quality signals (the Gopher/MassiveText filter
    family: published rules drop documents whose duplicate n-gram or
    top-word mass is too high — arXiv:2112.11446 §A1.1):

    - ``distinct_word_frac``: |distinct words| / |words|,
    - ``top_word_frac``: share of the single most frequent word,
    - ``dup_kgram_frac``: 1 - |distinct k-grams| / |k-grams| (k=5 default,
      same shingle unit as the dedup family),
    - ``repetition_ok``: illustrative composite threshold.

    All native array expressions (one pass, no explode/shuffle); exact
    DuckDB mirror in the ``repetition_stats`` oracle.
    """
    from ollama_ocr_spark.operators.dedup import _let

    words = _words(col)
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    # top word share via aggregate over distinct words, counting matches in
    # the full array — O(distinct * n) worst case but fully map-side; texts
    # are documents, not books. The word array is _let-bound: free inside
    # the match-count lambda it would re-split per distinct word.
    top_count = _let(
        words,
        lambda ws: F.array_max(
            F.transform(
                F.array_distinct(ws),
                lambda w: F.size(F.filter(ws, lambda x: x == w)),
            )
        ),
    )

    def kgrams_of(ws):
        n = F.size(ws)
        idx = F.when(
            n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx, lambda i: F.array_join(F.slice(ws, i, k), " ")
        )

    dup_frac = _let(
        words,
        lambda ws: _let(
            kgrams_of(ws),
            lambda kg: F.when(
                F.size(kg) > 0,
                F.round(1 - F.size(F.array_distinct(kg)) / F.size(kg), 4),
            ).otherwise(F.lit(0.0)),
        ),
    )
    distinct_frac = F.round(n_distinct / n_words, 4)
    top_frac = F.round(top_count / n_words, 4)
    return (
        df.withColumn("n_words", n_words)
        .withColumn("distinct_word_frac", distinct_frac)
        .withColumn("top_word_frac", top_frac)
        .withColumn("dup_kgram_frac", dup_frac)
        .withColumn(
            "repetition_ok",
            (distinct_frac >= F.lit(0.2))
            & (top_frac <= F.lit(0.3))
            & (dup_frac <= F.lit(0.6)),
        )
    )


def with_langid(df: DataFrame, col: str = "text") -> DataFrame:
    """N-gram-free stopword-hit language heuristic.

    Real deployments plug fastText/CLD3 in here; the sandbox heuristic is a
    deterministic marker-word vote that both Spark and the SQL oracle can
    express identically.
    """
    words = _words(col)
    en_hits = F.size(F.filter(words, lambda w: w.isin("the", "a", "and", "of")))
    return df.withColumn(
        "pred_lang",
        F.when(en_hits > 0, F.lit("en")).otherwise(F.lit("und")),
    )


def with_lang_segments(df: DataFrame, col: str = "text",
                       sep: str = "\n\n") -> DataFrame:
    """Per-paragraph language segmentation: web documents are routinely
    mixed-language (chrome in one language, content in another), and
    corpus pipelines decide keep/split at paragraph granularity. Runs the
    :func:`with_langid` marker heuristic per paragraph, then aggregates:

    - ``n_paras``        — paragraph count,
    - ``dominant_lang``  — majority predicted language (ties → 'en'),
    - ``dominant_frac``  — its share of paragraphs (round 4),
    - ``mixed``          — both languages present.

    Pure map-side array lambdas — segmentation never explodes rows or
    shuffles; swap the marker vote for fastText per paragraph in
    production, the aggregation shape is unchanged.
    """
    paras = F.split(F.col(col), sep)
    preds = F.transform(
        paras,
        lambda p: F.when(
            F.size(
                F.filter(
                    F.split(p, " "),
                    lambda w: w.isin("the", "a", "and", "of"),
                )
            ) > 0,
            F.lit("en"),
        ).otherwise(F.lit("und")),
    )
    n = F.size(paras)
    n_en = F.size(F.filter(preds, lambda x: x == "en"))
    return (
        df.withColumn("n_paras", n)
        .withColumn(
            "dominant_lang",
            F.when(n_en >= n - n_en, F.lit("en")).otherwise(F.lit("und")),
        )
        .withColumn(
            "dominant_frac", F.round(F.greatest(n_en, n - n_en) / n, 4)
        )
        .withColumn("mixed", (n_en > 0) & (n_en < n))
    )


def with_fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Stable 128-bit content fingerprint (md5) + 64-bit prefix bucket."""
    return df.withColumn("fingerprint", F.md5(F.col(col))).withColumn(
        "fp_bucket", F.substring(F.col("fingerprint"), 1, 4)
    )


# PII patterns: shared Java-regex/RE2-safe subset (no lookaround, no
# backrefs) so the Spark expressions and the DuckDB oracle scrub byte-
# identically. Scrub order matters and is part of the contract:
# emails first (they contain dots/digits), then IPv4, then phones.
def curation_verdict(df: DataFrame, key: str = "doc_id",
                     col: str = "text") -> DataFrame:
    """End-to-end curation verdict per document — the final keep/drop
    stage of a training-data pipeline, with the FIRST failing reason:

    1. ``duplicate``  — not the exact-dup keeper (min key per md5(text)),
    2. ``quality``    — fails the :func:`with_quality_score` gate,
    3. ``repetition`` — fails the :func:`with_repetition_stats` gate,
    4. ``ok``         — kept.

    Scale shape: the only shuffle is the keeper aggregate on the 128-bit
    text digest (map-side partial agg; digests, never text) + its join
    back on the digest; the quality/repetition gates are pure map-side
    array expressions — parallelism-guarded, because "map-side" on a
    small single-file parquet scan otherwise means ONE task doing all
    the O(distinct×n) repetition array work. Output: (key, reason, keep).
    """
    from ollama_ocr_spark.operators.dedup import ensure_parallelism

    scored = with_repetition_stats(
        with_quality_score(ensure_parallelism(df), col), col
    )
    keepers = df.groupBy(F.md5(F.col(col)).alias("__fp")).agg(
        F.min(F.col(key)).alias("__keeper")
    )
    out = scored.withColumn("__fp", F.md5(F.col(col))).join(keepers, "__fp")
    reason = (
        F.when(F.col(key) != F.col("__keeper"), F.lit("duplicate"))
        .when(~F.col("quality_ok"), F.lit("quality"))
        .when(~F.col("repetition_ok"), F.lit("repetition"))
        .otherwise(F.lit("ok"))
    )
    return out.select(
        F.col(key),
        reason.alias("reason"),
        (reason == "ok").alias("keep"),
    )


def curation_funnel(df: DataFrame, key: str = "doc_id",
                    col: str = "text") -> DataFrame:
    """The gate-survival funnel a data lead reads before a training run:
    docs entering the pipeline, docs each ordered curation gate removes
    (first-failing attribution, from :func:`curation_verdict`), and the
    cumulative survivor count after each gate:

        stage 1 duplicate  → 2 quality → 3 repetition

    Output: (stage, gate, n_failed, n_surviving) — ``n_surviving`` of the
    last stage is the kept-set size.

    Scale shape: rides curation_verdict's single digest shuffle down to a
    ≤4-row reason histogram; the cumulative window runs on those ≤4 rows
    joined against an inline 3-row gate table (no driver collect).
    """
    gates = F.array(*[
        F.struct(F.lit(i).alias("stage"), F.lit(g).alias("gate"))
        for i, g in enumerate(("duplicate", "quality", "repetition"), 1)
    ])
    gate_rows = df.sparkSession.range(1).select(
        F.explode(gates).alias("g")
    ).select("g.stage", "g.gate")
    counts = (
        curation_verdict(df, key=key, col=col)
        .groupBy("reason").agg(F.count("*").alias("n"))
    )
    joined = gate_rows.join(
        F.broadcast(counts), gate_rows.gate == counts.reason, "left"
    ).select("stage", "gate", F.coalesce(F.col("n"), F.lit(0)).alias("n_failed"))
    total = counts.agg(F.sum("n").alias("n_total"))
    w = (
        Window.orderBy("stage")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.crossJoin(F.broadcast(total))
        .withColumn("n_surviving", F.col("n_total") - F.sum("n_failed").over(w))
        .select("stage", "gate", "n_failed", "n_surviving")
    )


def filter_attribution(df: DataFrame, key: str = "doc_id",
                       col: str = "text") -> DataFrame:
    """Per-rule attribution audit for the curation gates — the report that
    tells a data lead WHICH atomic filter rule is binding before a
    threshold change. :func:`curation_funnel` attributes each drop to its
    FIRST failing composite gate; this view decomposes the composites into
    their 8 atomic rules and reports, per rule:

    - ``n_fail``       — docs failing the rule at all,
    - ``n_fail_only``  — docs failing ONLY this rule (the marginal docs
      recovered if the rule were relaxed — a rule with n_fail > 0 but
      n_fail_only == 0 is fully shadowed by other rules),
    - ``fail_rate``    — n_fail / corpus size (round 4),
    - ``n_keep``       — docs failing no rule (constant across rows).

    Rules and thresholds are EXACTLY the production gates
    (:func:`with_quality_score`, :func:`with_repetition_stats`, and the
    exact-dup keeper): too_few_words, mean_wl_low/high, low_stopword,
    low_distinct, top_word_heavy, dup_kgrams, duplicate.

    Scale shape: rides the same single digest shuffle as curation_verdict
    (keeper agg on md5, never text) plus the map-side feature
    expressions; everything reduces to ONE 17-counter aggregate row that
    unpivots to 8 rule rows driver-free (explode of a literal struct
    array — no collect, no second corpus pass).
    """
    from ollama_ocr_spark.operators.dedup import ensure_parallelism

    scored = with_repetition_stats(
        with_quality_score(ensure_parallelism(df), col), col
    )
    keepers = df.groupBy(F.md5(F.col(col)).alias("__fp")).agg(
        F.min(F.col(key)).alias("__keeper")
    )
    j = scored.withColumn("__fp", F.md5(F.col(col))).join(keepers, "__fp")
    rules = [
        ("too_few_words", F.col("n_words") < 10),
        ("mean_wl_low", F.col("mean_word_len") < 2.0),
        ("mean_wl_high", F.col("mean_word_len") > 12.0),
        ("low_stopword", F.col("stopword_ratio") < 0.01),
        ("low_distinct", F.col("distinct_word_frac") < 0.2),
        ("top_word_heavy", F.col("top_word_frac") > 0.3),
        ("dup_kgrams", F.col("dup_kgram_frac") > 0.6),
        ("duplicate", F.col(key) != F.col("__keeper")),
    ]
    flagged = j.select(
        *[cond.alias(f"__f{i}") for i, (_, cond) in enumerate(rules)]
    )
    n_fails = sum(
        (F.col(f"__f{i}").cast("int") for i in range(len(rules))), F.lit(0)
    )
    flagged = flagged.withColumn("__nf", n_fails)
    aggs = [F.count("*").alias("n_docs"),
            F.sum((F.col("__nf") == 0).cast("int")).alias("n_keep")]
    for i in range(len(rules)):
        aggs.append(F.sum(F.col(f"__f{i}").cast("int")).alias(f"__a{i}"))
        aggs.append(
            F.sum((F.col(f"__f{i}") & (F.col("__nf") == 1)).cast("int"))
            .alias(f"__o{i}")
        )
    row = flagged.agg(*aggs)
    unpivot = F.array(*[
        F.struct(
            F.lit(name).alias("rule"),
            F.col(f"__a{i}").alias("n_fail"),
            F.col(f"__o{i}").alias("n_fail_only"),
        )
        for i, (name, _) in enumerate(rules)
    ])
    return (
        row.select(F.explode(unpivot).alias("r"), "n_docs", "n_keep")
        .select(
            F.col("r.rule").alias("rule"),
            F.col("r.n_fail").alias("n_fail"),
            F.col("r.n_fail_only").alias("n_fail_only"),
            F.round(F.col("r.n_fail") * F.lit(1.0) / F.col("n_docs"), 4)
            .alias("fail_rate"),
            "n_keep",
        )
    )


def token_drift(df: DataFrame, key: str = "doc_id", col: str = "text",
                k: int = 50, recrawl_mod: int = 5) -> DataFrame:
    """Content-level drift between the full corpus and a selected slice
    (the recrawl policy ``key % recrawl_mod == 0``): per-token share in
    each population over the top-k full-corpus tokens, plus the head-TVD
    ``sum(|p_full - p_slice|)/2`` over those k tokens repeated on every
    row. The label-level :func:`~ollama_ocr_spark.operators.maintenance.
    selection_drift` says WHICH sources the policy over-samples; this
    view says what that does to the token distribution a model trains on
    (the same ``TOKEN_RE`` pre-tokenizer as :func:`vocab_topk`).

    Shares divide by TOTAL token mass (all tokens, not just the head), so
    head_tvd is a lower bound on full TVD — documented, and the honest
    number at 100 TB where the full vocabulary never fits a report.

    Determinism: counts are exact integers; shares round(n/total, 8);
    deltas 8dp-rounded then DECIMAL-summed (order-free); top-k breaks
    count ties by token text. Scale shape: one explode → token partial
    agg (counters shuffle, never documents), a broadcast 1-row totals
    join, a distributed top-k (TakeOrdered — no single-partition sort of
    the vocabulary), and windows over the k result rows only.
    """
    toks = df.select(
        (F.col(key) % recrawl_mod == 0).alias("__sel"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
        ).alias("token"),
    )
    per = toks.groupBy("token").agg(
        F.count("*").alias("n_full"),
        F.sum(F.col("__sel").cast("int")).alias("n_recrawl"),
    )
    tot = per.agg(F.sum("n_full").alias("__tf"),
                  F.sum("n_recrawl").alias("__tr"))
    top = per.orderBy(F.desc("n_full"), F.asc("token")).limit(k)
    # Empty-slice guard: sum(n_recrawl)=0 yields NULL shares (DuckDB's own
    # x/0 result, so the oracle agrees) instead of an ANSI DIVIDE_BY_ZERO;
    # __tf > 0 whenever any token row exists.
    shares = top.crossJoin(F.broadcast(tot)).select(
        "token", "n_full", "n_recrawl",
        F.round(F.col("n_full") * F.lit(1.0) / F.col("__tf"), 8)
        .alias("share_full"),
        F.when(
            F.col("__tr") > 0,
            F.round(F.col("n_recrawl") * F.lit(1.0) / F.col("__tr"), 8),
        ).alias("share_recrawl"),
    )
    deltas = shares.withColumn(
        "abs_delta",
        F.round(F.abs(F.col("share_full") - F.col("share_recrawl")), 8),
    )
    w = Window.partitionBy()
    head_tvd = F.round(
        F.sum(F.col("abs_delta").cast("decimal(18,8)")).over(w)
        .cast("double") / 2,
        8,
    )
    return deltas.withColumn("head_tvd", head_tvd)


# ftfy-style encoding-damage signatures: UTF-8 bytes read as Latin-1/cp1252
# ('â€™', 'Ã©'), the replacement character, and stray C0 control bytes.
MOJIBAKE_RE = "(â€|Ã[©¨¤¶¼])"
REPLACEMENT_CHAR = "�"
CONTROL_RE = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f]"


def encoding_health(df: DataFrame, source_col: str = "source",
                    col: str = "text") -> DataFrame:
    """Per-source encoding-health report (the detect half of an
    ftfy-style fixer): documents showing UTF-8-as-Latin-1 mojibake
    signatures, U+FFFD replacement characters, or stray C0 control
    bytes — upstream fetch/decode bugs surface here as a per-source
    spike long before they poison a tokenizer vocabulary.

    Scale shape: three native regexps folded into one scan, partial-agg
    counters per source — no text ever shuffles.
    """
    moji = (F.regexp_count(F.col(col), F.lit(MOJIBAKE_RE)) > 0).cast("int")
    repl = F.contains(F.col(col), F.lit(REPLACEMENT_CHAR)).cast("int")
    ctrl = (F.regexp_count(F.col(col), F.lit(CONTROL_RE)) > 0).cast("int")
    return (
        df.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(moji).cast("bigint").alias("mojibake_docs"),
            F.sum(repl).cast("bigint").alias("replacement_docs"),
            F.sum(ctrl).cast("bigint").alias("control_docs"),
            F.round(
                F.sum(((moji + repl + ctrl) > 0).cast("int")) / F.count("*"),
                4,
            ).alias("damaged_frac"),
        )
    )


# Closed repair table for the commonest UTF-8-read-as-cp1252 sequences,
# longest-first so 'â€™' wins over its 'â€' prefix. Production swaps in a
# full ftfy table; the operator's plumbing (chained native replace, no
# UDF) is what scales.
MOJIBAKE_FIXES = (
    ("â€™", "’"), ("â€œ", "“"), ("â€", "”"),
    ("â€“", "–"), ("â€”", "—"),
    ("Ã©", "é"), ("Ã¨", "è"), ("Ã¤", "ä"), ("Ã¶", "ö"), ("Ã¼", "ü"),
)


def fix_encoding(df: DataFrame, key: str = "doc_id",
                 col: str = "text") -> DataFrame:
    """The repair half of :func:`encoding_health` (detect): apply the
    closed cp1252-mojibake table, drop U+FFFD replacement characters, and
    strip stray C0 control bytes. Output: (key, col fixed, n_chars_in,
    n_chars_out, was_damaged) — ``was_damaged`` uses the SAME signatures
    as encoding_health, so ``fix → detect`` rates can be compared
    before/after in one pipeline.

    Scale shape: a chain of native string replaces + one regexp_replace,
    fully map-side inside one codegen stage; no UDF, no shuffle. DuckDB
    mirrors with nested ``replace()`` in the identical order.
    """
    damaged = (
        (F.regexp_count(F.col(col), F.lit(MOJIBAKE_RE)) > 0)
        | F.contains(F.col(col), F.lit(REPLACEMENT_CHAR))
        | (F.regexp_count(F.col(col), F.lit(CONTROL_RE)) > 0)
    )
    fixed = F.col(col)
    for bad, good in MOJIBAKE_FIXES:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    fixed = F.replace(fixed, F.lit(REPLACEMENT_CHAR), F.lit(""))
    fixed = F.regexp_replace(fixed, CONTROL_RE, "")
    return df.select(
        F.col(key),
        fixed.alias(col),
        F.length(F.col(col)).alias("n_chars_in"),
        F.length(fixed).alias("n_chars_out"),
        damaged.alias("was_damaged"),
    )


def hapax_rate(df: DataFrame, source_col: str = "source",
               col: str = "text") -> DataFrame:
    """Per-source vocabulary-health report: distinct token types, total
    token occurrences, hapax legomena (types seen exactly once), and the
    type/token ratio. A hapax-fraction spike in one source is the classic
    OCR-noise / boilerplate-explosion signal — garbage tokens are almost
    always singletons — and TTR drift flags template-heavy sources whose
    text is cheap to dedup. Same ``TOKEN_RE`` pre-tokenizer as
    :func:`vocab_topk`.

    Output: (source, n_types, n_tokens, n_hapax, hapax_frac, ttr).

    Scale shape: one token explode → groupBy(source, token) with map-side
    partial aggregation (only (source, token, partial-count) rows
    shuffle); the per-source rollup aggregates the already-collapsed type
    rows, never re-reading text.
    """
    tokens = df.select(
        F.col(source_col).alias("source"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
        ).alias("token"),
    )
    types = tokens.groupBy("source", "token").agg(F.count("*").alias("n"))
    return (
        types.groupBy("source")
        .agg(
            F.count("*").alias("n_types"),
            F.sum("n").alias("n_tokens"),
            F.sum((F.col("n") == 1).cast("int")).cast("bigint").alias("n_hapax"),
        )
        .select(
            "source", "n_types", "n_tokens", "n_hapax",
            F.round(F.col("n_hapax") / F.col("n_types"), 4).alias("hapax_frac"),
            F.round(F.col("n_types") / F.col("n_tokens"), 4).alias("ttr"),
        )
    )


def tokenizer_fertility(df: DataFrame, lang_col: str = "lang",
                        col: str = "text") -> DataFrame:
    """Tokenizer-fit-by-language report: fertility (regex pre-tokens per
    whitespace word) and compression (chars per pre-token) per language.
    A language whose fertility runs far above the corpus mean is being
    shredded by the tokenizer — it pays more sequence positions for the
    same content, the classic multilingual-vocab-sizing signal.

    Output: (lang, n_docs, n_chars, n_ws_tokens, n_re_tokens,
    fertility, chars_per_token). Same ``TOKEN_RE`` pre-tokenizer as
    :func:`with_token_counts`.

    Scale shape: pure map-side counters (two sizes + a length per row)
    into one per-lang partial agg — text never shuffles.
    """
    ws = F.size(_words(col))
    re_t = F.size(
        F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
    )
    return (
        df.groupBy(F.col(lang_col).alias("lang"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length(F.col(col))).alias("n_chars"),
            F.sum(ws).alias("n_ws_tokens"),
            F.sum(re_t).alias("n_re_tokens"),
        )
        .select(
            "lang", "n_docs", "n_chars", "n_ws_tokens", "n_re_tokens",
            F.round(F.col("n_re_tokens") / F.col("n_ws_tokens"), 4)
            .alias("fertility"),
            F.round(F.col("n_chars") / F.col("n_re_tokens"), 4)
            .alias("chars_per_token"),
        )
    )


def data_budget_plan(df: DataFrame, target_tokens: int,
                     source_col: str = "source", col: str = "text",
                     max_epochs: int = 4) -> DataFrame:
    """Data-constrained training plan (the Muennighoff-style question:
    "we want T tokens — how many epochs of each source?"): per-source
    whitespace-token mass → sqrt-temperature allocation weights → token
    targets → epochs, capped at ``max_epochs`` repeats with the
    shortfall reported (tokens the cap leaves unserved, to reallocate or
    accept).

    Output: (source, n_tokens, weight, target_alloc, served_tokens,
    epochs, capped).

    Engine parity: the weight denominator sums 4dp-quantized sqrt masses
    through DECIMAL(18,4) (order-free exact sum — a raw double sum would
    depend on row order); every later step is deterministic IEEE double
    math on exactly-representable inputs.

    Scale shape: one per-source counter agg (map-side partial), then all
    arithmetic on the ~|sources| row relation with a 1-row broadcast
    denominator.
    """
    per_src = df.groupBy(F.col(source_col).alias("source")).agg(
        F.sum(F.size(_words(col))).alias("n_tokens")
    )
    rooted = per_src.withColumn(
        "__rt", F.round(F.sqrt(F.col("n_tokens")), 4))
    denom = rooted.agg(
        F.sum(F.col("__rt").cast("decimal(18,4)")).alias("__denom"))
    w = F.col("__rt") / F.col("__denom").cast("double")
    planned = rooted.crossJoin(F.broadcast(denom)).select(
        "source", "n_tokens",
        F.round(w, 6).alias("weight"),
        F.floor(F.lit(float(target_tokens)) * w).alias("target_alloc"),
    )
    served = F.least(
        F.col("target_alloc"),
        F.col("n_tokens") * F.lit(int(max_epochs)),
    )
    return planned.select(
        "source", "n_tokens", "weight", "target_alloc",
        served.alias("served_tokens"),
        F.round(served / F.col("n_tokens"), 4).alias("epochs"),
        (F.col("target_alloc") > served).alias("capped"),
    )


def quality_sample(df: DataFrame, key: str = "doc_id",
                   col: str = "text") -> DataFrame:
    """Soft quality-weighted downsampling (the DCLM-style alternative to
    a hard gate): a document's keep PROBABILITY rises with its quality
    signal — here ``clamp(5 * stopword_ratio, 0.1, 1.0)``, so prose-like
    text is always kept and word-salad still survives at 10% (hard
    filters amputate distribution tails; soft ones keep them thin).
    Acceptance is deterministic md5 arithmetic (no RNG): keep iff
    ``md5_u32(key) < floor(keep_prob * 2^32)`` — integer compare, so the
    per-row variable probability stays engine-portable.

    Output: (key, keep_prob, kept) for every input document.

    Scale shape: pure map-side — one stopword array scan + one md5 per
    row, no shuffle.
    """
    from ollama_ocr_spark.operators.maintenance import md5_u32_expr

    words = _words(col)
    stop_ratio = F.size(
        F.filter(words, lambda w: w.isin(*STOPWORDS))
    ) / F.size(words)
    keep_prob = F.round(
        F.least(F.greatest(stop_ratio * 5, F.lit(0.1)), F.lit(1.0)), 4
    )
    thresh = F.floor(keep_prob * F.lit(4294967296.0)).cast("bigint")
    return df.select(
        F.col(key),
        keep_prob.alias("keep_prob"),
        (md5_u32_expr(key, salt="qs|") < thresh).alias("kept"),
    )


def mix_manifest(df: DataFrame, target_tokens: int, key: str = "doc_id",
                 source_col: str = "source", col: str = "text",
                 max_epochs: int = 4) -> DataFrame:
    """Materialize :func:`data_budget_plan` at the document level: each
    document repeats ``floor(epochs)`` times plus one extra repeat with
    probability ``frac(epochs)`` under deterministic md5 acceptance — so
    summing ``n_repeats * doc_tokens`` over a source converges on the
    plan's served token count without any RNG or driver loop. This is
    the manifest a training loader actually consumes.

    Output: (key, source, epochs, n_repeats).

    Scale shape: the plan is a ~|sources| row broadcast; the manifest is
    one map-side projection per document (an int floor + one md5).
    """
    from ollama_ocr_spark.operators.maintenance import md5_u32_expr

    plan = data_budget_plan(
        df, target_tokens, source_col=source_col, col=col,
        max_epochs=max_epochs,
    ).select("source", "epochs")
    base = F.floor(F.col("epochs")).cast("int")
    frac = F.round(F.col("epochs") - F.floor(F.col("epochs")), 4)
    extra = (
        md5_u32_expr(key, salt="mix|")
        < F.floor(frac * F.lit(4294967296.0)).cast("bigint")
    ).cast("int")
    return (
        df.select(F.col(key), F.col(source_col).alias("source"))
        .join(F.broadcast(plan), "source")
        .select(
            F.col(key), "source", "epochs",
            (base + extra).alias("n_repeats"),
        )
    )


PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d{1,3}[- ]\d{3}[- ]\d{3}[- ]\d{4}"


def with_pii_scrub(df: DataFrame, col: str = "text") -> DataFrame:
    """Training-data hygiene: count and redact emails / IPv4s / phone
    numbers (map-side native ``regexp_*`` — stays in codegen, no shuffle,
    no Python). Adds ``n_emails/n_ipv4/n_phones``, the redacted
    ``scrubbed`` column ([EMAIL]/[IP]/[PHONE] placeholders), and a
    ``pii_free`` flag. Real deployments extend the pattern table (SSNs,
    IBANs, street addresses) the same way — one column expression each.
    """
    c = F.col(col)
    n_emails = F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), F.lit(0)))
    n_ipv4 = F.size(F.regexp_extract_all(c, F.lit(PII_IPV4_RE), F.lit(0)))
    n_phones = F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), F.lit(0)))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(c, PII_EMAIL_RE, "[EMAIL]"),
            PII_IPV4_RE, "[IP]",
        ),
        PII_PHONE_RE, "[PHONE]",
    )
    return (
        df.withColumn("n_emails", n_emails)
        .withColumn("n_ipv4", n_ipv4)
        .withColumn("n_phones", n_phones)
        .withColumn("scrubbed", scrubbed)
        .withColumn(
            "pii_free", (n_emails == 0) & (n_ipv4 == 0) & (n_phones == 0)
        )
    )


def normalize_text_stage(df: DataFrame, key: str = "doc_id",
                         col: str = "text", form: str = "NFC",
                         casefold: bool = False) -> DataFrame:
    """Unicode hygiene gate — NFC-normalize text BEFORE any hashing or
    dedup stage: the same visible string in composed vs decomposed form
    ('café' as 4 vs 5 code points) md5-hashes differently, so exact dedup,
    shingles, and digest joins all silently miss equal content until the
    corpus is normalized to one form. Web text mixes forms freely
    (different CMSes, different OSes).

    Runs as ONE :func:`~ollama_ocr_spark.operators.extract.map_rows`
    stage over the column-pruned (key, text) projection — stdlib
    ``unicodedata`` per row inside Arrow batches; the key passes through
    as an Arrow array. Output: (key, norm_text, changed,
    chars_in, chars_out); counts are code points (Python ``len`` ==
    DuckDB ``length`` == Spark ``length`` semantics). The DuckDB oracle
    mirrors with ``nfc_normalize()``, which agrees
    codepoint-for-codepoint with Python's NFC — the oracle comparison is
    the cross-implementation conformance check. Text is assumed non-null
    (the corpus contract).

    ``form`` selects the UAX#15 normalization form ("NFC"/"NFKC"/"NFD"/
    "NFKD"); ``casefold=True`` additionally applies full Unicode case
    folding (ß→ss, İ→i+U+0307 — more than lower()) and re-normalizes,
    i.e. form(casefold(form(t))) — the NFKC+casefold composition a
    dedup/tokenizer pipeline wants so 'ﬁle', 'FILE' and 'file' hash
    identically. DuckDB has no NFKC/casefold, so that variant's oracle
    is a hand-derived UAX#15 + case-folding expectation table over
    fixture suffixes (the body corpus is NFKC/casefold-invariant ASCII).
    """
    if form not in ("NFC", "NFKC", "NFD", "NFKD"):
        raise ValueError(f"unknown normalization form: {form!r}")

    def _normalize_row(t: str) -> tuple[tuple, ...]:
        n = unicodedata.normalize(form, t)
        if casefold:
            n = unicodedata.normalize(form, n.casefold())
        return ((n, n != t, len(t), len(n)),)

    schema = pa.schema([(key, pa.int64()), ("norm_text", pa.string()),
                        ("changed", pa.bool_()), ("chars_in", pa.int32()),
                        ("chars_out", pa.int32())])
    return map_rows(df, _normalize_row, (col,), schema, keep=(key,))


def pii_stats(df: DataFrame, group_col: str = "source",
              col: str = "text") -> DataFrame:
    """Per-source PII exposure audit — the report a privacy review reads
    before an export ships: per group, document count, documents with
    ANY hit, per-type totals (emails / IPv4 / phones, the
    :func:`with_pii_scrub` pattern table), and the hit-document rate.
    A source whose rate spikes is a scrape of a contact-heavy site (or a
    parser regression) and gets quarantined before packing.

    Scale shape: the regexp counting is map-side codegen; ONE partial-agg
    shuffle on the group key; output is |groups| rows. Scrubbed text is
    never materialized here — counts only.
    """
    scored = with_pii_scrub(df, col)
    return scored.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum((~F.col("pii_free")).cast("int")).alias("n_docs_with_pii"),
        F.sum("n_emails").cast("bigint").alias("total_emails"),
        F.sum("n_ipv4").cast("bigint").alias("total_ipv4"),
        F.sum("n_phones").cast("bigint").alias("total_phones"),
        F.round(
            F.sum((~F.col("pii_free")).cast("int")) * F.lit(1.0)
            / F.count("*"), 4
        ).alias("pii_doc_rate"),
    )


C4_MIN_LINE_WORDS = 5
# Substring blocklist for line filtering (C4 drops lines mentioning
# javascript / cookie / lorem ipsum policy boilerplate).
C4_LINE_BLOCKLIST = ("javascript", "cookie", "lorem ipsum")


def with_line_filter(df: DataFrame, col: str = "text") -> DataFrame:
    """C4-style line-level quality filter, entirely in native array
    lambdas (codegen, zero shuffle): keep lines that (a) have at least
    ``C4_MIN_LINE_WORDS`` words, (b) end in terminal punctuation, and
    (c) contain no blocklisted substring. Adds ``n_lines``,
    ``n_lines_kept`` and the filtered ``clean_text``.
    """
    lines = F.split(F.col(col), "\n")

    def _ok(ln):
        cond = (F.size(F.split(F.trim(ln), " ")) >= C4_MIN_LINE_WORDS) \
            & ln.rlike("[.!?]$")
        for bad in C4_LINE_BLOCKLIST:
            cond = cond & ~F.lower(ln).contains(bad)
        return cond

    kept = F.filter(lines, _ok)
    return (
        df.withColumn("n_lines", F.size(lines))
        .withColumn("n_lines_kept", F.size(kept))
        .withColumn("clean_text", F.array_join(kept, "\n"))
    )


def pack_sequences(df: DataFrame, key: str = "doc_id",
                   tokens_col: str = "n_ws_tokens", budget: int = 2048,
                   buckets: int = 32) -> DataFrame:
    """Sequence packing for pretraining batches: greedily bin documents
    into fixed token budgets, so a training loader reads whole bins
    instead of re-shuffling documents.

    Scale shape: a GLOBAL greedy pack is a single-partition window (never
    acceptable at 100 TB), so packing is per hash-bucket — documents land
    in ``pmod(key, buckets)`` buckets (deterministic, oracle-portable for
    numeric keys), each bucket packs independently with a windowed running
    sum ordered by key, and ``bin_id = floor((cumsum - tokens) / budget)``
    assigns each doc to the bin its predecessor total left open. Buckets
    should be sized >= cluster parallelism; packing quality loss vs global
    is negligible when each bucket holds thousands of docs.

    Output: (key, bucket, bin_id, tokens).
    """
    b = F.pmod(F.col(key), F.lit(buckets))
    w = Window.partitionBy("bucket").orderBy(key)
    with_b = df.select(F.col(key), F.col(tokens_col).alias("tokens"),
                       b.alias("bucket"))
    cum = F.sum("tokens").over(w)
    return with_b.withColumn(
        "bin_id",
        F.floor((cum - F.col("tokens")) / F.lit(budget)).cast("int"),
    ).select(key, "bucket", "bin_id", "tokens")


def packing_efficiency(df: DataFrame, key: str = "doc_id",
                       tokens_col: str = "n_ws_tokens",
                       budgets: tuple = (512, 1024, 2048, 4096),
                       buckets: int = 32) -> DataFrame:
    """Sequence-length sweep for :func:`pack_sequences`: for each
    candidate token budget, how many bins greedy per-bucket packing
    produces, how many padding tokens the under-filled bins waste, and
    how many tokens overflow past the budget (bins a loader must split or
    truncate). ``waste_frac = padding / (n_bins * budget)`` is the number
    a data lead compares across budgets before locking a context length.

    Output: (budget, n_bins, n_docs, total_tokens, padding_tokens,
    overflow_tokens, waste_frac), one row per budget.

    Scale shape: the per-bucket running sum is computed ONCE (one window
    over the narrow (key, tokens) table — the same shuffle
    pack_sequences already pays); every budget's bin assignment is a
    pure expression over that shared cumsum, so sweeping 4 budgets adds
    an explode of 4 constants plus one (budget, bucket, bin) partial-agg
    shuffle of counter rows, never a second pass over text.
    """
    b = F.pmod(F.col(key), F.lit(buckets))
    w = Window.partitionBy("bucket").orderBy(key)
    base = df.select(F.col(key), F.col(tokens_col).alias("tokens"),
                     b.alias("bucket"))
    with_cum = base.withColumn("cum", F.sum("tokens").over(w))
    swept = with_cum.select(
        "bucket", "tokens", "cum",
        F.explode(F.array(*[F.lit(int(x)) for x in budgets])).alias("budget"),
    ).withColumn(
        "bin_id", F.floor((F.col("cum") - F.col("tokens")) / F.col("budget"))
    )
    bins = swept.groupBy("budget", "bucket", "bin_id").agg(
        F.sum("tokens").alias("bin_tokens"),
        F.count("*").alias("bin_docs"),
    )
    return (
        bins.groupBy("budget")
        .agg(
            F.count("*").alias("n_bins"),
            F.sum("bin_docs").alias("n_docs"),
            F.sum("bin_tokens").alias("total_tokens"),
            F.sum(
                F.greatest(F.col("budget") - F.col("bin_tokens"), F.lit(0))
            ).alias("padding_tokens"),
            F.sum(
                F.greatest(F.col("bin_tokens") - F.col("budget"), F.lit(0))
            ).alias("overflow_tokens"),
        )
        .select(
            "budget", "n_bins", "n_docs", "total_tokens",
            "padding_tokens", "overflow_tokens",
            F.round(
                F.col("padding_tokens") / (F.col("n_bins") * F.col("budget")),
                4,
            ).alias("waste_frac"),
        )
    )


def tfidf_top_terms(df: DataFrame, k: int = 3, key: str = "doc_id",
                    col: str = "text") -> DataFrame:
    """Per-document top-k TF-IDF terms — the classic keyword/topic signal
    (search indexing, near-topic sampling, training-mix diagnostics).

        score(d, t) = tf(d, t) * ln((N + 1) / (df(t) + 1))

    Output: (key, term, tf, score, rnk) with ties broken by term asc.

    Scale shape: two token aggregations with map-side partial combine
    (per-(doc, term) counts, then per-term doc frequency — the second
    aggregates from the already-collapsed first, never re-reading text),
    ONE equi-join on term (the df dictionary is ≪ corpus; broadcastable
    once capped via ``vocab_topk``), a 1-row broadcast for N, and a
    per-doc top-k window. Engine parity: idf rounds to 8dp so Spark and
    DuckDB ``ln`` agree bit-for-bit (the unigram_logprob pattern); the
    ranking score tf*idf is then a single deterministic double product.
    """
    toks = df.select(
        F.col(key),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
        ).alias("term"),
    )
    tf = toks.groupBy(key, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    ndocs = df.agg(F.count_distinct(F.col(key)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .withColumn(
            "score",
            F.col("tf")
            * F.round(F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 8),
        )
    )
    w = Window.partitionBy(key).orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(key, "term", "tf", F.round("score", 6).alias("score"), "rnk")
    )


def bpe_learn(df: DataFrame, k: int = 6, col: str = "text") -> DataFrame:
    """Deterministic BPE merge LEARNING (Sennrich et al. 2016) — the full
    iterative trainer whose single counting round :func:`bpe_pair_counts`
    exposes: k rounds of (count adjacent symbol pairs over the word-TYPE
    frequency table → merge the most frequent pair everywhere), returning
    the learned merge table (merge_rank, lhs, rhs, pair_count) — the
    artifact a BPE tokenizer ships.

    Determinism contract: pair counts are exact BIGINT sums over word
    frequencies; the argmax tie-breaks on (count desc, lhs asc, rhs asc);
    the merge applies GREEDY LEFT-TO-RIGHT NON-OVERLAPPING via an array
    fold — ``acc`` ends with lhs and x = rhs → replace the tail with
    lhs||rhs, else append. The fold can never re-merge a just-created
    symbol in the same round (lhs||rhs = lhs needs an empty rhs), so
    'aaaa' under (a,a) yields [aa, aa] exactly like the reference
    implementation. The DuckDB oracle mirrors with ``list_reduce`` over
    single-element lists (same init state as the empty-acc fold after
    one step) and unrolled rounds.

    Scale shape: the textbook BPE trick — after ONE corpus pass
    collapses text to the distinct-word frequency table, every round
    touches only |vocabulary| rows (array-accumulator folds fall out of
    codegen, but over word types that is thousands of short arrays, not
    the corpus — the round-3 HOF-accumulator gotcha does not bite).
    Rounds are localCheckpoint-truncated like every iterative operator
    here. Zero-length words are filtered on both engines (DuckDB's
    list_reduce errors on an empty list). If the pair supply runs out
    before k rounds (no word has >= 2 symbols left), later rounds yield
    no row and the merge table simply stops early — identically on both
    engines (empty argmax → empty cross join), pytest-pinned.
    """
    wt = (
        df.select(F.explode(F.split(F.col(col), " ")).alias("word"))
        .filter(F.length("word") >= 1)
        .groupBy("word").agg(F.count("*").alias("freq"))
    )
    cur = wt.select(
        "freq",
        F.expr("transform(sequence(1, length(word)), "
               "i -> substring(word, i, 1))").alias("s"),
    ).localCheckpoint(eager=True)
    merges = []
    for r in range(1, k + 1):
        pairs = (
            cur.filter(F.size("s") >= 2)
            .select(
                "freq",
                F.explode(F.expr(
                    "transform(sequence(1, size(s) - 1), "
                    "i -> struct(element_at(s, i) AS a, "
                    "element_at(s, i + 1) AS b))")).alias("p"),
            )
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
        )
        best = (
            pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1)
            .select(F.col("a").alias("__a"), F.col("b").alias("__b"),
                    F.col("cnt"))
            .localCheckpoint(eager=True)
        )
        merges.append(best.select(
            F.lit(r).alias("merge_rank"),
            F.col("__a").alias("lhs"), F.col("__b").alias("rhs"),
            F.col("cnt").alias("pair_count"),
        ))
        cur = (
            cur.crossJoin(F.broadcast(best))
            .select(
                "freq",
                F.expr(
                    "aggregate(s, cast(array() as array<string>), "
                    "(acc, x) -> if(size(acc) > 0 "
                    "AND element_at(acc, -1) = __a AND x = __b, "
                    "concat(slice(acc, 1, size(acc) - 1), "
                    "array(concat(__a, __b))), "
                    "concat(acc, array(x))))").alias("s"),
            )
            .localCheckpoint(eager=True)
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def bpe_pair_counts(df: DataFrame, col: str = "text",
                    k: int = 200) -> DataFrame:
    """Tokenizer-training prep: adjacent-symbol pair frequencies — the
    statistic one BPE merge iteration maximizes (Sennrich et al. 2016;
    the counting step of every BPE/WordPiece trainer).

    Scale shape is the textbook BPE trick: pair counting runs over the
    DISTINCT-WORD frequency table, not the corpus. One token explode →
    groupBy(word) with map-side partial combine collapses the corpus to
    its vocabulary (≪ corpus, zipf-bounded); the per-word character-pair
    explode then costs O(vocab × word_len) — at 100 TB the corpus pass
    is the linear scan you already pay for ``vocab_topk`` and the pair
    stage is effectively free. Words of length 1 contribute no pairs
    (guarded — ``sequence(1, 0)`` is DESCENDING, not empty).

    Output: (pair, n) — top-k pairs by weighted frequency, ties broken
    by pair asc. Feeding merges back in (iteration 2+) is a driver loop
    re-running this over re-segmented words; each iteration stays
    vocab-sized.
    """
    words = df.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
        ).alias("w")
    )
    wc = words.groupBy("w").agg(F.count("*").alias("wn"))
    pairs = wc.filter(F.length("w") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substr(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair"),
        F.col("wn"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wn").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(k)
    )


def dsir_importance_weights(df: DataFrame, target, key: str = "doc_id",
                            col: str = "text",
                            n_buckets: int = 256) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw document
    by how much more likely its hashed-bigram features are under the
    TARGET domain's feature distribution than under the raw corpus's:

        log w(x) = Σ_b n_x(b) * (ln p_T(b) - ln p_R(b))
        p(b) = (c(b) + 1) / (T + B)          (add-one over B buckets)

    ``target`` is a DataFrame of in-domain documents (same ``col``) — in
    production the quality slice you want more of (e.g. curated text);
    docs with positive log-weight look more target-like than raw-like.

    Scale shape: bigram explode → per-(doc, bucket) counts (map-side
    partial combine; bucket table is exactly ``n_buckets`` rows so both
    LM sides broadcast), ONE equi-join on bucket. The raw-side LM
    aggregates FROM the per-doc counts (identical integers), so the
    expensive regex tokenization scans the corpus once, not twice; both
    inputs are repartition-guarded against the small-parquet
    single-partition trap (serial regex stage). Engine parity: bucket
    ids come from the first 2 md5 hex chars (portable everywhere), per-
    bucket log-probs round to 8dp (Spark/DuckDB ``ln`` bit-agreement),
    and the per-doc sum runs in DECIMAL(18, 8) so it is order-insensitive.

    Output: (key, n_feats, log_weight, keep) — keep = log_weight > 0.
    """
    def _buckets(frame: DataFrame, k: str) -> DataFrame:
        return frame.select(
            F.col(k),
            F.explode(_bigrams(col)).alias("bg"),
        ).select(
            F.col(k),
            F.pmod(
                F.conv(F.substring(F.md5(F.col("bg")), 1, 2), 16, 10)
                .cast("bigint"),
                F.lit(n_buckets),
            ).alias("b"),
        )

    from ollama_ocr_spark.operators.dedup import ensure_parallelism

    doc_feats = _buckets(ensure_parallelism(df), key).groupBy(key, "b").agg(
        F.count("*").alias("n")
    )
    raw_lm = doc_feats.groupBy("b").agg(F.sum("n").alias("cr"))
    tgt_lm = _buckets(ensure_parallelism(target), key).groupBy("b").agg(
        F.count("*").alias("ct")
    )
    raw_tot = raw_lm.agg(F.sum("cr").alias("tr"))
    tgt_tot = tgt_lm.agg(F.sum("ct").alias("tt"))

    lm = (
        raw_lm.join(tgt_lm, "b", "left")
        .crossJoin(F.broadcast(raw_tot))
        .crossJoin(F.broadcast(tgt_tot))
        .select(
            "b",
            (
                F.round(
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                        / (F.col("tt") + F.lit(n_buckets))
                    ),
                    8,
                )
                - F.round(
                    F.log((F.col("cr") + 1) / (F.col("tr") + F.lit(n_buckets))),
                    8,
                )
            ).alias("dlogp"),
        )
    )
    scored = doc_feats.join(F.broadcast(lm), "b").groupBy(key).agg(
        F.sum("n").alias("n_feats"),
        F.sum(
            (F.col("n") * F.col("dlogp")).cast("decimal(18,8)")
        ).alias("__lw"),
    )
    return scored.select(
        key,
        "n_feats",
        F.round(F.col("__lw").cast("double"), 4).alias("log_weight"),
        (F.col("__lw") > 0).alias("keep"),
    )


def nb_quality_scores(df: DataFrame, label, key: str = "doc_id",
                      col: str = "text") -> DataFrame:
    """GPT-3/CCNet-style seed-based quality classifier, the Naive-Bayes
    (aggregable) analog of the logistic-regression quality filter: train
    per-token log-odds on a labeled seed split, score every document by
    its mean token log-odds. ``label`` is a boolean Column over ``df``
    marking the positive (high-quality / in-domain) seed — e.g.
    ``F.col("source").isin("wiki", "books")``.

        llr(tok) = ln p(tok|pos) - ln p(tok|neg)   (add-one smoothed)
        log_odds(d) = Σ_tok n_d(tok) * llr(tok)

    Output: (key, is_seed, n_tokens, log_odds, nb_keep) — nb_keep is the
    log_odds > 0 verdict a pipeline thresholds on.

    Scale shape: ONE tokenization scan feeds both aggregations (per-(doc,
    token) counts and per-token class counts — the class counts aggregate
    in the same pass via conditional sums, no pivot, no second scan); one
    token equi-join scores docs (the LLR table is ≤ vocab and broadcasts
    once capped à la :func:`vocab_topk`). Engine parity: per-class token
    log-probs round to 8dp (Spark/DuckDB ``ln`` bit-agreement), the
    per-doc sum runs in DECIMAL(18,8) so it is order-insensitive — the
    :func:`dsir_importance_weights` conventions.
    """
    from ollama_ocr_spark.operators.dedup import ensure_parallelism

    toks = ensure_parallelism(df).select(
        F.col(key),
        label.alias("__pos"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
        ).alias("tok"),
    )
    doc_tok = toks.groupBy(key, "tok").agg(
        F.count("*").alias("n"), F.first("__pos").alias("__pos")
    )
    cls = toks.groupBy("tok").agg(
        F.sum(F.when(F.col("__pos"), 1).otherwise(0)).alias("cp"),
        F.sum(F.when(F.col("__pos"), 0).otherwise(1)).alias("cn"),
    )
    totals = cls.agg(
        F.sum("cp").alias("tp"), F.sum("cn").alias("tn"),
        F.count("*").alias("v"),
    )
    llr = cls.crossJoin(F.broadcast(totals)).select(
        "tok",
        (
            F.round(F.log((F.col("cp") + 1) / (F.col("tp") + F.col("v"))), 8)
            - F.round(F.log((F.col("cn") + 1) / (F.col("tn") + F.col("v"))), 8)
        ).alias("llr"),
    )
    scored = doc_tok.join(llr, "tok").groupBy(key).agg(
        F.first("__pos").alias("is_seed"),
        F.sum("n").alias("n_tokens"),
        F.sum((F.col("n") * F.col("llr")).cast("decimal(18,8)")).alias("__lo"),
    )
    return scored.select(
        key,
        "is_seed",
        "n_tokens",
        F.round(F.col("__lo").cast("double"), 4).alias("log_odds"),
        (F.col("__lo") > 0).alias("nb_keep"),
    )


def chunk_documents(df: DataFrame, key: str = "doc_id", col: str = "text",
                    size: int = 64, stride: int = 48) -> DataFrame:
    """Sliding-window chunking — the context-window prep between curation
    and :func:`pack_sequences`: each doc becomes ⌈max(0, n−size)/stride⌉+1
    word-window chunks of up to ``size`` words advancing by ``stride``
    (overlap = size − stride keeps boundary sentences learnable; RAG
    indexers use the same shape).

    Pure map-side array ops (split → sequence → slice → join) inside
    whole-stage codegen: no shuffle, no UDF, chunks never leave the row
    until the final explode. Output: (key, chunk_id, n_words, chunk).
    """
    from ollama_ocr_spark.operators.dedup import _let

    def chunks_of(ws):
        n = F.size(ws)
        n_chunks = F.when(n <= size, F.lit(1)).otherwise(
            F.ceil((n - size) / F.lit(stride)).cast("int") + 1
        )
        # ws is _let-bound: free inside the slice lambda it would
        # re-split the document once per chunk.
        return F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(ws, i * stride + 1, size),
        )

    chunks = _let(F.split(F.col(col), " "), chunks_of)
    out = df.select(
        F.col(key), F.posexplode(chunks).alias("chunk_id", "__w")
    )
    return out.select(
        key,
        "chunk_id",
        F.size("__w").alias("n_words"),
        F.array_join("__w", " ").alias("chunk"),
    )


def cdc_chunk_documents(df: DataFrame, key: str = "doc_id",
                        col: str = "text", window: int = 8,
                        mask_bits: int = 4) -> DataFrame:
    """Content-defined chunking (FastCDC/rolling-hash family, word
    granularity): a position ends a chunk when a windowed gear value over
    the last ``window`` token hashes lands on a ``2**mask_bits`` boundary
    (expected chunk length ≈ 2**mask_bits tokens). Because boundaries
    depend only on local CONTENT, an insertion near the top of a document
    shifts every downstream position but re-synchronizes at the first
    unaffected boundary — the exact failure mode of fixed-stride
    :func:`chunk_documents`, where one prepended word misaligns every
    window. This is the dedup-friendly chunking large corpus pipelines
    use before chunk-level exact dedup (:func:`~ollama_ocr_spark.
    operators.dedup.dedup_chunks` composes unchanged: output shape is
    identical to :func:`chunk_documents`).

    Engine-portable arithmetic: per-token hash is the md5-u32 idiom
    (first 32 md5 bits as bigint); the gear value at position ``i`` is
    the shift-accumulate fold ``acc*2 + u`` over the last
    ``least(window, i)`` hashes — integer-exact and equal to
    ``sum(u[t] * 2^(L-t))``, the closed form the DuckDB oracle computes
    (no fold primitive needed there). Values stay < 2^(32+window), well
    inside bigint.

    Scale shape: one pass of native array HOFs per document (hash
    transform, boundary filter, slice transform — all whole-stage
    codegen, O(n·window) element ops), then one posexplode; chunks never
    leave the row until the explode and no shuffle happens here at all.
    Both computed arrays are ``_let``-bound (HOF free-variable trap).

    Output: (key, chunk_id, n_words, chunk).
    """
    from ollama_ocr_spark.operators.dedup import _let

    if window <= 0:
        raise ValueError(f"window must be positive, got {window}")
    if mask_bits <= 0 or mask_bits > 20:
        raise ValueError(f"mask_bits must be in 1..20, got {mask_bits}")
    mask = 1 << mask_bits

    def word_hash(w):
        return F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("bigint")

    def chunks_of(ws):
        n = F.size(ws)

        def with_hashes(us):
            def gear(i):
                ln = F.least(F.lit(window), i)
                return F.aggregate(
                    F.slice(us, i - ln + 1, ln),
                    F.lit(0).cast("bigint"),
                    lambda acc, u: acc * 2 + u,
                )

            bounds = F.filter(
                F.sequence(F.lit(1), n),
                lambda i: (i == n) | (gear(i) % mask == 0),
            )

            def slices(bs):
                def prev(k):
                    return F.when(k == 1, F.lit(0)).otherwise(
                        F.element_at(bs, (k - 1).cast("int"))
                    )

                return F.transform(
                    F.sequence(F.lit(1), F.size(bs)),
                    lambda k: F.slice(
                        ws,
                        prev(k) + 1,
                        F.element_at(bs, k.cast("int")) - prev(k),
                    ),
                )

            return _let(bounds, slices)

        return _let(F.transform(ws, word_hash), with_hashes)

    chunks = _let(_words(col), chunks_of)
    out = df.select(
        F.col(key), F.posexplode(chunks).alias("chunk_id", "__w")
    )
    return out.select(
        key,
        "chunk_id",
        F.size("__w").alias("n_words"),
        F.array_join("__w", " ").alias("chunk"),
    )


def token_mass_gini(df: DataFrame, group_col: str = "host",
                    col: str = "text") -> DataFrame:
    """Token-mass inequality across groups (hosts): the Gini coefficient
    plus the top-decile share — the one-row audit behind data-budget
    planning (a corpus where 10% of hosts own 80% of tokens needs
    temperature mixing / per-host caps before training; see
    data_budget_plan, temperature_mix). Uses the ``TOKEN_RE``
    pre-tokenizer, same as the token_counts family.

    Exact-arithmetic idiom: masses, asc ranks i, Σi·m and the top-k sum
    are all BIGINT; the only doubles are the two final divisions, whose
    expression trees (``(six*2)/(n*sx) - (n+1)/n``, ``top/sx``) the
    DuckDB oracle mirrors token-for-token (FP associativity is part of
    the contract). Gini here is the standard sorted-rank form
    G = 2·Σi·x_i/(n·Σx) − (n+1)/n with deterministic (mass, group)
    tiebreak.

    Scale shape: the corpus pass is one partial-aggregated groupBy
    (only (group, count) pairs shuffle); the rank window runs over the
    |groups| rollup — fine while |groups| ≪ corpus (16 here, ~1e6-1e7
    hosts at 100 TB: still a single executor's work; beyond that, the
    stratified_sample two-pass bucketed-rank form applies).

    Output (one row): n_hosts, total_tokens, gini, top_decile_share.
    """
    mass = (
        df.select(
            F.col(group_col),
            F.size(
                F.regexp_extract_all(F.lower(F.col(col)),
                                     F.lit(TOKEN_RE), 0)
            ).alias("__t"),
        )
        .groupBy(group_col)
        .agg(F.sum("__t").cast("bigint").alias("m"))
    )
    w = Window.orderBy(F.asc("m"), F.asc(group_col))
    ranked = mass.select(
        "m",
        F.row_number().over(w).cast("bigint").alias("i"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    top_k = F.greatest(F.lit(1).cast("bigint"), F.expr("n div 10"))
    agg = ranked.agg(
        F.max("n").alias("n_hosts"),
        F.sum("m").alias("total_tokens"),
        F.sum(F.col("i") * F.col("m")).alias("six"),
        F.sum(
            F.when(F.col("i") > F.col("n") - top_k, F.col("m"))
            .otherwise(F.lit(0).cast("bigint"))
        ).alias("top_sum"),
    )
    return agg.select(
        F.col("n_hosts").cast("bigint").alias("n_hosts"),
        "total_tokens",
        F.round(
            (F.col("six") * 2) / (F.col("n_hosts") * F.col("total_tokens"))
            - (F.col("n_hosts") + 1) / F.col("n_hosts"),
            6,
        ).alias("gini"),
        F.round(F.col("top_sum") / F.col("total_tokens"), 6)
        .alias("top_decile_share"),
    )


def domain_quality(df: DataFrame, host_col: str = "host",
                   col: str = "text", min_docs: int = 5,
                   min_ok_rate: float = 0.5) -> DataFrame:
    """Domain-level blocklist mining (the UT1/Dolma feedback loop): roll
    doc-level quality verdicts up to the host, and flag hosts whose pass
    rate is low enough — on enough evidence — to feed back into
    :func:`~ollama_ocr_spark.operators.maintenance.url_filter` as a
    blocklist for the NEXT crawl round.

    Scale shape: quality gates are the existing map-side expressions
    (:func:`with_quality_score`); the rollup is one partial-aggregated
    groupBy on host — (host, count, sum) is all that shuffles, never
    text. The flag uses the raw ratio (rounding only in the reported
    column) so the verdict is engine-exact.
    Output: (host, n_docs, n_ok, ok_rate, blocklist_candidate).
    """
    scored = with_quality_score(df, col)
    agg = scored.groupBy(host_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("quality_ok").cast("int")).alias("n_ok"),
    )
    rate = F.col("n_ok") / F.col("n_docs")
    return agg.select(
        host_col,
        "n_docs",
        "n_ok",
        F.round(rate, 4).alias("ok_rate"),
        ((F.col("n_docs") >= min_docs) & (rate < min_ok_rate))
        .alias("blocklist_candidate"),
    )


def oov_rate(df: DataFrame, vocab: DataFrame, key: str = "doc_id",
             col: str = "text") -> DataFrame:
    """Tokenizer-coverage metric: per document, the fraction of token
    OCCURRENCES not covered by a vocabulary (e.g. :func:`vocab_topk`'s
    output) — the dial that says whether a tokenizer/vocab shipped for
    one corpus still fits the next crawl (high OOV → retrain or expand).

    Scale shape: a vocabulary is bounded by construction (top-k), so it
    BROADCASTS; the corpus side is one token explode + the broadcast
    left join + one groupBy(key) — documents never shuffle, only
    (key, token) rows into the per-doc count. Same ``TOKEN_RE``
    pre-tokenizer as :func:`vocab_topk` / :func:`with_token_counts`.
    Output: (key, n_tokens, n_oov, oov_rate). Docs with zero tokens
    produce no row (both engines drop them in the explode).
    """
    from ollama_ocr_spark.operators.dedup import ensure_parallelism

    toks = ensure_parallelism(df).select(
        F.col(key),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
        ).alias("token"),
    )
    # distinct guards against a caller-supplied vocab with duplicate rows
    # (the broadcast join would otherwise fan out token rows and push
    # n_oov negative); no-op cost on a bounded vocab.
    v = vocab.select("token").distinct().withColumn("__iv", F.lit(1))
    n_oov = F.col("n_tokens") - F.col("__niv")
    return (
        toks.join(F.broadcast(v), "token", "left")
        .groupBy(key)
        .agg(
            F.count("*").alias("n_tokens"),
            F.count("__iv").alias("__niv"),
        )
        .select(
            key,
            "n_tokens",
            n_oov.alias("n_oov"),
            F.round(n_oov / F.col("n_tokens"), 4).alias("oov_rate"),
        )
    )


def bigram_stats(df: DataFrame, col: str = "text", k: int = 50) -> DataFrame:
    """Top-``k`` corpus bigrams by count, with 8dp-rounded PMI — the
    collocation table an LM-data audit reads to spot boilerplate phrases
    and template n-grams that survive dedup (same ``TOKEN_RE``
    pre-tokenizer as :func:`vocab_topk`).

        pmi(x y) = ln( (c(xy) * n_tokens) / (c(x) * c(y)) )

    rounded to 8dp at the ln (the unigram_logprob idiom — ``ln`` is not
    correctly rounded across engines). The numerator/denominator stay
    BIGINT products (exact); the single division produces the double
    passed to ``ln`` — mirror that exact expression tree in any oracle.

    Scale shape: two map-side tokenization passes (unigram explode,
    bigram explode) each feeding a partial-agg groupBy, so only
    (gram, partial-count) pairs shuffle; the unigram-count joins run
    before the top-k (PMI needs raw counts) but both sides are
    distinct-token tables ≪ corpus. Top-k is TakeOrderedAndProject,
    never a global sort.
    At 100 TB the BIGINT product c(xy)*n_tokens caps at ~9.2e18 — safe to
    ~3e14 tokens; shard the count tables past that.
    """
    toks = df.select(
        F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0).alias("w")
    )
    uni = toks.select(F.explode("w").alias("t")).groupBy("t").agg(
        F.count("*").alias("c")
    )
    n_tokens = uni.agg(F.sum("c").alias("n_tokens"))
    # Bigram array materialized in its OWN projection (Generate blocks the
    # explode-sibling re-inline); size<2 docs yield an empty transform range.
    pairs = (
        toks.select(
            F.expr(
                "transform(slice(w, 1, greatest(size(w) - 1, 0)),"
                " (t, i) -> concat(t, ' ', element_at(w, i + 2)))"
            ).alias("bg")
        )
        .select(F.explode("bg").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n_pairs"))
    )
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    w2 = F.split(F.col("bigram"), " ").getItem(1)
    joined = (
        pairs.withColumn("w1", w1)
        .withColumn("w2", w2)
        .join(uni.select(F.col("t").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(uni.select(F.col("t").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(n_tokens))
    )
    pmi = F.round(
        F.log(
            (F.col("n_pairs") * F.col("n_tokens"))
            / (F.col("c1") * F.col("c2"))
        ),
        8,
    )
    return (
        joined.select("bigram", "n_pairs", pmi.alias("pmi"))
        .orderBy(F.desc("n_pairs"), F.asc("bigram"))
        .limit(k)
    )


def length_histogram(df: DataFrame, col: str = "n_chars",
                     by: str = "lang") -> DataFrame:
    """Log2-bucketed document-length histogram per ``by`` group — the
    one-page corpus shape report (truncation tails, suspiciously short
    docs, per-language length skew) read before picking chunking and
    packing windows.

    Bucket = bit-width of the length (``floor(log2)+1``), computed as
    ``length(conv(n, 10, 2))`` — exact integer arithmetic on both
    engines; never ``floor(log2(x))``, whose double rounding flips at
    power-of-two boundaries. Rows with length < 1 land in bucket 0.

    Scale shape: pure map-side bucket expression + one partial-agg
    groupBy; only (group, bucket, partial sums) shuffle. Output rows =
    |groups| × ~40 buckets.
    """
    n = F.col(col).cast("bigint")
    bucket = F.when(n >= 1, F.length(F.conv(n, 10, 2))).otherwise(F.lit(0))
    return (
        df.select(F.col(by).alias("grp"), n.alias("__n"),
                  bucket.cast("int").alias("bucket"))
        .groupBy("grp", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__n").alias("total_chars"),
            F.min("__n").alias("min_chars"),
            F.max("__n").alias("max_chars"),
        )
        .orderBy("grp", "bucket")
    )


def group_entropy(df: DataFrame, group: str, cat: str) -> DataFrame:
    """Shannon entropy of a categorical mix per group:

        H(g) = -Σ_c p(c|g) * ln p(c|g)

    The diversity report behind template-farm detection (a host whose
    page-archetype mix has near-zero entropy renders one template at
    thousands of urls), source-balance audits (entropy of the lang mix
    per source), and mirror triage (entropy of content digests per host).

    Engine parity: p = c/n is an exact BIGINT/BIGINT double; ln is
    rounded to 8dp before the product (the unigram_logprob idiom); each
    ``-p * ln(p)`` term is 6dp-quantized and summed through
    DECIMAL(18,6), so the per-group sum is order-free; the output
    entropy rounds to 4dp. Singleton mixes give exactly 0.0.

    Scale shape: one (group, cat) partial-agg shuffle over category rows
    (never payloads), a group-level total join, and a |groups|-row
    aggregate. Output: (group, n_rows, n_cats, entropy).
    """
    counts = df.groupBy(F.col(group).alias("grp"),
                        F.col(cat).alias("cat")).agg(
        F.count("*").alias("c")
    )
    totals = counts.groupBy("grp").agg(F.sum("c").alias("n"))
    p = F.col("c") / F.col("n")
    term = (
        F.round(-p * F.round(F.log(p), 8), 6).cast("decimal(18,6)")
    )
    return (
        counts.join(totals, "grp")
        .select("grp", "n", term.alias("t"))
        .groupBy("grp")
        .agg(
            F.max("n").alias("n_rows"),
            F.count("*").alias("n_cats"),
            F.round(F.sum("t").cast("double"), 4).alias("entropy"),
        )
        .select(F.col("grp").alias(group), "n_rows", "n_cats", "entropy")
    )


def heaps_law(df: DataFrame, key: str = "doc_id", col: str = "text",
              checkpoints: int = 10) -> DataFrame:
    """Vocabulary-growth (Heaps' law) curve: distinct-token count vs
    cumulative token count over growing corpus prefixes, plus the OLS
    exponent beta of V(n) = K·n^beta. Natural text sits near beta ≈
    0.5-0.7; machine-generated or heavily templated corpora flatten
    early (vocabulary saturates), boilerplate-free diverse corpora stay
    steep — the growth-side complement to :func:`zipf_slope`'s static
    rank curve. Reference analog: none (corpus-health surface).

    Prefixes are by ``key`` order, window-free: cut values come from one
    ``max(key)`` agg (cut_i = ((max+1)·i) div checkpoints, prefix =
    rows with key < cut_i), so no global row-number sort exists
    anywhere — the stratified_sample two-pass lesson applied up front.
    Cumulative token mass and first-occurrence vocabulary counts both
    attach to checkpoints through a broadcast non-equi join (checkpoint
    table is ``checkpoints`` rows — bounded fanout), then partial-agg.

    Engine parity: counts are BIGINT; the checkpoint arithmetic is
    integer div; the OLS mirrors zipf_slope exactly (ln quantized to
    8dp, decimal moment sums, doubles only in the final slope, 4dp
    round, NULL on a degenerate single-point curve via the ANSI
    divide-guard idiom).

    Output: (pct, n_docs, cum_tokens, cum_vocab, beta) — one row per
    non-empty checkpoint, beta repeated (one-row broadcast).

    Cost note: the token pass runs TWICE (the per-doc size() branch and
    the first-occurrence explode branch both re-evaluate the tokenize —
    no cross-branch subplan reuse), a deliberate trade: both passes are
    map-side scans, vs. the one-pass alternative that would shuffle
    every token row to count per-doc sizes.
    """
    if checkpoints < 1:
        # F.sequence(1, 0) is DESCENDING, not empty (documented gotcha)
        raise ValueError("heaps_law needs checkpoints >= 1")
    toks = df.select(
        F.col(key).alias("k"),
        F.regexp_extract_all(
            F.lower(F.col(col)), F.lit(TOKEN_RE), 0
        ).alias("ws"),
    )
    docs = toks.select("k", F.size("ws").cast("bigint").alias("n_toks"))
    firsts = (
        toks.select("k", F.explode("ws").alias("tok"))
        .groupBy("tok")
        .agg(F.min("k").alias("first_k"))
    )
    cuts = (
        df.agg(F.max(key).alias("m"))
        .select(
            F.explode(F.sequence(F.lit(1), F.lit(checkpoints))).alias("i"),
            F.col("m"),
        )
        .select("i", F.expr(f"((m + 1) * i) div {checkpoints}").alias("c"))
    )
    ctoks = (
        docs.join(F.broadcast(cuts), docs.k < cuts.c)
        .groupBy("i", "c")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("cum_tokens"),
        )
    )
    cvoc = (
        firsts.join(F.broadcast(cuts), firsts.first_k < cuts.c)
        .groupBy("i", "c")
        .agg(F.count("*").alias("cum_vocab"))
    )
    # the beta branch re-references curve, and Spark has no cross-branch
    # subplan reuse — without the lineage cut the corpus tokenize runs
    # TWICE (measured: 5 BNLJ / 18 exchanges → 3 / 8). A checkpoints-row
    # table, never corpus-sized (the k-means codebook rule).
    curve = ctoks.join(cvoc, ["i", "c"]).localCheckpoint(eager=True)
    xy = curve.select(
        F.round(F.log(F.col("cum_tokens").cast("double")), 8).alias("x"),
        F.round(F.log(F.col("cum_vocab").cast("double")), 8).alias("y"),
    )
    m = xy.agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("x").cast("decimal(20,8)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(20,8)")).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,12)")).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(30,12)")).alias("sxx"),
    )
    cnt = F.col("cnt").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    denom = cnt * sxx - sx * sx
    # + 0.0 normalizes IEEE negative zero: a flat curve's slope rounds
    # to -0.0 on one engine and 0.0 on the other (-0.0 + 0.0 == +0.0).
    beta = m.select(
        F.when(
            denom != 0,
            F.round((cnt * sxy - sx * sy) / denom, 4) + F.lit(0.0),
        ).alias("beta")
    )
    return (
        curve.crossJoin(F.broadcast(beta))
        .select(
            F.expr(f"cast((i * 100) div {checkpoints} as int)").alias("pct"),
            "n_docs", "cum_tokens", "cum_vocab", "beta",
        )
    )


def source_token_kl(df: DataFrame, source_col: str = "source",
                    col: str = "text") -> DataFrame:
    """Per-source KL divergence (nats) of the source's unigram token
    distribution from the whole-corpus distribution — the directional
    sharpening of token_drift's TVD: which crawl source's language is
    most unlike the corpus it feeds (high KL = candidate for its own
    mixture weight in temperature_mix / dsir_importance; near-zero KL =
    interchangeable mass). KL(source‖corpus) is always defined here
    because every source token is by construction in the corpus
    (no zero-denominator terms).

    Engine-exact FP recipe (the user_transition_entropy contract):
    KL = (1/n_s)·Σ_w c_w·[ln(c_w/n_s) − ln(C_w/N)] — each term is the
    INTEGER count times the DIFFERENCE of two 8dp-rounded-ln
    DECIMAL(18,8) casts (exact products, order-free decimal sum), ONE
    double division at the end, 6dp output round.

    Scale shape: one (source, tok) partial-agg shuffle over the token
    explode, then the counter table (|sources|·|vocab|-bounded, far
    smaller than the corpus) drives everything: source totals broadcast
    back, corpus totals via a tok-key shuffle join (vocab-sized — NOT
    broadcast: at 100 TB the vocabulary is large even though it is
    corpus-small), the grand total a one-row crossJoin. The counter
    table is localCheckpoint-ed — three consuming branches, no
    cross-branch subplan reuse.

    Output: (source, n_tokens, vocab, kl_nats).
    """
    sc = (
        df.select(
            F.col(source_col).alias("source"),
            F.explode(
                F.regexp_extract_all(F.lower(F.col(col)), F.lit(TOKEN_RE), 0)
            ).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    stot = sc.groupBy("source").agg(
        F.sum("c").alias("n_s"), F.count("*").alias("vocab")
    )
    gc = sc.groupBy("tok").agg(F.sum("c").alias("cw"))
    nn = stot.agg(F.sum("n_s").alias("nn"))
    term = F.col("c") * (
        F.round(F.log(F.col("c") * F.lit(1.0) / F.col("n_s")), 8)
        .cast("decimal(18,8)")
        - F.round(F.log(F.col("cw") * F.lit(1.0) / F.col("nn")), 8)
        .cast("decimal(18,8)")
    )
    s = (
        sc.join(F.broadcast(stot.select("source", "n_s")), "source")
        .join(gc, "tok")
        .crossJoin(F.broadcast(nn))
        .select("source", term.alias("term"))
        .groupBy("source")
        .agg(F.sum("term").alias("sm"))
    )
    return stot.join(s, "source").select(
        "source",
        F.col("n_s").alias("n_tokens"),
        "vocab",
        F.round(F.col("sm").cast("double") / F.col("n_s"), 6).alias("kl_nats"),
    )
