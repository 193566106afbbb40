"""Reporting operators (SURVEY §2.6 N4/N8/N9 and §2.5 A2/A4): top-k,
cardinality checks, cube/rollup summaries — all built-in aggregates."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def top_k_largest(df: DataFrame, order_col: str, k: int = 20,
                  tiebreak: str | None = None) -> DataFrame:
    """Largest-docs report (N4). Deterministic tie-break column required for
    oracle-stable output."""
    order = [F.col(order_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    return df.orderBy(*order).limit(k)


def cardinality_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """Exact + approximate distinct counts (N8). The approx column is the
    one that scales (HLL sketch, no shuffle of raw values); exact is the
    oracle-checkable twin."""
    aggs = []
    for c in cols:
        aggs.append(F.countDistinct(c).alias(f"n_{c}"))
        aggs.append(F.approx_count_distinct(c).alias(f"approx_{c}"))
    return df.agg(*aggs)


def cube_report(df: DataFrame, dims: list[str], value_col: str) -> DataFrame:
    """Metrics by every dim combination + grand total (N9)."""
    return (
        df.cube(*dims)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(value_col).alias("sum_value"),
            F.round(F.avg(value_col), 4).alias("avg_value"),
        )
    )


def quantile_report(df: DataFrame, group_col: str, value_col: str,
                    quantiles: tuple = (0.5, 0.9, 0.99)) -> DataFrame:
    """Per-group exact continuous quantiles (p50/p90/p99 by default) —
    the distribution view every corpus report needs beside averages.

    Uses Spark's exact interpolated ``percentile`` (== DuckDB
    ``quantile_cont``, oracle-checkable). At 100 TB swap in
    ``approx_percentile`` (t-digest sketch, one pass, mergeable) — the
    exact form here doubles as its correctness oracle, same pattern as
    :func:`cardinality_report`.
    """
    aggs = [F.count("*").alias("n_docs")]
    for q in quantiles:
        aggs.append(
            F.round(F.expr(f"percentile({value_col}, {q})"), 4)
            .alias(f"p{int(q * 100)}")
        )
    return df.groupBy(group_col).agg(*aggs)


def as_of_join(left: DataFrame, right: DataFrame, key: str, ts: str,
               value_cols: list[str]) -> DataFrame:
    """AS-OF join: attach to every left row the latest right row with
    ``right.ts <= left.ts`` per key — the temporal lookup (prices,
    profile snapshots, config versions at event time) that Spark has no
    built-in operator for.

    Spark-first composition instead of a non-equi range join (which would
    plan as a nested loop): tag and UNION both sides, one window over
    (key → ts asc, right-rows-first-on-ties), and carry the most recent
    right ROW forward with ``last(..., ignorenulls)`` over a row-present
    struct — so a snapshot whose value column is legitimately NULL still
    wins (yielding NULL, not an older value), matching DuckDB ASOF JOIN.
    One shuffle on the key, no join at all — survives any scale the
    window does. Ties (right.ts == left.ts) count as "already effective".
    """
    from pyspark.sql import Window
    from pyspark.sql.types import StructField, StructType

    row_type = StructType(
        [StructField(c, right.schema[c].dataType) for c in value_cols]
    )
    lt = left.select(
        "*", F.lit(0).alias("__r"),
        F.lit(None).cast(row_type).alias("__vrow"),
    )
    rt = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in (key, ts)],
        F.col(key), F.col(ts), F.lit(1).alias("__r"),
        F.struct(*[F.col(c) for c in value_cols]).alias("__vrow"),
    ).select(*lt.columns)  # align column order
    unioned = lt.unionByName(rt)
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("__r").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "*", F.last("__vrow", ignorenulls=True).over(w).alias("__carry")
    )
    return carried.filter(F.col("__r") == 0).select(
        *[c for c in left.columns],
        *[F.col(f"__carry.{c}").alias(c) for c in value_cols],
    )


def range_join(facts: DataFrame, intervals: DataFrame, value_col: str,
               lo: str = "lo", hi: str = "hi",
               strategy: str = "broadcast",
               bin_width: int = 256) -> DataFrame:
    """Interval join: attach every interval row whose ``[lo, hi)`` contains
    ``facts.value_col`` (another operator Spark has no primitive for).

    ``strategy="broadcast"``: non-equi broadcast join — right for the
    common case of a SMALL interval dimension (size classes, SLA tiers);
    the nested-loop is over a broadcast table of dozens of rows.

    ``strategy="binned"`` (scale path, when intervals are numerous):
    quantize — each interval explodes into the fixed-width bins it
    covers, facts compute their bin, and the join becomes an EQUI-join
    on the bin plus a residual containment filter. Plans as shuffle/
    broadcast HASH join, never a nested loop over a big side
    (plan-audited); cost = |intervals| × avg-span/bin_width extra rows
    on the small side. Results identical to broadcast by construction.
    """
    v = F.col(value_col)
    if strategy == "binned":
        # Guard hi <= lo: F.sequence(a, b) with b < a yields a DESCENDING
        # array (documented gotcha), which would explode spurious bin rows
        # for degenerate intervals — emit no bins instead (matches the
        # broadcast strategy: no fact satisfies lo <= v < hi when hi <= lo).
        bins = intervals.select(
            "*",
            F.explode(
                F.when(
                    F.col(hi) > F.col(lo),
                    F.sequence(
                        F.floor(F.col(lo) / bin_width),
                        F.floor((F.col(hi) - 1) / bin_width),
                    ),
                ).otherwise(F.array().cast("array<bigint>"))
            ).alias("__bin"),
        )
        tagged = facts.withColumn("__bin", F.floor(v / bin_width))
        return (
            tagged.join(bins, "__bin")
            .filter((v >= F.col(lo)) & (v < F.col(hi)))
            .drop("__bin")
        )
    return facts.join(
        F.broadcast(intervals), (v >= F.col(lo)) & (v < F.col(hi))
    )


def time_rollup(events: DataFrame, ts: str = "ts",
                granularities: tuple = ("hour", "day"),
                dims: tuple = ("event_type",),
                value_col: str = "value") -> DataFrame:
    """Hypertable-style multi-granularity rollup (the continuous-aggregate
    pattern): one aggregate per time grain, unioned with a ``grain`` tag —
    dashboards read the coarse grain, drill-downs the fine one.

    Each grain is an independent groupBy with map-side partial agg; at
    scale the fine grain materializes incrementally (see
    streaming.windowed_event_counts) and coarser grains roll up FROM the
    fine aggregate rather than the raw events. Bucket is emitted as a
    formatted string for engine-portable comparison.
    """
    outs = []
    for g in granularities:
        outs.append(
            events.groupBy(
                F.lit(g).alias("grain"),
                F.date_format(
                    F.date_trunc(g, F.col(ts)), "yyyy-MM-dd HH:mm:ss"
                ).alias("bucket"),
                *dims,
            ).agg(
                F.count("*").alias("n_events"),
                # DECIMAL(18,4) makes the sum order-insensitive — raw
                # double sums can differ between engines by accumulation
                # order and flip the rounded digit (CLAUDE.md gotcha).
                F.round(
                    F.sum(F.col(value_col).cast("decimal(18,4)"))
                    .cast("double"), 2
                ).alias("sum_value"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def summary_stats(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group batch summary (A4): count/total/avg — the Spark analog of
    the reference's batch summary (`ollama_local_ocr.py:397-427`)."""
    return df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(value_col).alias("total_value"),
        F.round(F.avg(value_col), 4).alias("avg_value"),
    )


def agreement_matrix(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Two-way agreement (confusion) matrix between a pair of per-row
    verdict columns — the calibration view for checking a learned
    classifier against the rule system it is meant to replace (e.g. NB
    quality score vs the curation verdict): each cell's row count plus
    its share of all rows.

    Engine parity: share = (n * 1.0) / total — exact BIGINT counts, one
    double division, mirrored literally. Scale shape: one partial-agg
    groupBy on the two verdict columns (a handful of cells shuffle) and
    a broadcast 1-row total; verdict columns, never payloads.
    """
    total = df.agg(F.count("*").alias("__t"))
    return (
        df.groupBy(col_a, col_b)
        .agg(F.count("*").alias("n_docs"))
        .crossJoin(F.broadcast(total))
        .select(
            col_a, col_b, "n_docs",
            F.round(F.col("n_docs") * F.lit(1.0) / F.col("__t"), 4)
            .alias("share"),
        )
    )


def event_funnel(events: DataFrame,
                 stages: tuple[str, ...] = ("view", "click", "purchase"),
                 user: str = "user_id", ts_us: str = "ts_us",
                 type_col: str = "event_type") -> DataFrame:
    """Ordered-sequence funnel over an event stream: a user reaches stage
    k iff a stage-k event occurs STRICTLY AFTER their earliest stage-(k-1)
    completion time (min-timestamp chaining — the standard product-funnel
    semantics; simultaneous events do not advance the funnel). Expects an
    integer event-time column (unix micros) so the comparison is exact on
    any engine. Output per stage: (stage, event_type, n_users,
    frac_of_entry = n_k / n_1, step_rate = n_k / n_{k-1}; stage 1's
    step_rate is the literal 1.0 on both engines). An empty entry stage
    yields NULL fractions rather than a crash.

    Scale shape: one filtered (user, min-ts) partial agg per stage —
    payloads never shuffle, each join carries user-id keys only and the
    per-stage tables shrink monotonically; the stage counts collapse to
    a single row that unpivots driver-free (explode of a literal struct
    array, the filter_attribution idiom).
    """
    e = events.select(
        F.col(user).alias("u"),
        F.col(type_col).alias("t"),
        F.col(ts_us).alias("us"),
    )
    reached = []
    prev = None
    for st in stages:
        f = e.filter(F.col("t") == st)
        if prev is None:
            cur = f.groupBy("u").agg(F.min("us").alias("mu"))
        else:
            cur = (
                f.join(prev.select("u", F.col("mu").alias("pu")), "u")
                .filter(F.col("us") > F.col("pu"))
                .groupBy("u").agg(F.min("us").alias("mu"))
            )
        reached.append(cur)
        prev = cur
    row = None
    for i, cur in enumerate(reached):
        c = cur.agg(F.count("*").alias(f"__n{i}"))
        row = c if row is None else row.crossJoin(F.broadcast(c))
    structs = []
    for i, st in enumerate(stages):
        # ANSI sessions throw DIVIDE_BY_ZERO; the guard yields NULL on an
        # empty denominator instead — DuckDB's own x/0 result, so the
        # oracle mirror needs no CASE on its side.
        frac = F.when(
            F.col("__n0") > 0,
            F.round(F.col(f"__n{i}") * F.lit(1.0) / F.col("__n0"), 4),
        )
        step = (
            F.lit(1.0) if i == 0
            else F.when(
                F.col(f"__n{i - 1}") > 0,
                F.round(
                    F.col(f"__n{i}") * F.lit(1.0) / F.col(f"__n{i - 1}"), 4
                ),
            )
        )
        structs.append(
            F.struct(
                F.lit(i + 1).alias("stage"),
                F.lit(st).alias("event_type"),
                F.col(f"__n{i}").alias("n_users"),
                frac.alias("frac_of_entry"),
                step.alias("step_rate"),
            )
        )
    return (
        row.select(F.explode(F.array(*structs)).alias("r"))
        .select("r.stage", "r.event_type", "r.n_users",
                "r.frac_of_entry", "r.step_rate")
    )


def retention_cohorts(events: DataFrame, user: str = "user_id",
                      ts_us: str = "ts_us",
                      max_offset: int = 14) -> DataFrame:
    """Cohort retention triangle: users are cohorted by their FIRST
    active epoch-day, and each later day they appear counts toward that
    cohort's retention at offset = day - cohort_day. The product-health
    readout behind 'day-N retention'; on a crawl corpus the same shape
    answers 'of hosts first seen in round r, how many still serve new
    content k rounds later'. Day arithmetic is exact integer floor-div
    of unix micros (no timezone/DST trap — UTC epoch days by
    construction); retention is the single rounded division.

    Output: (cohort_day, day_offset, n_users, cohort_size, retention),
    offsets 0..max_offset. Scale shape: one distinct (user, day) agg
    (map-side combine), a user-level min agg, a user-id-only broadcast-
    sized join back, and a final (cohort, offset) partial agg — event
    payloads never shuffle.
    """
    # exact BIGINT floor-div — double '/'+cast can flip a day boundary
    # within rounding error at epoch-micro magnitudes
    day = F.expr(f"{ts_us} div 86400000000")
    ud = events.select(F.col(user).alias("u"), day.alias("d")).distinct()
    cohorts = ud.groupBy("u").agg(F.min("d").alias("cd"))
    sizes = cohorts.groupBy("cd").agg(F.count("*").alias("cohort_size"))
    act = (
        ud.join(cohorts, "u")
        .select("cd", (F.col("d") - F.col("cd")).alias("off"))
        .filter(F.col("off") <= max_offset)
        .groupBy("cd", "off")
        .agg(F.count("*").alias("n_users"))
    )
    return (
        act.join(sizes, "cd")
        .select(
            F.col("cd").alias("cohort_day"),
            F.col("off").alias("day_offset"),
            "n_users", "cohort_size",
            F.round(
                F.col("n_users") * F.lit(1.0) / F.col("cohort_size"), 4
            ).alias("retention"),
        )
    )


def event_anomalies(events: DataFrame, ts_us: str = "ts_us",
                    type_col: str = "event_type",
                    trailing: int = 3, z_cut: float = 2.0) -> DataFrame:
    """Trailing-window anomaly screen over the daily event series: per
    (epoch-day, event_type), a z-score of today's count against the
    mean/std of the previous ``trailing`` days — the ops readout that
    catches a collapsed crawler or a log-spamming host the day it
    happens. Rows without a full trailing window are omitted (no
    cold-start pseudo-anomalies).

    Engine parity: the trailing sums (Σx, Σx²) are exact BIGINTs over a
    ROWS frame; mean/var derive in doubles through one mirrored
    expression tree (var = Σx²/k − mean², clamped at 0 before sqrt —
    IEEE sqrt is correctly rounded on both engines); day arithmetic is
    BIGINT floor-div of epoch micros. Output: (day, event_type, n,
    trail_mean, z, is_anomaly), rounded 4dp for display AFTER the flag
    compare.

    Scale shape: one (day, type) partial agg over the stream, then
    windows over the tiny daily-series table partitioned by type —
    never over event rows.
    """
    from pyspark.sql import Window

    k = trailing
    day = F.expr(f"{ts_us} div 86400000000")
    daily = (
        events.select(day.alias("day"), F.col(type_col).alias("t"))
        .groupBy("day", "t")
        .agg(F.count("*").alias("n"))
    )
    w = (
        Window.partitionBy("t").orderBy("day")
        .rowsBetween(-k, -1)
    )
    sx = F.sum("n").over(w)
    sxx = F.sum(F.col("n") * F.col("n")).over(w)
    cnt = F.count("n").over(w)
    scored = daily.select(
        "day", F.col("t").alias("event_type"), "n",
        sx.alias("__sx"), sxx.alias("__sxx"), cnt.alias("__k"),
    ).filter(F.col("__k") == k)
    mean = F.col("__sx") * F.lit(1.0) / F.col("__k")
    var = F.greatest(
        F.col("__sxx") * F.lit(1.0) / F.col("__k") - mean * mean,
        F.lit(0.0),
    )
    std = F.sqrt(var)
    z = F.when(std > 0, (F.col("n") - mean) / std)
    # A zero-variance trailing window (perfectly flat series) must still
    # flag a deviation — that IS the collapsed-crawler case — so the
    # flag falls back to an exact inequality when z is undefined.
    anomaly = F.when(std > 0, F.abs(z) > F.lit(z_cut)).otherwise(
        F.col("n") * F.lit(1.0) != mean
    )
    return scored.select(
        "day", "event_type", "n",
        F.round(mean, 4).alias("trail_mean"),
        F.round(z, 4).alias("z"),
        anomaly.alias("is_anomaly"),
    )


def bot_suspects(events: DataFrame, user: str = "user_id",
                 ts_us: str = "ts_us", order_tiebreak: str = "event_id",
                 min_events: int = 20, cv_cut: float = 0.5) -> DataFrame:
    """Behavioral bot screen from inter-event timing regularity: humans
    produce bursty gaps (coefficient of variation ≈ 1 for Poisson
    arrivals, higher with sessions), schedulers and replay scripts
    produce near-constant gaps (cv → 0). Per user: event count, mean
    gap, gap cv, and a flag (``n_events >= min_events`` AND
    ``cv < cv_cut``) — the screen a crawler-facing site (or a quality
    pipeline suspicious of machine-generated interaction logs) runs
    before trusting engagement counts.

    Engine parity + overflow: gaps come from ``lag`` over a
    deterministic (ts, tiebreak) order and quantize to WHOLE SECONDS
    (exact BIGINT floor-div) before Σg / Σg² — microsecond gaps squared
    overflow a BIGINT at hour-scale gaps (Spark ANSI errors, DuckDB
    silently widens to HUGEINT: a double divergence); second-scale Σg²
    stays exact past a million hour-long gaps per user. The mean/var/cv
    tree then mirrors :func:`event_anomalies` (clamped var, IEEE sqrt,
    rounded display divisions). Users whose gaps are ALL sub-second
    read mean 0 (cv undefined) and fall back to the volume test alone —
    machine-rate by definition. Scale shape: one window pass
    partitioned by user (the sessionize shuffle) and one per-user
    partial agg — event payloads never joined.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user).orderBy(
        F.col(ts_us).asc(), F.col(order_tiebreak).asc()
    )
    gaps = (
        events.select(
            F.col(user).alias("u"),
            (F.col(ts_us) - F.lag(ts_us).over(w)).alias("__gus"),
        )
        .select("u", F.expr("__gus div 1000000").alias("g"))
    )
    per = (
        gaps.groupBy("u")
        .agg(
            (F.count("*")).alias("n_events"),
            F.count("g").alias("__k"),
            F.sum("g").alias("__sg"),
            F.sum(F.col("g") * F.col("g")).alias("__sgg"),
        )
        .filter(F.col("__k") >= 1)
    )
    mean = F.col("__sg") * F.lit(1.0) / F.col("__k")
    var = F.greatest(
        F.col("__sgg") * F.lit(1.0) / F.col("__k") - mean * mean,
        F.lit(0.0),
    )
    cv = F.when(mean > 0, F.sqrt(var) / mean)
    is_bot = F.when(
        mean > 0,
        (F.col("n_events") >= F.lit(min_events)) & (cv < F.lit(cv_cut)),
    ).otherwise(F.col("n_events") >= F.lit(min_events))
    return per.select(
        F.col("u").alias(user),
        "n_events",
        F.col("__k").alias("n_gaps"),
        F.round(mean, 2).alias("mean_gap_s"),
        F.round(cv, 4).alias("cv"),
        is_bot.alias("is_bot"),
    )


def with_session_ids(events: DataFrame, user: str = "user_id",
                     ts_us: str = "ts_us",
                     order_tiebreak: str = "event_id",
                     gap_s: int = 86400) -> DataFrame:
    """Gap-based session assignment as a plain column: a session starts
    at a user's first event and whenever the gap to the previous event
    exceeds ``gap_s`` seconds — the lag-flag + running-sum idiom the
    stateful sessionizer mirrors in streaming. Adds ``session_id``
    (0-based per user) and ``session_key`` (user bit-packed with the
    session id — ``user << 20 | sid``, valid for < 2^20 sessions/user —
    so downstream per-session operators reuse their per-user form
    unchanged, the CLAUDE.md bit-pack idiom). One window shuffle on the
    user key; exact integer comparisons only.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user).orderBy(
        F.col(ts_us).asc(), F.col(order_tiebreak).asc()
    )
    gap_us = gap_s * 1_000_000
    new_flag = F.when(
        F.lag(ts_us).over(w).isNull()
        | ((F.col(ts_us) - F.lag(ts_us).over(w)) > gap_us),
        1,
    ).otherwise(0)
    run = Window.partitionBy(user).orderBy(
        F.col(ts_us).asc(), F.col(order_tiebreak).asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sid = (F.sum(new_flag).over(run) - F.lit(1)).alias("session_id")
    # Pack-overflow fence: a user with >= 2^20 sessions or a user id
    # >= 2^43 would silently collide session keys (and shiftleft would
    # wrap the id bits) — fail loudly instead, the same caution the other
    # bit-pack sites (id<<22) get from their caps. Zero-cost when no row
    # trips it; raise_error keeps the check engine-side, no extra pass.
    packed = F.when(
        (F.col("session_id") >= F.lit(1 << 20))
        | (F.col(user) >= F.lit(1 << 43)) | (F.col(user) < 0),
        F.raise_error(F.lit(
            "with_session_ids: session_id >= 2^20 or user id outside "
            "[0, 2^43) overflows the user<<20|sid bit-pack"
        )).cast("bigint"),
    ).otherwise(
        F.shiftleft(F.col(user), 20).bitwiseOR(F.col("session_id"))
    )
    return events.withColumn("session_id", sid).withColumn(
        "session_key", packed,
    )


def sessionized_funnel(events: DataFrame,
                       stages: tuple[str, ...] = ("view", "click",
                                                  "purchase"),
                       user: str = "user_id", ts_us: str = "ts_us",
                       type_col: str = "event_type",
                       gap_s: int = 86400) -> DataFrame:
    """The funnel a product team actually reads: conversions within ONE
    session (``gap_s`` inactivity boundary), not across a user's whole
    history — a purchase three weeks after the view does not count.
    Pure composition: :func:`with_session_ids` builds the bit-packed
    (user, session) key and :func:`event_funnel` runs UNCHANGED over it,
    so the ordered-chaining semantics (strictly-after, min-timestamp)
    are shared, not re-implemented. Output: per stage, SESSIONS reached
    + entry/step conversion.
    """
    sess = with_session_ids(events, user, ts_us, gap_s=gap_s)
    return event_funnel(
        sess, stages=stages, user="session_key",
        ts_us=ts_us, type_col=type_col,
    )


def _transition_pairs(events: DataFrame, user: str, ts_us: str,
                      type_col: str, order_tiebreak: str) -> DataFrame:
    """(from_type, to_type, n_transitions) over each user's
    (ts_us, tiebreak)-ordered event stream — the shared first stage of
    :func:`event_transitions` and :func:`event_stationary`. One shuffle
    on the user key for the lag window, then a counter agg whose
    cardinality is |event types|²."""
    from pyspark.sql import Window

    w = Window.partitionBy(user).orderBy(
        F.col(ts_us).asc(), F.col(order_tiebreak).asc()
    )
    return (
        events.select(
            F.col(type_col).alias("from_type"),
            F.lead(F.col(type_col)).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count("*").alias("n_transitions"))
    )


def event_transitions(events: DataFrame, user: str = "user_id",
                      ts_us: str = "ts_us", type_col: str = "event_type",
                      order_tiebreak: str = "event_id") -> DataFrame:
    """First-order Markov transition matrix over each user's ordered
    event stream — the "what do users do NEXT after X" report (and, for
    a crawl-log corpus, the fetch-state machine audit): for every
    adjacent pair of events by the same user, count (from_type →
    to_type) and normalize by the from-state's outgoing total.

    Ordering is exact and deterministic: (ts_us, tiebreak) — the
    bot_suspects lag idiom, so simultaneous events have a stable
    successor on any engine. Output per observed transition:
    (from_type, to_type, n_transitions, n_from, p) with
    p = round(n/n_from, 4); n_from > 0 by construction so no divide
    guard is needed.

    Scale shape: ONE shuffle on user_id for the lag window (key +
    type + two longs — payloads never join this), then a counter agg
    on the (from, to) pair whose cardinality is |event types|², tiny.
    The per-from totals come from a window over that tiny matrix, not
    a second pass over the events.
    """
    from pyspark.sql import Window

    pairs = _transition_pairs(events, user, ts_us, type_col,
                              order_tiebreak)
    tot = Window.partitionBy("from_type")
    return pairs.select(
        "from_type", "to_type", "n_transitions",
        F.sum("n_transitions").over(tot).alias("n_from"),
    ).select(
        "from_type", "to_type", "n_transitions", "n_from",
        F.round(
            F.col("n_transitions") * F.lit(1.0) / F.col("n_from"), 4
        ).alias("p"),
    )


def state_dwell_stats(events: DataFrame, user: str = "user_id",
                      ts_us: str = "ts_us", type_col: str = "event_type",
                      order_tiebreak: str = "event_id") -> DataFrame:
    """Mean time spent in each event state: for every non-terminal
    event, the gap to the same user's NEXT event is the dwell in the
    current state — the timing companion to
    :func:`event_transitions`' "where do users go" (this is "how long
    do they sit there first"); for a crawl/fetch log it reads as
    per-state latency. Terminal events (no successor) have no dwell
    and are excluded, exactly the transition rows' universe.

    Gaps are quantized to whole SECONDS via BIGINT ``div`` before
    summing (the bot_suspects overflow idiom — micro gaps can reach
    ~3e13, and a corpus-scale sum of those would overflow BIGINT under
    ANSI while DuckDB silently widens to HUGEINT, hiding the
    divergence); the seconds sum holds to ~1e11 transitions x year
    -scale dwells. mean = round(total·1.0/n, 4), n > 0 by
    construction.

    Scale shape: the one user-key window shuffle every operator in
    this family pays, then a counter agg on from_type (|types| rows).

    Output: (from_type, n_transitions, total_dwell_s, mean_dwell_s).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user).orderBy(
        F.col(ts_us).asc(), F.col(order_tiebreak).asc()
    )
    d = events.select(
        F.col(type_col).alias("from_type"),
        (F.lead(F.col(ts_us)).over(w) - F.col(ts_us)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    g = (
        d.select("from_type", F.expr("gap_us div 1000000").alias("gap_s"))
        .groupBy("from_type")
        .agg(
            F.count("*").alias("n_transitions"),
            F.sum("gap_s").alias("total_dwell_s"),
        )
    )
    return g.select(
        "from_type", "n_transitions", "total_dwell_s",
        F.round(
            F.col("total_dwell_s") * F.lit(1.0) / F.col("n_transitions"), 4
        ).alias("mean_dwell_s"),
    )


def user_transition_entropy(events: DataFrame, user: str = "user_id",
                            ts_us: str = "ts_us",
                            type_col: str = "event_type",
                            order_tiebreak: str = "event_id") -> DataFrame:
    """Per-user first-order behavioral entropy: Shannon entropy (nats)
    of the user's own (from_type → to_type) transition distribution —
    the behavioral-regularity axis of bot triage, orthogonal to
    :func:`bot_suspects`' TIMING regularity: a scripted agent cycles a
    handful of transitions (entropy near 0 at high volume) even when
    its inter-event gaps are jittered past the gap-cv screen; organic
    users mix transitions. Read the two reports joined on user.

    Engine-exact FP recipe: H = -(1/n)·Σ c·ln(c/n), so each term is
    the INTEGER count c times round(ln(c·1.0/n), 8) cast DECIMAL(18,8)
    — exact decimal products, order-free decimal sum — with ONE double
    division by n at the end, then 6dp. (Rounding a p·ln(p) DOUBLE
    product per term instead lands .5e-8 boundaries a half-ulp apart
    between engines — measured on this corpus.) Single-pair users read
    exactly 0.0 (ln 1 = 0); single-event users have no distribution
    and are absent.

    Scale shape: one user-key window shuffle (the
    :func:`event_transitions` lag), then per-user counter aggs — the
    per-user pair table is bounded by each user's own |types|², and
    nothing downstream touches the corpus again.

    Output: (user_id, n_transitions, n_pairs, entropy).
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user).orderBy(
        F.col(ts_us).asc(), F.col(order_tiebreak).asc()
    )
    pairs = (
        events.select(
            F.col(user).alias("user_id"),
            F.col(type_col).alias("from_type"),
            F.lead(F.col(type_col)).over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("user_id", "from_type", "to_type")
        .agg(F.count("*").alias("c"))
        # three consuming branches (tot, terms' join, the final join);
        # without the lineage cut each re-runs the corpus-wide window
        # shuffle (no cross-branch subplan reuse) — the pair table is
        # users x |types|²-bounded, far smaller than the event log
        .localCheckpoint(eager=True)
    )
    tot = pairs.groupBy("user_id").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_pairs")
    )
    p = F.col("c") * F.lit(1.0) / F.col("n")
    term = F.col("c") * F.round(F.log(p), 8).cast("decimal(18,8)")
    s = (
        pairs.join(tot, "user_id")
        .select("user_id", term.alias("term"))
        .groupBy("user_id")
        .agg(F.sum("term").alias("sm"))
    )
    return tot.join(s, "user_id").select(
        "user_id",
        F.col("n").alias("n_transitions"),
        "n_pairs",
        F.round(
            (-F.col("sm")).cast("double") / F.col("n"), 6
        ).alias("entropy"),
    )


def event_stationary(events: DataFrame, user: str = "user_id",
                     ts_us: str = "ts_us", type_col: str = "event_type",
                     order_tiebreak: str = "event_id",
                     iterations: int = 3,
                     damping: float = 0.85) -> DataFrame:
    """Long-run event-type mix implied by the first-order Markov chain
    (:func:`event_transitions`'s matrix), next to the empirical type
    share — the stationarity audit: when the two columns diverge, the
    observed stream is still transient (onboarding-heavy cohorts, a
    product change mid-window) and per-type counts are NOT the rates a
    capacity or sampling plan should extrapolate.

    The rank is a ``linkgraph.damped_rank`` call, the loop behind
    ``host_pagerank`` — teleport (1-d)/n, dangling types (never a
    from-state) keep only the teleport term, leaked mass not
    redistributed, fixed iterations unrolled in the oracle — but over
    the TYPE graph with self-transitions KEPT: a
    view→view loop is real dwell mass in a Markov chain, unlike the
    chrome self-links the host graph drops. 6dp rounding absorbs the
    |types|-bounded incoming-sum order.

    Scale shape: one user-key window shuffle builds the pair matrix
    (|types|² rows); every iteration runs over the TYPE table. The
    scalar count and all joins are type-table-sized; the corpus is
    read twice (pairs + type counts), never in the loop.

    Output: (event_type, stationary_p, empirical_share), both round 6.
    """
    from pyspark.sql import Window

    from .linkgraph import damped_rank

    pairs = _transition_pairs(
        events, user, ts_us, type_col, order_tiebreak
    ).localCheckpoint(eager=True)
    types = (
        events.select(F.col(type_col).alias("event_type"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = types.count()
    if n == 0:
        return types.select(
            "event_type",
            F.lit(0.0).alias("stationary_p"),
            F.lit(0.0).alias("empirical_share"),
        )
    share = (
        events.groupBy(F.col(type_col).alias("event_type"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "event_type",
            (
                F.col("cnt") * F.lit(1.0)
                / F.sum("cnt").over(Window.partitionBy())
            ).alias("__share"),
        )
    )
    ofrom = pairs.groupBy("from_type").agg(
        F.sum("n_transitions").alias("n_from")
    )
    wf = (
        pairs.join(ofrom, "from_type")
        .select(
            "from_type", "to_type",
            (F.col("n_transitions") / F.col("n_from")).alias("wfrac"),
        )
        .localCheckpoint(eager=True)
    )
    ranks = damped_rank(
        wf, types, "event_type", "from_type", "to_type",
        F.lit((1.0 - damping) / n), F.lit(1.0 / n), iterations, damping,
    )
    return (
        ranks.join(share, "event_type")
        .select(
            "event_type",
            F.round(F.col("rank"), 6).alias("stationary_p"),
            F.round(F.col("__share"), 6).alias("empirical_share"),
        )
    )


def interevent_histogram(events: DataFrame, user: str = "user_id",
                         etype: str = "event_type", ts_us: str = "ts_us",
                         order_tiebreak: str = "event_id") -> DataFrame:
    """Log2-bucketed histogram of inter-event gaps per event type: for
    each (user, event_type) stream, the whole-second gaps between
    consecutive events, bucketed by binary magnitude. The
    burstiness-profile companion to :func:`bot_suspects` (which screens
    per USER): a type whose mass sits in one narrow bucket is
    scheduler-generated; human-triggered types spread across decades.

    Engine parity is exact — every step is integer: gaps quantize to
    whole seconds (BIGINT floor-div, the bot_suspects idiom), and the
    bucket is ``length(bin(gap_s))`` — the binary bit-length, so bucket
    b >= 2 covers [2^(b-1), 2^b) seconds and bucket 1 covers {0, 1}.
    ``bin()`` exists on both engines with identical output for
    non-negative BIGINTs. Bucket bounds are reconstructed with integer
    shifts, never pow() doubles.

    Output: (event_type, bucket, bucket_lo_s, bucket_hi_s, n_gaps)
    where [lo, hi) brackets the bucket in seconds.

    Scale shape: one window pass partitioned by (user, type) — the
    sessionize shuffle key, finer than bot_suspects' user key so skewed
    power users split across types — then a (type, bucket)-key partial
    agg; payloads never shuffle. Output rows = |types| x <= 64 buckets.
    """
    hist = _gap_buckets(events, user, etype, ts_us, order_tiebreak) \
        .groupBy("event_type", "bucket").agg(F.count("*").alias("n_gaps"))
    return _with_bucket_bounds(hist)


def _gap_buckets(events: DataFrame, user: str = "user_id",
                 etype: str = "event_type", ts_us: str = "ts_us",
                 order_tiebreak: str = "event_id") -> DataFrame:
    """(event_type, bucket) row per consecutive-event gap — the shared
    pre-aggregation stage of :func:`interevent_histogram` and the
    streaming twin (whose per-batch lag chain starts at the carried
    last-event row)."""
    from pyspark.sql import Window

    w = Window.partitionBy(user, etype).orderBy(
        F.col(ts_us).asc(), F.col(order_tiebreak).asc()
    )
    gaps = (
        events.select(
            F.col(etype).alias("event_type"),
            (F.col(ts_us) - F.lag(ts_us).over(w)).alias("__gus"),
        )
        .filter(F.col("__gus").isNotNull())
        .select("event_type", F.expr("__gus div 1000000").alias("g"))
    )
    return gaps.select(
        "event_type", F.length(F.bin(F.col("g"))).cast("int").alias("bucket")
    )


def _with_bucket_bounds(hist: DataFrame) -> DataFrame:
    """Attach the [2^(b-1), 2^b) second bounds to a (event_type,
    bucket, n_gaps) histogram (integer shifts only). F.shiftleft's
    python signature takes a literal shift; the SQL function accepts a
    column — go through expr for the column shift."""
    lo = F.when(
        F.col("bucket") > 1,
        F.expr("shiftleft(cast(1 as bigint), bucket - 1)"),
    ).otherwise(F.lit(0).cast("bigint"))
    hi = F.expr("shiftleft(cast(1 as bigint), bucket)")
    return hist.select(
        "event_type", "bucket",
        lo.alias("bucket_lo_s"), hi.alias("bucket_hi_s"), "n_gaps",
    )


def event_cooccurrence(events: DataFrame, user: str = "user_id",
                       etype: str = "event_type") -> DataFrame:
    """Event-type co-occurrence lift across users: for every unordered
    type pair, how much more often one user exhibits BOTH types than
    independence predicts — lift = c_ab·N / (n_a·n_b) over the distinct
    (user, type) incidence relation. The market-basket read on the
    event log: lift ≫ 1 flags coupled features (or a bot script that
    always fires both), lift ≪ 1 mutually exclusive populations; the
    set-membership complement to :func:`event_transitions`' ORDERED
    adjacency.

    Engine parity: counts are BIGINT and the single division is the
    mirrored `(c_ab · N) · 1.0 / (n_a · n_b)` tree rounded 6dp —
    integer products stay under 2^63 for any |users| ≤ 3e9 (the
    numerator is c_ab·N ≤ N²).

    Scale shape: one distinct over (user, type) — users × |types|
    bounded — then a user-key self-join whose per-user fan-out is
    |types|² (small constant); per-type counts broadcast back onto the
    |types|²-row pair table. The event log is scanned once.

    Output: (type_a, type_b, n_a, n_b, n_both, lift).
    """
    ut = (
        events.select(F.col(user).alias("u"), F.col(etype).alias("t"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nu = ut.select("u").distinct().agg(F.count("*").alias("n_users"))
    nt = ut.groupBy("t").agg(F.count("*").alias("n"))
    a = ut.select("u", F.col("t").alias("type_a"))
    b = ut.select("u", F.col("t").alias("type_b"))
    pairs = (
        a.join(b, "u")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_both"))
    )
    na = nt.select(F.col("t").alias("type_a"), F.col("n").alias("n_a"))
    nb = nt.select(F.col("t").alias("type_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .crossJoin(F.broadcast(nu))
        .select(
            "type_a", "type_b", "n_a", "n_b", "n_both",
            F.round(
                (F.col("n_both") * F.col("n_users")) * F.lit(1.0)
                / (F.col("n_a") * F.col("n_b")),
                6,
            ).alias("lift"),
        )
    )
