"""Scale-hygiene operators: latest-capture dedup, resume anti-join,
host-salted repartitioning, URL parsing expressions.

These are the NEW operators of SURVEY.md §2.6 (N2, N3, N6, N7) — the ones a
100 TB run needs even though the single-node reference never did: each is a
plain declarative DataFrame op so Catalyst/AQE keep full visibility
(pushdown, join-strategy choice, skew mitigation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def host_expr(url_col: str = "url"):
    """Extract the host from an https?:// URL as a native column expression."""
    return F.regexp_extract(F.col(url_col), r"^https?://([^/]+)/", 1)


def md5_u32_expr(key_col: str, salt: str = ""):
    """First 32 bits of ``md5(salt || key)`` as a bigint in [0, 2^32) —
    the engine-portable uniform hash behind per-row probabilistic
    acceptance (quality_sample, mix_manifest): keep iff
    ``md5_u32 < floor(p * 2^32)`` compares integers, so a variable
    per-row probability works where the fixed hex-string-threshold idiom
    (hash_split) cannot. A salt keeps independent decisions independent.
    DuckDB mirrors by digit-wise hex extraction (no conv() there)."""
    s = F.col(key_col).cast("string")
    if salt:
        s = F.concat(F.lit(salt), s)
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("bigint")


def doc_id_expr(url_col: str = "url"):
    """Recover the numeric document id embedded in corpus URLs
    (``.../{stem}-{doc_id}.{ext}``)."""
    return F.regexp_extract(F.col(url_col), r"-(\d+)\.[a-z]+$", 1).cast("bigint")


def normalize_url_expr(url_col: str = "url"):
    """Canonical URL form for dedup keys (all native regexp ops, codegen):

    - lowercase the scheme://host prefix,
    - drop the fragment,
    - drop default ports (:80 http, :443 https),
    - strip tracking params (utm_*, fbclid, gclid) and tidy leftover
      ``?``/``&`` separators.

    Mirrored in the ``url_normalize`` oracle (DuckDB regexp_replace with
    the 'g' flag — Spark's replaces all matches by default).
    """
    u = F.col(url_col)
    u = F.regexp_replace(u, r"#.*$", "")                     # fragment
    u = F.concat(                                            # lower scheme+host
        F.lower(F.regexp_extract(u, r"(?i)^(https?://[^/?]*)", 1)),
        F.regexp_replace(u, r"(?i)^https?://[^/?]*", ""),
    )
    u = F.regexp_replace(u, r"^(http://[^/?:]*):80(?=[/?]|$)", r"$1")
    u = F.regexp_replace(u, r"^(https://[^/?:]*):443(?=[/?]|$)", r"$1")
    u = F.regexp_replace(u, r"(utm_[a-z]+|fbclid|gclid)=[^&#]*&?", "")  # trackers
    u = F.regexp_replace(u, r"[?&]+$", "")                   # dangling seps
    u = F.regexp_replace(u, r"\?&", "?")
    return u


URL_BLOCKED_EXTS = (".jpg", ".jpeg", ".png", ".gif", ".mp4", ".zip",
                    ".exe", ".css", ".js")


def url_filter(df: DataFrame, url_col: str = "url", max_len: int = 90,
               max_params: int = 2,
               blocked_exts: tuple = URL_BLOCKED_EXTS,
               blocked_pattern: str | None = None) -> DataFrame:
    """Crawl-frontier URL hygiene (the pre-fetch gate of a web pipeline):
    classify each URL keep/drop with a first-failing reason, mirroring
    :func:`~ollama_ocr_spark.operators.textstats.curation_verdict`'s
    verdict shape. Rules, in precedence order:

    - ``binary_ext`` — path (query/fragment stripped) ends in a non-text
      asset extension (images, media, bundles);
    - ``blocked_pattern`` — optional regex blocklist over the whole URL
      (spam path segments, infinite-calendar traps, login pages);
    - ``too_many_params`` — query-string parameter count above
      ``max_params`` (faceted-search / session-id crawl traps);
    - ``too_long`` — total length above ``max_len`` (another trap tell).

    All native string/regexp expressions — pure map-side, whole-stage
    codegen, no shuffle: at frontier scale (billions of candidate URLs
    per crawl round) this runs as a streaming filter on the scan.
    Output: input columns + (reason, keep).
    """
    u = F.col(url_col)
    path = F.lower(F.regexp_replace(u, r"[?#].*$", ""))
    ext_hit = None
    for ext in blocked_exts:
        cond = path.endswith(ext)
        ext_hit = cond if ext_hit is None else (ext_hit | cond)
    qs = F.regexp_extract(u, r"\?([^#]*)", 1)
    # Drop empty segments so 'a=1&&b=2' or a trailing '&' count their real
    # parameters, not the separators (oracle mirrors the same filter).
    n_params = F.size(F.filter(F.split(qs, "&"), lambda x: x != ""))
    reason = F.when(ext_hit, F.lit("binary_ext"))
    if blocked_pattern:
        reason = reason.when(
            u.rlike(blocked_pattern), F.lit("blocked_pattern")
        )
    reason = (
        reason.when(n_params > max_params, F.lit("too_many_params"))
        .when(F.length(u) > max_len, F.lit("too_long"))
        .otherwise(F.lit("ok"))
    )
    return df.withColumn("reason", reason).withColumn(
        "keep", F.col("reason") == "ok"
    )


def robots_filter(df: DataFrame, rules: DataFrame,
                  url_col: str = "url") -> DataFrame:
    """robots.txt-style disallow filter: classify each DISTINCT url
    against a per-host rule table (host, disallow) of path prefixes — the
    politeness gate every compliant crawler runs between the frontier and
    the fetcher. A url is blocked when ANY of its host's disallow
    prefixes matches its path; the reported ``rule`` is the LONGEST
    matching prefix (most-specific rule, the robots.txt convention),
    ties broken lexicographically.

    Output: (url, host, path, rule, allowed) — rule NULL when allowed.

    Scale shape: the rule table is tiny by nature (a crawl's parsed
    robots corpus is |hosts| × a few rules) and broadcasts; the prefix
    match rides the broadcast join's ON clause so unmatched urls never
    duplicate. One shuffle of (url, host, path) string triples for the
    per-url verdict aggregate — no payloads.
    """
    u = F.col(url_col)
    base = (
        df.select(
            u.alias("url"),
            F.regexp_extract(u, r"^[a-z]+://([^/]+)", 1).alias("host"),
            F.regexp_replace(
                F.regexp_replace(u, r"^[a-z]+://[^/]+", ""), r"[?#].*$", ""
            ).alias("path"),
        )
        .distinct()
    )
    r = rules.select(
        F.col("host").alias("__rhost"), F.col("disallow").alias("__dis")
    )
    joined = base.join(
        F.broadcast(r),
        (base["host"] == F.col("__rhost"))
        & F.col("path").startswith(F.col("__dis")),
        "left",
    )
    # longest-match rule via an order-portable string key: zero-padded
    # prefix length then the prefix itself (max over it == max over
    # (length, prefix) lexicographic pairs in any engine)
    rule_key = F.when(
        F.col("__dis").isNotNull(),
        F.concat(
            F.lpad(F.length("__dis").cast("string"), 3, "0"), F.col("__dis")
        ),
    )
    return (
        joined.groupBy("url", "host", "path")
        .agg(F.max(rule_key).alias("__rk"))
        .select(
            "url", "host", "path",
            F.substring(F.col("__rk"), 4, 2048).alias("rule"),
            F.col("__rk").isNull().alias("allowed"),
        )
    )


def golden_text_expr(doc_id_col: str = "doc_id", text_col: str = "text"):
    """Native-expression twin of ``corpus.golden_text`` for the HTML
    archetypes (k <= 6): identity for prose pages, markdown rendering for
    the k=2 table / k=3 list pages (mirrors ``corpus.table_markdown`` /
    ``corpus.list_markdown`` — keep all three in sync). Pure column ops, so
    the golden side of the compare join stays inside codegen.
    """
    did = F.col(doc_id_col)
    words = F.split(F.col(text_col), " ")
    nchunks = F.ceil(F.size(words) / F.lit(8)).cast("int")
    idx = F.when(
        nchunks >= 1, F.sequence(F.lit(0), nchunks - 1)
    ).otherwise(F.array().cast("array<int>"))

    def _cells(i):
        return F.filter(
            F.array(
                F.array_join(F.slice(words, i * 8 + 1, 4), " "),
                F.array_join(F.slice(words, i * 8 + 5, 4), " "),
            ),
            lambda c: c != "",
        )

    table_render = F.array_join(
        F.filter(
            F.transform(
                idx,
                lambda i: F.when(
                    F.size(_cells(i)) > 0,
                    F.concat(
                        F.lit("| "), F.array_join(_cells(i), " | "), F.lit(" |")
                    ),
                ),
            ),
            lambda r: r.isNotNull(),
        ),
        "\n",
    )
    items = F.filter(
        F.transform(idx, lambda i: F.array_join(F.slice(words, i * 8 + 1, 8), " ")),
        lambda it: it != "",
    )
    list_render = F.array_join(
        F.transform(items, lambda it: F.concat(F.lit("- "), it)), "\n\n"
    )
    # k=4 HTML memo → handwriting transcription layout (corpus.memo_layout:
    # 6-word lines, 2-space continuation indent); the %20==14 text/plain
    # sub-slot keeps the raw-text identity golden
    nlines = F.ceil(F.size(words) / F.lit(6)).cast("int")
    idx6 = F.when(
        nlines >= 1, F.sequence(F.lit(0), nlines - 1)
    ).otherwise(F.array().cast("array<int>"))
    memo_render = F.array_join(
        F.transform(
            idx6,
            lambda i: F.when(
                i == 0, F.array_join(F.slice(words, 1, 6), " ")
            ).otherwise(
                F.concat(F.lit("  "),
                         F.array_join(F.slice(words, i * 6 + 1, 6), " "))
            ),
        ),
        "\n",
    )
    return (
        F.when(did % 10 == 2, table_render)
        .when(did % 10 == 3, list_render)
        .when((did % 10 == 4) & (did % 20 != 14), memo_render)
        .otherwise(F.col(text_col))
    )


def latest_capture(pages: DataFrame, key: str = "url",
                   ts: str = "warc_ts") -> DataFrame:
    """Keep the newest capture per url (N3).

    ``row_number`` over (key → ts desc): one payload shuffle +
    per-partition sort. Combined with :func:`balance_by_url` the payload
    crosses the wire exactly once, and it keeps exactly one row per key
    even on (key, ts) ties.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts).desc())
    return (
        pages.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def resume_anti_join(pages: DataFrame, done: DataFrame,
                     key: str = "url", strategy: str = "exact",
                     bloom_bits: int = 1 << 23) -> DataFrame:
    """Drop documents already present in the committed results snapshot (N2).

    ``strategy="exact"`` (default): plain ``left_anti`` — Catalyst picks
    broadcast-anti when the done-set is small (early resumes) and
    shuffle-anti when it is not, exactly the plan flexibility a
    hand-rolled filter would lose.

    ``strategy="bloom"``: the LATE-resume shape, where the done-set
    exceeds broadcast range but the full payload must not shuffle. A
    materialized one-hash bloom filter — the DISTINCT occupied buckets of
    ``xxhash64(key) % bloom_bits`` — broadcasts in place of the done-set
    (ints, ~8 bytes/occupied bucket; 10^6 done urls → <8 MB at the
    default 2^23 bits). Rows whose bucket is unoccupied are DEFINITELY
    not done and pass through with no shuffle at all; only the
    bloom-positive sliver (false-positive rate ≈ n_done/bloom_bits plus
    the true dones) takes the exact anti-join shuffle. Size ``bloom_bits``
    ≈ 16× the done-count for a ~6% maybe-fraction. Result rows are
    IDENTICAL to the exact strategy by construction (the bloom only
    routes; membership is still decided exactly) — pytest asserts it.
    """
    done_keys = done.select(key).distinct()
    if strategy == "bloom":
        bucket = F.pmod(F.xxhash64(F.col(key)), F.lit(bloom_bits))
        occupied = F.broadcast(
            done_keys.select(bucket.alias("__bb")).distinct()
        )
        tagged = pages.withColumn("__pb", bucket)
        definite = tagged.join(
            occupied, tagged["__pb"] == occupied["__bb"], "left_anti"
        ).drop("__pb")
        maybe = tagged.join(
            occupied, tagged["__pb"] == occupied["__bb"], "left_semi"
        ).drop("__pb")
        survivors = maybe.join(done_keys, key, "left_anti")
        return definite.unionByName(survivors)
    return pages.join(done_keys, key, "left_anti")


def crawl_diff(pages: DataFrame, key: str = "url",
               ts: str = "warc_ts") -> DataFrame:
    """Per-host re-crawl change summary: for each url, compare the newest
    two captures' content digests and count changed vs unchanged re-crawls
    (the snapshot-diff a recurring crawl runs to size its refresh work).

    Digest-only shuffle: ``md5(html)`` is computed map-side in the scan
    stage, so only (url, host, ts, 32-byte digest) ever crosses the wire —
    payload bytes never shuffle. One window shuffle on url, then the
    per-host rollup aggregates from ~1 row per url.

    Output: (host, n_urls, n_recrawled, n_changed, n_unchanged). NULL
    payloads digest as NULL; comparison is null-safe, so two missing
    captures count as unchanged.
    """
    w = Window.partitionBy(key).orderBy(F.col(ts).desc())
    newest = (
        pages.select(
            F.col(key), host_expr(key).alias("host"),
            F.col(ts), F.md5(F.col("html")).alias("__digest"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__prev", F.lead("__digest").over(w))
        .withColumn("__n_caps", F.count("*").over(Window.partitionBy(key)))
        .filter(F.col("__rn") == 1)
    )
    recrawled = F.col("__n_caps") > 1
    changed = recrawled & ~F.col("__digest").eqNullSafe(F.col("__prev"))
    return newest.groupBy("host").agg(
        F.count("*").alias("n_urls"),
        F.sum(recrawled.cast("int")).alias("n_recrawled"),
        F.sum(changed.cast("int")).alias("n_changed"),
        F.sum((recrawled & ~changed).cast("int")).alias("n_unchanged"),
    )


def url_aliases(pages: DataFrame, key: str = "url",
                ts: str = "warc_ts") -> DataFrame:
    """Mirror / duplicate-URL detection: clusters of DISTINCT urls whose
    LATEST captures carry byte-identical payloads — the same page served
    from mirrors, CDN hostnames, or un-canonicalized URL variants. A
    crawl that fetches every alias pays bandwidth and dedup work for
    content it already has; this report is the evidence feeding the
    canonicalization rules (``normalize_url_expr``) and the frontier
    blocklist.

    Output: (canonical_url, n_urls, n_hosts) per alias cluster — the
    canonical member is the lexicographic min; singleton urls are
    dropped.

    Scale shape: ``md5(html)`` computed map-side in the scan stage, so
    only (url, host, ts, 32-char digest) crosses the wire — payload
    bytes never shuffle. One window shuffle on url picks the latest
    capture (digest desc tie-break keeps identical-ts captures
    deterministic), then the digest groupBy aggregates ~1 counter row
    per url.
    """
    w = Window.partitionBy(key).orderBy(
        F.col(ts).desc(), F.col("__digest").desc())
    latest = (
        pages.select(
            F.col(key), host_expr(key).alias("host"),
            F.col(ts), F.md5(F.col("html")).alias("__digest"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        # a missing payload is absent content, not identical content —
        # NULL digests must not pool into one giant pseudo-cluster
        .filter(F.col("__digest").isNotNull())
    )
    return (
        latest.groupBy("__digest")
        .agg(
            F.min(key).alias("canonical_url"),
            F.count("*").alias("n_urls"),
            F.count_distinct("host").alias("n_hosts"),
        )
        .filter(F.col("n_urls") >= 2)
        .select("canonical_url", "n_urls", "n_hosts")
    )


def politeness_waves(pages: DataFrame, per_host_burst: int = 16,
                     key: str = "url") -> DataFrame:
    """Per-host politeness-aware scheduling (crawl/recrawl hygiene): assign
    every document a ``wave`` such that one host contributes at most
    ``per_host_burst`` documents per wave — wave w is the w-th burst of
    that host in deterministic url order.

    Downstream either iterates waves (strict politeness: process wave w,
    wait, process w+1) or repartitions on (wave, host) so the mega-host's
    work spreads across the job's lifetime instead of hammering one origin
    (or one parser cache) all at once. One window over (host, url) — the
    same shuffle shape as latest-capture; at 100 TB the window runs on
    (host, url) pairs only if callers project first.
    """
    w = Window.partitionBy("__host").orderBy(key)
    return (
        pages.withColumn("__host", host_expr(key))
        .withColumn(
            "wave",
            F.floor((F.row_number().over(w) - 1) / per_host_burst)
            .cast("int"),
        )
        .drop("__host")
    )


def balance_by_url(pages: DataFrame, num_partitions: int) -> DataFrame:
    """One-shuffle balance + dedup enabler: hash-repartition on ``url``.

    ``repartition(N, url)`` produces exactly the ``hashpartitioning(url)``
    distribution the latest-capture window requires, so Catalyst inserts NO
    second exchange for the dedup — the raw html payload crosses the wire
    once, not twice. url-hash is also uniformly balanced regardless of host
    skew (unlike host partitioning, which needs salting), and co-locates all
    captures of a url. Use :func:`salt_by_host` only when host-locality is
    required (e.g. per-host politeness or parser-cache reuse).
    """
    return pages.repartition(num_partitions, F.col("url"))


def salt_by_host(pages: DataFrame, num_partitions: int,
                 salt_buckets: int = 8) -> DataFrame:
    """Explicit skew handling before the (CPU-heavy) extraction stage (N6/N7).

    Web corpora are zipf-distributed by host; partitioning by host alone
    starves most tasks while one grinds through the mega-host. Salting by
    ``pmod(hash(url), S)`` splits each host into S slices; repartitioning on
    (host, salt) both balances bytes per task and keeps same-host documents
    mostly co-located (useful for parser cache locality / politeness
    semantics at crawl time).
    """
    salted = pages.withColumn(
        "__salt", F.pmod(F.hash(F.col("url")), F.lit(salt_buckets))
    ).withColumn("__host", host_expr())
    return salted.repartition(num_partitions, "__host", "__salt").drop(
        "__salt", "__host"
    )


def write_bucketed(df: DataFrame, table: str, key: str, *more_keys: str,
                   num_buckets: int = 16, sort: bool = True) -> None:
    """Persist a table bucketed (and optionally sorted) by ``key`` (plus
    any ``more_keys`` — composite bucketing, e.g. LSH ``(band, bucket)``)
    — the co-location layout for repeated joins/aggregations on that key.

    Two tables bucketed on the same key with the same bucket count join
    with ZERO shuffle (plan-audited: no Exchange above either scan; with
    sorted buckets the sort vanishes too), and a bucketed table joined
    against an unbucketed delta shuffles ONLY the delta side into the
    table's layout. At 100 TB this is the difference between re-shuffling
    the corpus on every join against its metrics/results side tables and
    never shuffling it again after one write. Spark bucketing requires
    the table catalog (``saveAsTable``, hive-style layout under the
    warehouse dir).
    """
    import os
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    # A PREVIOUS session's overwrite leaves the managed location on disk
    # while this session's (in-memory derby) catalog has never heard of
    # the table — saveAsTable then fails with LOCATION_ALREADY_EXISTS.
    # mode("overwrite") semantically owns that location, so clear the
    # stale directory when the catalog does not know the table.
    if not spark.catalog.tableExists(table):
        wh = urlparse(spark.conf.get("spark.sql.warehouse.dir",
                                     "spark-warehouse"))
        if wh.scheme in ("", "file") and "." not in table:
            stale = os.path.join(wh.path, table.lower())
            if os.path.exists(stale):
                shutil.rmtree(stale)
    # Pre-repartition on the bucket keys: repartition's Murmur3-pmod
    # placement matches the bucketed write's bucket-id function, so each
    # task holds exactly ONE bucket's rows and writes ONE file — without
    # this, every upstream task writes a file per bucket it sees
    # (tasks × buckets tiny files: measured 513 files and a 4× slower
    # write at 32 tasks × 16 buckets; downstream scans then schedule per
    # FILE). At larger scale raise num_buckets — don't widen the write
    # back out with more tasks per bucket.
    writer = (
        df.repartition(num_buckets, key, *more_keys)
        .write.mode("overwrite").bucketBy(num_buckets, key, *more_keys)
    )
    if sort:
        writer = writer.sortBy(key, *more_keys)
    writer.saveAsTable(table)


def golden_compare(results: DataFrame, golden: DataFrame,
                   key: str = "url", text_col: str = "text") -> DataFrame:
    """Byte-identity gate as a DataFrame op (N1): join extraction results to
    the golden table and return per-doc match verdicts.

    The golden side is broadcast (goldens are test-scale by definition);
    comparison is sha256-based so only 32-byte digests ever leave the scan.
    """
    left = results.select(
        F.col(key),
        F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("__got"),
    )
    right = golden.select(
        F.col(key),
        F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256).alias("__want"),
    )
    return (
        left.join(F.broadcast(right), key, "full_outer")
        .select(
            key,
            (
                F.col("__got").isNotNull()
                & F.col("__want").isNotNull()
                & (F.col("__got") == F.col("__want"))
            ).alias("matched"),
        )
    )


def partition_lineage(results: DataFrame) -> DataFrame:
    """Per-partition lineage rows (north_rule):
    ``(partition_id, doc_count, bytes_in, checksum)``.

    checksum = sha256 over the sorted per-partition ``url || sha256(text)``
    list (FIXTURES.md §4) — order-insensitive within a partition, so a
    resumed run that re-extracts the same documents into the same partition
    produces the same checksum.
    """
    with_pid = results.withColumn("partition_id", F.spark_partition_id())
    return with_pid.groupBy("partition_id").agg(
        F.count("*").alias("doc_count"),
        F.sum("bytes_in").alias("bytes_in"),
        F.struct(
            (F.sum("parse_us") / 1e6).alias("parse"),
            (F.sum("parse_us") / 1e6).alias("total"),
        ).alias("stage_secs"),
        F.sha2(
            F.concat_ws(
                "",
                F.sort_array(
                    F.collect_list(
                        F.concat_ws("|", F.col("url"),
                                    F.sha2(F.coalesce(F.col("text"), F.lit("")), 256))
                    )
                ),
            ),
            256,
        ).alias("checksum"),
    )


def hash_split(pages: DataFrame, key: str = "url",
               boundaries: tuple = (("train", 0.9), ("val", 0.05),
                                    ("test", 0.05)),
               col_name: str = "split") -> DataFrame:
    """Deterministic, engine-portable train/val/test assignment (N6-adjacent
    pipeline hygiene): bucket = first 4 hex chars of ``md5(key)`` compared
    against cumulative-fraction thresholds rendered as hex strings.

    Pure map-side string ops — no RNG, no shuffle, no seed to lose: the
    same row lands in the same split on any engine, any run, any cluster
    size (lowercase fixed-width hex compares lexicographically == numeric).
    ``deterministic_sample`` below is the single-bucket special case.
    Granularity: 1/65536.
    """
    h = F.substring(F.md5(F.col(key).cast("string")), 1, 4)
    acc = 0.0
    expr = None
    cases = []
    for name, frac in boundaries:
        acc += frac
        cases.append((name, format(min(int(acc * 65536), 65536), "04x")))
    expr = F.when(h < cases[0][1], F.lit(cases[0][0]))
    for name, bound in cases[1:-1]:
        expr = expr.when(h < bound, F.lit(name))
    expr = expr.otherwise(F.lit(cases[-1][0]))
    return pages.withColumn(col_name, expr)


def family_split(df: DataFrame, labels: DataFrame, key: str = "doc_id",
                 node: str = "node", label: str = "label",
                 boundaries: tuple = (("train", 0.9), ("val", 0.05),
                                      ("test", 0.05)),
                 col_name: str = "split") -> DataFrame:
    """Near-dup-leakage-safe train/val/test assignment: hash-split on the
    near-duplicate FAMILY label instead of the document id, so an entire
    dedup cluster lands in ONE split. This closes the hole
    :func:`~ollama_ocr_spark.operators.dedup.split_leakage` audits — a
    row-level :func:`hash_split` scatters near-identical documents across
    train and test, silently inflating eval scores.

    ``labels`` is the (node, label) output of
    :func:`~ollama_ocr_spark.operators.dedup.dedup_components` over the
    LSH/SimHash candidate pairs; documents absent from it (no near-dup
    family) are their own singleton family (``coalesce(label, key)``), so
    the assignment degrades to :func:`hash_split` exactly where no
    leakage risk exists.

    Scale shape: labels cover only documents that appeared in a candidate
    PAIR, so AQE broadcasts the join when that set is small; on a heavily
    duplicated web corpus (where near-dup membership can reach a large
    corpus fraction) it degrades to one equi-join shuffle on the id — the
    unavoidable minimum to attach cluster labels. The split itself is the
    same md5-bucket string compare as :func:`hash_split` (map-side, no
    RNG). Output: input columns + (family, split).
    """
    fam = labels.select(
        F.col(node).alias("__fs_node"), F.col(label).alias("__fs_label")
    )
    out = (
        df.join(fam, df[key] == F.col("__fs_node"), "left")
        .withColumn(
            "family", F.coalesce(F.col("__fs_label"), F.col(key))
        )
        .drop("__fs_node", "__fs_label")
    )
    return hash_split(out, key="family", boundaries=boundaries,
                      col_name=col_name)


def deterministic_sample(pages: DataFrame, key: str = "url",
                         fraction: float = 0.01) -> DataFrame:
    """Reproducible uniform sample: keep rows whose md5(key) 4-hex-char
    bucket falls under ``fraction`` — the scale-safe replacement for
    ``df.sample`` (whose output changes with partitioning/seed plumbing).
    """
    bound = format(min(int(fraction * 65536), 65536), "04x")
    return pages.filter(
        F.substring(F.md5(F.col(key).cast("string")), 1, 4) < bound
    )


def export_shards(df: DataFrame, path: str,
                  part_cols: tuple[str, ...] = ("split", "shard")) -> None:
    """Materialize a sharded training export as hive-partitioned parquet:
    one directory per ``(split, shard)`` cell (``split=train/shard=3/``),
    each cell coalesced from its own rows only — the on-disk layout a
    training launcher consumes (read exactly the split+shards a worker
    owns, partition-pruned at the scan: no other cell's bytes are
    touched).

    ``partitionBy`` writes each cell from whatever tasks hold its rows;
    upstream :func:`shard_plan`'s window already clustered rows by cell,
    so the writer does not reshuffle. Overwrite is dynamic-safe here only
    in the full-rewrite sense (mode=overwrite replaces the whole path) —
    nightly incremental appends should write ``mode("append")`` with new
    shard ids instead.
    """
    df.write.mode("overwrite").partitionBy(*part_cols).parquet(path)


def export_jsonl(df: DataFrame, path: str,
                 part_cols: tuple[str, ...] = ("split",),
                 compression: str = "gzip") -> None:
    """Materialize the training export as hive-partitioned gzip JSON
    Lines — the de-facto interchange format every tokenizer/trainer
    ingests (one JSON object per document, one directory per split).
    The parquet twin (:func:`export_shards`) is the lakehouse layout;
    this is what leaves the lakehouse.

    Spark's native json writer streams per-task (no driver collect, no
    reshuffle beyond what the caller's plan already did); gzip keeps the
    wire/disk ~5x smaller at web-text entropy. Column types serialize as
    their JSON natural forms — keep the projection to scalar/array
    training fields (text, token counts, labels) before calling.
    """
    (df.write.mode("overwrite").partitionBy(*part_cols)
     .option("compression", compression).json(path))


def compaction_plan(files: DataFrame, target_bytes: int,
                    part_cols: tuple[str, ...] = ("part",),
                    order_col: str = "file_id",
                    bytes_col: str = "bytes") -> DataFrame:
    """Small-file compaction planner — the maintenance pass behind
    Iceberg/Delta ``rewrite_data_files``/``OPTIMIZE``: streaming ingestion
    leaves thousands of KB-scale files per table partition, and every
    later scan pays per-file open/footer costs. Assign each file a merge
    GROUP such that groups approach ``target_bytes``: within a table
    partition, files are taken in ``order_col`` order (keeps any
    sort-order clustering adjacent in the rewritten files) and bucketed
    by exclusive running byte total — ``group = floor(cum_before /
    target)``. A file that crosses a boundary stays in the group where it
    started (groups may overshoot by < one file; a file larger than
    ``target_bytes`` gets a group to itself).

    Deterministic, engine-exact (integer window sum, integer division).
    Scale shape: one window per TABLE PARTITION — embarrassingly parallel
    across partitions, and per-partition file counts (10^3-10^5) are
    driver-trivial rows, never data rows. Output: input + (grp).
    """
    w = (
        Window.partitionBy(*part_cols).orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum(bytes_col).over(w), F.lit(0))
    return files.withColumn(
        "grp", F.floor(cum_before / F.lit(int(target_bytes)))
    )


def shard_plan(docs: DataFrame, n_shards: int = 16, key: str = "doc_id",
               text_col: str = "text", n_cells: int = 256,
               within: tuple[str, ...] = ()) -> DataFrame:
    """Deterministic token-BALANCED shard assignment — the export step
    that writes a training corpus as N shards of near-equal token mass
    (webdataset/TFRecord layout), without a global sort or an RNG.

    A plain ``pmod(hash(key), n)`` equalizes document COUNTS, not tokens;
    a global tokens-descending row_number balances perfectly but is one
    reducer at 100 TB. This takes the scale-safe middle: band documents
    by token-count magnitude (band = bit-length of the whitespace token
    count — integer-exact in any engine, unlike float ``log2``), salt
    each band into ``n_cells`` deterministic md5 cells, and round-robin
    documents over shards WITHIN each (band, cell) cell with a per-cell
    phase offset. Documents inside a band differ <2x in size, so the
    round-robin spreads token mass evenly; cells keep every window
    partition small (corpus/(bands*n_cells)) and embarrassingly parallel
    — raise ``n_cells`` with corpus size (it only sharpens parallelism,
    the balance comes from the round-robin).

    Output: input columns + (n_tokens, shard). Same assignment on any
    engine, any partitioning, any run — the window orders by ``key``
    within a cell, and every hash is md5-derived.

    ``within`` names extra grouping columns (e.g. ``("split",)``) so each
    group gets its own independent shard layout — train shards never mix
    with val/test shards.
    """
    tokens = F.size(F.split(F.col(text_col), " "))
    band = F.length(F.bin(F.col("n_tokens"))).cast("int")
    cell = (md5_u32_expr(key, salt="shard|") % n_cells).cast("int")
    w = Window.partitionBy(*within, "__band", "__cell").orderBy(F.col(key))
    return (
        docs.withColumn("n_tokens", tokens)
        .withColumn("__band", band)
        .withColumn("__cell", cell)
        .withColumn(
            "shard",
            F.pmod(
                F.row_number().over(w) - 1 + F.col("__band")
                + F.col("__cell"),
                F.lit(n_shards),
            ).cast("int"),
        )
        .drop("__band", "__cell")
    )


def stratified_sample(df: DataFrame, frac_bp: int = 1000,
                      strata: str = "source",
                      key: str = "doc_id",
                      bucket_hex: int = 2) -> DataFrame:
    """Exact-count deterministic stratified sample: within each stratum,
    rows rank by ``md5('strat|' || key)`` and the first
    ``ceil(n * frac_bp / 10000)`` survive — every stratum is represented
    at the same rate to ONE-ROW granularity. :func:`deterministic_sample`
    / ``quality_sample``'s per-row coin gives each stratum binomial
    wobble (a small stratum can vanish entirely); this guarantees the
    floor. The fraction is integer BASIS POINTS and the keep count is
    exact BIGINT arithmetic ``(n * frac_bp + 9999) div 10000`` — never
    ``ceil(frac * n)``, whose double product can land an ulp above an
    integer and silently keep one extra row (0.1 * 500 is not 50 in
    binary). RNG-free: identical rows on any engine, partitioning, or
    run.

    Output: sampled rows as (key, strata, sample_rank). Scale shape:
    TWO-PASS exact rank with no per-stratum single-task sort. The naive
    form (one window partitioned by stratum) serializes a giant stratum
    into one task; instead rows bucket by the first ``bucket_hex`` hex
    digits of their md5 — an ORDER-PRESERVING prefix, so sorting by hash
    within a bucket and offsetting by the lower buckets' counts
    reproduces the global per-stratum md5 rank EXACTLY:

    1. per-(stratum, bucket) counts → a ≤ |strata|·16^bucket_hex row
       table whose prefix sums (window over the tiny table only) give
       each bucket's rank offset and each stratum's total;
    2. broadcast-join offsets back; rank within (stratum, bucket) — the
       window partition is now stratum/16^bucket_hex, so a giant
       stratum fans out across the cluster. Raise ``bucket_hex`` to 3
       (4096 buckets) when strata reach billions of rows.

    md5 is uniform, so buckets are balanced; equal hashes land in the
    same bucket, so the ``key`` tiebreak is preserved. Identical output
    (ranks included) to the one-window form — the oracle mirrors the
    single-window SQL.
    """
    h = F.md5(F.concat(F.lit("strat|"), F.col(key).cast("string")))
    hashed = df.select(F.col(key), F.col(strata), h.alias("__h")) \
        .withColumn("__b", F.substring("__h", 1, bucket_hex))
    bc = hashed.groupBy(strata, "__b").agg(F.count("*").alias("__bn"))
    wb = (
        Window.partitionBy(strata).orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.partitionBy(strata)
    pre = bc.select(
        strata, "__b",
        F.coalesce(F.sum("__bn").over(wb), F.lit(0)).alias("__pre"),
        F.sum("__bn").over(wt).alias("__n"),
    )
    w = Window.partitionBy(strata, "__b").orderBy("__h", F.col(key))
    ranked = hashed.join(F.broadcast(pre), [strata, "__b"]).select(
        F.col(key), F.col(strata),
        (F.col("__pre") + F.row_number().over(w)).alias("sample_rank"),
        "__n",
    )
    keep_n = F.expr(f"(__n * {frac_bp} + 9999) div 10000")
    return (
        ranked.filter(F.col("sample_rank") <= keep_n)
        .select(key, strata,
                F.col("sample_rank").cast("int").alias("sample_rank"))
    )


def weighted_sample(df: DataFrame, k: int = 100, key: str = "doc_id",
                    weight_col: str = "n_tokens",
                    salt: str = "wrs|") -> DataFrame:
    """Deterministic weighted sampling WITHOUT an RNG — Efraimidis &
    Spirakis A-ES (IPL 2006): each row draws u ∈ (0,1] from a portable
    hash and keeps priority ``ln(u) / w``; the k LARGEST priorities are
    the sample, which makes inclusion probability proportional to the
    weight (token mass here) and the draw reproducible on any engine,
    any partitioning, any run — the eval-subset / debug-slice primitive
    that a seeded RNG cannot give you across engines.

    Engine parity: u = (md5_u32 + 1) / 2^32 is an exact double (integer
    numerator, power-of-two divisor); ln is NOT correctly rounded across
    engines, so it is 8dp-rounded before the division (the
    unigram_logprob idiom) and the division by an integer weight is then
    IEEE-exact on both. Ties (only possible at equal rounded priority)
    break by key.

    Scale shape: priorities are map-side; the top-k is TakeOrdered —
    no global sort, no shuffle beyond k rows per partition.
    """
    u = (md5_u32_expr(key, salt=salt) + F.lit(1)) / F.lit(4294967296.0)
    priority = F.round(F.log(u), 8) / F.col(weight_col)
    return (
        df.withColumn("priority", priority)
        .orderBy(F.desc("priority"), F.asc(key))
        .limit(k)
    )


def shard_manifest(sharded: DataFrame, key: str = "doc_id",
                   tokens_col: str = "n_tokens",
                   shard_col: str = "shard") -> DataFrame:
    """Integrity manifest for a shard export — per shard: doc count,
    token mass, key range, and an ORDER-FREE content checksum
    ``sum(md5_u32('manifest|' || key))``. Two independently produced
    copies of a shard (a re-run, a second engine, a restored backup)
    compare by 5 numbers instead of row diffs; a silently dropped or
    duplicated document moves both n_docs and checksum, and a swapped
    document moves checksum alone. The checksum is an exact integer sum
    of 32-bit md5 prefixes (``md5_u32_expr``) — commutative, so any
    partitioning/ordering yields the same value on any engine; it
    overflows bigint only past ~2^31 docs PER SHARD.

    Scale shape: one partial-agg shuffle on the shard id; counters only.
    """
    return sharded.groupBy(shard_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(tokens_col).cast("bigint").alias("n_tokens"),
        F.min(F.col(key)).alias("min_key"),
        F.max(F.col(key)).alias("max_key"),
        F.sum(md5_u32_expr(key, salt="manifest|")).alias("checksum"),
    )


def domain_mix(pages: DataFrame, weights: dict[str, float],
               key: str = "url", source_col: str = "source") -> DataFrame:
    """Deterministic per-source downsampling to a target corpus mix — the
    domain-weighting stage of LLM data prep (web 4:1 over forums, code
    upsampled, etc.) expressed as pipeline hygiene, not RNG: each source
    keeps rows whose md5(key) bucket falls under its weight, so the same
    mix reproduces on any engine, any partitioning, any run.

    Unlisted sources keep weight 0.0 (dropped) unless ``weights`` carries
    a ``"*"`` default. Pure map-side filter — no shuffle, no seed; fold
    UPSAMPLING (weight > 1) into downstream epoch repetition instead,
    duplication at rest wastes storage. Granularity 1/65536, same bucket
    arithmetic as :func:`hash_split` / :func:`deterministic_sample`.
    """
    default = weights.get("*", 0.0)
    h = F.substring(F.md5(F.col(key).cast("string")), 1, 4)

    def _cond(frac: float):
        # frac >= 1 keeps everything — a 5-hex bound ("10000") would fail
        # the fixed-width lexicographic compare
        if frac >= 1.0:
            return F.lit(True)
        return h < format(int(frac * 65536), "04x")

    expr = None
    for source, frac in sorted(w for w in weights.items() if w[0] != "*"):
        expr = (
            F.when(F.col(source_col) == source, _cond(frac))
            if expr is None
            else expr.when(F.col(source_col) == source, _cond(frac))
        )
    expr = _cond(default) if expr is None else expr.otherwise(_cond(default))
    return pages.filter(expr)


def recrawl_schedule(pages: DataFrame, key: str = "url", ts: str = "warc_ts",
                     changed_hours: int = 24, stable_hours: int = 168,
                     unknown_hours: int = 72) -> DataFrame:
    """Per-url recrawl scheduling from capture history — the Cho &
    Garcia-Molina change-frequency heuristic collapsed to three buckets:
    a url whose two newest captures differ gets the short interval, a
    confirmed-stable url the long one, and a url captured once the middle
    default (no evidence either way).

    Output: (key, host, n_caps, changed, interval_hours) — one row per
    url, ready to feed :func:`politeness_waves` for the next crawl round.

    Same digest-only shuffle as :func:`crawl_diff`: md5(html) is computed
    map-side in the scan stage, so only (url, host, ts, 32-byte digest)
    crosses the wire; one window shuffle on url. NULL payloads digest as
    NULL; the compare is null-safe. The window breaks timestamp ties on
    digest so two same-instant captures order deterministically — without
    it, `changed` can flip between runs on real data (corpus timestamps
    merely happen to be unique).
    """
    w = Window.partitionBy(key).orderBy(
        F.col(ts).desc(), F.col("__digest").desc_nulls_last())
    newest = (
        pages.select(
            F.col(key), host_expr(key).alias("host"),
            F.col(ts), F.md5(F.col("html")).alias("__digest"),
        )
        .withColumn("__rn", F.row_number().over(w))
        .withColumn("__prev", F.lead("__digest").over(w))
        .withColumn("__n_caps", F.count("*").over(Window.partitionBy(key)))
        .filter(F.col("__rn") == 1)
    )
    recrawled = F.col("__n_caps") > 1
    changed = recrawled & ~F.col("__digest").eqNullSafe(F.col("__prev"))
    return newest.select(
        F.col(key), F.col("host"),
        F.col("__n_caps").cast("int").alias("n_caps"),
        changed.cast("int").alias("changed"),
        F.when(changed, F.lit(changed_hours))
        .when(recrawled, F.lit(stable_hours))
        .otherwise(F.lit(unknown_hours))
        .alias("interval_hours"),
    )


def crawl_budget(pages: DataFrame, total_budget: int = 10000,
                 key: str = "url", ts: str = "warc_ts") -> DataFrame:
    """Per-host fetch-budget allocation for the next crawl round — the
    scheduler step between :func:`recrawl_schedule` (per-url change
    evidence) and :func:`politeness_waves` (per-host pacing): hosts earn
    budget proportional to how many urls they own and how much their
    content churns, so a fixed crawler capacity chases change instead of
    re-fetching static pages.

        churn_pm  = round(1000 * changed_urls / recrawled_urls)  (0 if none)
        weight    = n_urls * (1000 + churn_pm)
        budget    = (total_budget * weight) div Σ weight

    ALL-INTEGER arithmetic (per-mille churn, integer div) so the
    allocation is bit-identical on any engine — no floor-on-double
    boundary risk. Output: (host, n_urls, n_changed, churn_pm, weight,
    budget), one row per host.

    Scale shape: rides recrawl_schedule's single digest-only url window,
    then one tiny per-host aggregate; the 1-row grand total broadcasts.
    """
    per_url = recrawl_schedule(pages, key=key, ts=ts)
    per_host = per_url.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_urls"),
        F.sum("changed").alias("n_changed"),
        F.sum((F.col("n_caps") > 1).cast("int")).alias("n_recrawled"),
    )
    churn_pm = F.when(
        F.col("n_recrawled") > 0,
        F.round(F.col("n_changed") * 1000.0 / F.col("n_recrawled"), 0)
        .cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    weighted = per_host.select(
        "host", "n_urls", "n_changed",
        churn_pm.alias("churn_pm"),
        (F.col("n_urls") * (F.lit(1000) + churn_pm)).alias("weight"),
    )
    totals = weighted.agg(F.sum("weight").alias("total_weight"))
    return (
        weighted.crossJoin(F.broadcast(totals))
        .withColumn(
            "budget",
            F.expr(f"(CAST({int(total_budget)} AS BIGINT) * weight) "
                   "div total_weight"),
        )
        .drop("total_weight")
    )


def group_holdout_split(df: DataFrame, group_col: str = "host",
                        boundaries: tuple = (("train", 0.9), ("val", 0.05),
                                             ("test", 0.05)),
                        col_name: str = "split") -> DataFrame:
    """Leakage-safe train/val/test assignment at GROUP granularity that
    still honors ROW-count fractions: every row of a group lands in the
    same split (near-duplicate pages concentrate within hosts, so a
    url-level :func:`hash_split` leaks eval content into train), and the
    groups are laid out in md5 order with each split taking a contiguous
    run of the cumulative ROW count — so realized row fractions match the
    targets to one-group granularity even under zipf host skew (plain
    md5-of-group bucketing can miss 90/5/5 by the whole head-host mass).

    Scale shape: one groupBy(group) count (map-side partial combine), a
    window cumsum over the DISTINCT-GROUP relation (≪ corpus; the single-
    partition window is over group rows, never data rows), then one
    broadcast join back. Deterministic — no RNG, no seed.
    """
    sizes = df.groupBy(group_col).agg(F.count("*").alias("__n"))
    w = Window.orderBy(F.md5(F.col(group_col).cast("string")))
    total = sizes.agg(F.sum("__n").alias("__total"))
    cum = (
        sizes.withColumn("__before", F.sum("__n").over(w) - F.col("__n"))
        .crossJoin(F.broadcast(total))
        .withColumn("__frac", F.col("__before") / F.col("__total"))
    )
    acc = 0.0
    expr = None
    for name, frac in boundaries[:-1]:
        # round() keeps the cumulative boundary equal to the double a SQL
        # literal parses to (0.9 + 0.05 is 0.9500000000000001 unrounded)
        acc = round(acc + frac, 12)
        cond = F.col("__frac") < acc
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(boundaries[-1][0]) if expr is None
        else expr.otherwise(boundaries[-1][0])
    )
    assign = cum.select(group_col, expr.alias(col_name))
    return df.join(F.broadcast(assign), group_col)


def selection_drift(df: DataFrame, group_col: str = "source",
                    key: str = "doc_id", recrawl_mod: int = 5) -> DataFrame:
    """Selection-bias audit between the full corpus and a selected slice
    (here: the recrawl policy ``key % recrawl_mod == 0``): per-group share
    in each population, the absolute share delta, and the total-variation
    distance ``TVD = sum(|p_full - p_slice|) / 2`` repeated on every row
    as the headline number. A recrawl/sampling policy correlated with the
    grouping (this corpus's %5 slice hits only 4 of 20 sources) shows up
    as TVD near 1; an unbiased policy reads near 0.

    Determinism contract: shares are round(n/total, 8) (IEEE division is
    exact-rounded, identical on both engines); per-group |delta| is
    rounded to 8dp then summed as DECIMAL(18,8) so the TVD total is
    order-free (CLAUDE.md decimal-sum idiom); the final halving happens
    in double (exact) after the decimal sum.

    Scale shape: ONE groupBy over the corpus with a conditional partial
    agg (full and slice counts in the same pass — the slice never scans
    separately), then windows over the ≤|groups| aggregate rows only.
    The single-partition window is over group rows, never data rows
    (same fence as :func:`group_holdout_split`).
    """
    per = df.groupBy(group_col).agg(
        F.count("*").alias("n_full"),
        F.sum(
            F.when(F.col(key) % recrawl_mod == 0, 1).otherwise(0)
        ).alias("n_recrawl"),
    )
    w = Window.partitionBy()
    # An empty slice (sum(n_recrawl)=0) must read as NULL shares, not an
    # ANSI DIVIDE_BY_ZERO — DuckDB's x/0 is NULL, so the oracle already
    # behaves this way; n_full cannot sum to 0 while group rows exist.
    shares = per.select(
        group_col, "n_full", "n_recrawl",
        F.round(F.col("n_full") * F.lit(1.0) / F.sum("n_full").over(w), 8)
        .alias("share_full"),
        F.when(
            F.sum("n_recrawl").over(w) > 0,
            F.round(
                F.col("n_recrawl") * F.lit(1.0)
                / F.sum("n_recrawl").over(w), 8
            ),
        ).alias("share_recrawl"),
    )
    deltas = shares.withColumn(
        "abs_delta",
        F.round(F.abs(F.col("share_full") - F.col("share_recrawl")), 8),
    )
    tvd = F.round(
        F.sum(F.col("abs_delta").cast("decimal(18,8)")).over(w)
        .cast("double") / 2,
        8,
    )
    return deltas.withColumn("tvd", tvd)


def temperature_mix(pages: DataFrame, alpha: float = 0.5,
                    target_frac: float = 0.5, key: str = "url",
                    source_col: str = "source") -> DataFrame:
    """Temperature-scaled source mixing (the multilingual/multi-domain
    alpha-sampling rule: p_s ∝ c_s^alpha flattens the source distribution
    so head domains stop drowning the tail), downsampling each source
    deterministically so the kept corpus totals ``target_frac`` of the
    input with source shares ∝ count^alpha. :func:`domain_mix` is the
    fixed-weight special case; this derives the weights from the data.

    ``alpha`` must be one of {1.0, 0.75, 0.5, 0.25}: those powers compose
    from IEEE-exact ``sqrt``/multiply (correctly-rounded, identical on
    every engine) — general ``pow`` is NOT bit-portable across engines.

    Scale shape: one small groupBy(source) count; per-source weights
    round to 6dp DECIMAL so the cross-source sum is order-insensitive;
    keep-rates quantize to md5-bucket thresholds (granularity 1/65536,
    same arithmetic as :func:`hash_split`); one broadcast join back and a
    map-side filter. Deterministic — same kept set on any engine or
    partitioning. Realized fraction tracks ``target_frac`` up to bucket
    granularity and min(1, ·) clipping of over-asked tail sources.
    """
    powers = {1.0: lambda c: c, 0.75: lambda c: F.sqrt(c) * F.sqrt(F.sqrt(c)),
              0.5: F.sqrt, 0.25: lambda c: F.sqrt(F.sqrt(c))}
    if alpha not in powers:
        raise ValueError(f"alpha must be one of {sorted(powers)}")
    sizes = pages.groupBy(source_col).agg(F.count("*").alias("__c"))
    wdec = sizes.withColumn(
        "__w",
        F.round(powers[alpha](F.col("__c").cast("double")), 6)
        .cast("decimal(28,6)"),
    )
    tot = wdec.agg(
        F.sum("__w").alias("__wsum"), F.sum("__c").alias("__n"))
    rates = (
        wdec.crossJoin(F.broadcast(tot))
        .withColumn(
            "__rate",
            (
                (F.round(F.col("__n") * target_frac).cast("bigint")
                 * (F.col("__w").cast("double")
                    / F.col("__wsum").cast("double")))
                / F.col("__c")
            ),
        )
        .withColumn(
            "__thr",
            F.least(F.floor(F.col("__rate") * 65536).cast("bigint"),
                    F.lit(65536).cast("bigint")),
        )
        .select(source_col, "__thr")
    )
    h = F.substring(F.md5(F.col(key).cast("string")), 1, 4)
    return (
        pages.join(F.broadcast(rates), source_col)
        .filter(
            (F.col("__thr") >= 65536)
            | (h < F.lpad(F.lower(F.hex(F.col("__thr"))), 4, "0"))
        )
        .drop("__thr")
    )


def zorder_key(x, y, bits: int = 16):
    """Morton (Z-order) bit-interleave of two non-negative ints — the
    space-filling-curve clustering key behind Delta/Iceberg ``OPTIMIZE
    ZORDER BY``: sorting by it co-locates rows that are close in BOTH
    dimensions, so min/max file stats prune 2-D predicates (host + time,
    lang + length, ...) instead of only the leading sort column.

    Unrolled ``2*bits`` shift/mask terms — plain bigint arithmetic, stays
    inside whole-stage codegen (no HOF, no UDF).

    Domain: coordinates are expected in ``[0, 2**bits)``. Oversized inputs
    SATURATE to the top cell (``least(v, 2**bits - 1)``) instead of having
    their high bits silently dropped — dropping bits aliases far-apart
    coordinates onto distant interleaved cells (quietly destroying the
    locality the curve exists for), while saturation keeps the key
    monotone: everything past the domain edge clusters in the edge cell.
    Widen ``bits`` if real coordinates exceed the domain.
    """
    lim = F.lit((1 << bits) - 1)
    x, y = F.least(x, lim), F.least(y, lim)
    expr = None
    for i in range(bits):
        tx = F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i)
        ty = F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        term = tx + ty
        expr = term if expr is None else expr + term
    return expr


def cluster_by_zorder(df: DataFrame, x_col: str, y_col: str,
                      num_partitions: int, bits: int = 16) -> DataFrame:
    """Range-partition + sort by the Z-order key of (x, y) — the write-
    side layout pass before a parquet/Iceberg sink. Each output file then
    covers a compact square-ish region of the (x, y) domain, so scans
    filtered on EITHER dimension skip most files via row-group min/max
    stats; a plain ``sortWithinPartitions(x)`` layout prunes only x.

    One range shuffle (sampled boundaries — even output files regardless
    of key skew); the sort is per-partition, never global.
    """
    key = zorder_key(
        F.col(x_col).cast("bigint"), F.col(y_col).cast("bigint"), bits
    ).alias("__zkey")
    return (
        df.withColumn("__zkey", key)
        .repartitionByRange(num_partitions, "__zkey")
        .sortWithinPartitions("__zkey")
    )


def frontier_verdicts(urls: DataFrame, rules: DataFrame,
                      blocked_hosts: DataFrame,
                      blocked_pattern: str | None = None,
                      url_col: str = "url") -> DataFrame:
    """The verdict stage of :func:`fetch_frontier` (hygiene → robots →
    host blocklist), WITHOUT the politeness wave: (url, host, verdict).
    Factored out so the streaming gate
    (``streaming.incremental.incremental_frontier``) applies the exact
    same policy chain per micro-batch — waves need a global per-host
    ordering and are assigned at fetch-scheduling time over the
    accumulated fetchable set, not incrementally."""
    gated = url_filter(
        urls.select(F.col(url_col).alias("url")).distinct(), "url",
        blocked_pattern=blocked_pattern,
    )
    rb = robots_filter(gated.select("url"), rules)
    bh = blocked_hosts.select(F.col("host").alias("__bh")).distinct()
    verdict = (
        F.when(F.col("reason") != "ok",
               F.concat(F.lit("filtered:"), F.col("reason")))
        .when(~F.col("allowed"), F.lit("robots"))
        .when(F.col("__bh").isNotNull(), F.lit("blocked_host"))
        .otherwise(F.lit("fetch"))
    )
    return (
        gated.join(rb, "url")
        .join(F.broadcast(bh), F.col("host") == F.col("__bh"), "left")
        .select("url", "host", verdict.alias("verdict"))
    )


def fetch_frontier(urls: DataFrame, rules: DataFrame,
                   blocked_hosts: DataFrame,
                   blocked_pattern: str | None = None,
                   per_host_burst: int = 16,
                   url_col: str = "url") -> DataFrame:
    """The next-crawl-round composite — the frontier-side twin of the
    curate→chunk→pack export composites: every candidate URL gets ONE
    first-failing verdict through the full pre-fetch policy chain, and
    survivors get their politeness wave:

        hygiene (:func:`url_filter`: binary ext / pattern / params / len)
        → robots (:func:`robots_filter` longest-prefix disallow)
        → host blocklist (e.g. ``domain_quality`` mining output)
        → ``fetch`` + wave (:func:`politeness_waves` burst schedule)

    Output: (url, host, verdict, wave) with verdict in
    ``filtered:<reason> | robots | blocked_host | fetch`` and wave = -1
    for everything not fetched. This is the table a fetcher fleet
    actually consumes: iterate waves, skip everything else.

    Scale shape: hygiene is pure map-side codegen on the scan; robots
    rules and the mined blocklist broadcast (both are |hosts|-scale by
    nature); one (url, host, path) shuffle for the robots verdict, one
    (host)-window over surviving urls for waves, one url-key join back —
    candidate URLs never carry payloads through any of it.
    """
    out = frontier_verdicts(urls, rules, blocked_hosts,
                            blocked_pattern=blocked_pattern,
                            url_col=url_col)
    waves = politeness_waves(
        out.filter(F.col("verdict") == "fetch").select("url"),
        per_host_burst,
    )
    return (
        out.join(waves.select("url", "wave"), "url", "left")
        .select(
            "url", "host", "verdict",
            F.coalesce(F.col("wave"), F.lit(-1)).cast("int").alias("wave"),
        )
    )


def wave_makespan(urls: DataFrame, burst_sizes: tuple[int, ...] = (8, 16, 32),
                  url_col: str = "url") -> DataFrame:
    """Politeness capacity planning — what burst size actually costs: for
    each candidate ``per_host_burst``, simulate :func:`politeness_waves`
    against a deterministic per-host fetch latency and report the crawl
    round's makespan. Wave w's duration is its slowest host
    (``min(burst, remaining) * latency``, hosts fetch sequentially
    within a wave out of politeness); the makespan is the sum over
    waves, and the biggest host alone sets the wave COUNT — the report
    shows exactly when shrinking bursts stops buying politeness and
    starts costing wall-clock.

    Latency is a pure function of the host name
    (``md5_u32(host) % 200 + 50`` ms — the engine-portable uniform hash
    idiom), so the simulation is deterministic on any engine or cluster.
    All integer arithmetic: wave counts via ``(n + b - 1) div b``, never
    float ceil. Output: (burst, n_waves, makespan_ms).

    Scale shape: one host-count aggregate, then per burst size a
    |hosts| x waves explode (waves ≤ max-host-size / burst — host-table
    scale, never urls) and a per-wave max + one sum.
    """
    counts = (
        urls.select(host_expr(url_col).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n"))
    )
    hc = counts.select(
        "host", "n",
        (md5_u32_expr("host") % 200 + 50).alias("lat"),
    )
    outs = []
    for b in burst_sizes:
        nwaves = F.expr(f"int((n + {b} - 1) div {b})")
        waves = hc.select(
            "n", "lat",
            F.explode(F.sequence(F.lit(0), nwaves - 1)).alias("w"),
        )
        dur = F.least(F.lit(b).cast("bigint"),
                      F.col("n") - F.col("w") * b) * F.col("lat")
        per_wave = (
            waves.select("w", dur.alias("dur"))
            .groupBy("w")
            .agg(F.max("dur").alias("wdur"))
        )
        outs.append(
            per_wave.agg(
                F.count("*").alias("n_waves"),
                F.sum("wdur").alias("makespan_ms"),
            ).select(F.lit(b).alias("burst"), "n_waves", "makespan_ms")
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def wave_makespan_mixture(urls: DataFrame,
                          burst_sizes: tuple[int, ...] = (8, 16, 32),
                          url_col: str = "url") -> DataFrame:
    """:func:`wave_makespan` with a LATENCY MIXTURE and straggler
    attribution — the readout that says which host POPULATION owns the
    wall-clock, not just how long the crawl round takes. Hosts draw a
    deterministic latency class from a salted portable hash
    (``md5_u32('lcls|'+host) % 10``: <6 → 'cdn' 30+[0,40)ms, <9 →
    'origin' 120+[0,160)ms, else 'tarpit' 1500+[0,1000)ms; the jitter is
    a second salted hash — independent decisions stay independent), so
    the simulation is RNG-free and engine-exact like the uniform
    original.

    Each wave is OWNED by its slowest host (ties impossible — one row
    per host per wave; equal durations break to the smaller host name).
    Output per (burst, lat_class): waves owned, owned milliseconds, the
    burst's total makespan, and the class's share of it — at burst 32 a
    single tarpit class owning ~all the makespan says 'shrink bursts
    for the tail, not the fleet'.

    Scale shape: identical to wave_makespan (host-table explodes, never
    urls); the argmax per wave is one struct-min over the wave group.
    """
    counts = (
        urls.select(host_expr(url_col).alias("host"))
        .groupBy("host")
        .agg(F.count("*").alias("n"))
    )
    bucket = md5_u32_expr("host", salt="lcls|") % 10
    jit = md5_u32_expr("host", salt="ljit|")
    hc = counts.select(
        "host", "n",
        F.when(bucket < 6, F.lit("cdn"))
        .when(bucket < 9, F.lit("origin"))
        .otherwise(F.lit("tarpit")).alias("lat_class"),
        F.when(bucket < 6, F.lit(30) + jit % 40)
        .when(bucket < 9, F.lit(120) + jit % 160)
        .otherwise(F.lit(1500) + jit % 1000).alias("lat"),
    )
    outs = []
    for b in burst_sizes:
        nwaves = F.expr(f"int((n + {b} - 1) div {b})")
        waves = hc.select(
            "host", "n", "lat_class", "lat",
            F.explode(F.sequence(F.lit(0), nwaves - 1)).alias("w"),
        )
        dur = F.least(F.lit(b).cast("bigint"),
                      F.col("n") - F.col("w") * b) * F.col("lat")
        # wave owner = argmax by (dur desc, host asc) == struct-min of
        # (-dur, host); host is unique within a wave so the class rides
        # along unambiguously
        per_wave = (
            waves.select("w", dur.alias("dur"), "host", "lat_class")
            .groupBy("w")
            .agg(F.min(F.struct(
                (-F.col("dur")).alias("nd"),
                F.col("host").alias("h"),
                F.col("lat_class").alias("c"),
            )).alias("__top"))
        )
        owned = per_wave.select(
            (-F.col("__top.nd")).alias("wdur"),
            F.col("__top.c").alias("lat_class"),
        )
        per_class = owned.groupBy("lat_class").agg(
            F.count("*").alias("n_waves_owned"),
            F.sum("wdur").alias("owned_ms"),
        )
        tot = owned.agg(F.sum("wdur").alias("makespan_ms"))
        outs.append(
            per_class.crossJoin(F.broadcast(tot)).select(
                F.lit(b).alias("burst"), "lat_class",
                "n_waves_owned", "owned_ms", "makespan_ms",
                F.round(
                    F.col("owned_ms") * F.lit(1.0) / F.col("makespan_ms"),
                    4,
                ).alias("share"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def robots_rule_stats(urls: DataFrame, rules: DataFrame,
                      url_col: str = "url") -> DataFrame:
    """Disallow-rule utilization audit: per (host, rule), how many urls
    the rule actually blocks — each blocked url attributed to its
    LONGEST matching rule (:func:`robots_filter` semantics), so a rule
    with ``n_blocked = 0`` is DEAD: either nothing matches it or a
    more-specific rule shadows it everywhere. The report a crawl
    operator reads before trimming a grown rule table (and the shadowing
    it exposes is invisible in the per-url verdict view).

    Output: (host, rule, n_blocked, fires). Scale shape: rides
    robots_filter's one (url, host, path) shuffle down to a
    |rules|-sized left join — rules broadcast by nature.
    """
    rb = robots_filter(urls, rules, url_col)
    blocked = (
        rb.filter(~F.col("allowed"))
        .groupBy("host", "rule")
        .agg(F.count("*").alias("__n"))
    )
    return (
        rules.select("host", F.col("disallow").alias("rule"))
        .join(blocked, ["host", "rule"], "left")
        .select(
            "host", "rule",
            F.coalesce(F.col("__n"), F.lit(0)).cast("bigint")
            .alias("n_blocked"),
            (F.coalesce(F.col("__n"), F.lit(0)) > 0).alias("fires"),
        )
    )
