"""Host-level web link graph: outlink extraction + weighted PageRank.

The big crawl pipelines (Common Crawl's webgraph releases, any quality
prior built on host authority) need exactly this pair of operators next to
extraction: pull the outlinks out of the raw HTML while it is already in
memory for text extraction, aggregate them to a host→host edge list, and
run a fixed-iteration PageRank over that (much smaller) graph. Reference
repo analog: none — the single-node reference never sees more than one
document at a time; this is part of the §2.6-style "operators a 100 TB run
needs" surface.

Scale shape:
- `outlink_edges` is one scan over the pages table: utf-8 cast + ONE
  `regexp_extract_all` per page (JVM regex, whole-stage codegen — no
  Python), a map-side explode, then a single shuffle on (src_host,
  dst_host) with partial aggregation. Payload bytes never shuffle.
- the host graph is ~1e6-1e7 rows at 100 TB (vs 1e12 pages), so the
  PageRank loop joins rank rows against an edge list that fits the
  AQE broadcast threshold for all but the very largest graphs; each
  iteration is lineage-truncated with `localCheckpoint` (same pattern as
  `dedup.dedup_components`).

Round loops: `damped_rank` is the one damped power method, shared by
`host_pagerank`, `host_trustrank` (both over `_host_fractions`) and
`reports.event_stationary`; each passes its own teleport expression.
`host_hits` has one local half-step. `host_communities`, `host_kcore`
and `host_seed_distance` keep their own loops: their rounds share only
the `localCheckpoint` cut, so a generic message-passing helper would
take the whole round body from each caller.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .maintenance import host_expr

# cheap native HTML sniff: real text/html captures in this corpus (and the
# overwhelming majority of web ones) open with a doctype or <html. The
# binary payload kinds (%PDF, JPEG/PNG magic, junk) fail this prefix test
# before the regex ever runs. A production variant would reuse the router's
# magic-byte sniff column.
_HTML_PREFIX_RE = r"(?i)^\s*(<!doctype\s+html|<html)"


def _dst_host(href, src_host):
    """Resolve an href column to a destination host (absolute http(s) /
    protocol-relative / site-relative; everything else NULL)."""
    return (
        F.when(
            href.rlike(r"(?i)^https?://"),
            F.lower(F.regexp_extract(href, r"(?i)^https?://([^/:?#]+)", 1)),
        )
        .when(
            href.startswith("//"),
            F.lower(F.regexp_extract(href, r"^//([^/:?#]+)", 1)),
        )
        .when(href.startswith("/"), src_host)
    )


def outlink_edges(pages: DataFrame, drop_self: bool = False) -> DataFrame:
    """(src_host, dst_host, n_links) host-level edge list from raw html.

    href resolution (all native column ops, mirrored in the
    ``host_link_graph`` oracle):
    - absolute http(s) links → their own host (lowercased),
    - protocol-relative ``//host/...`` → that host,
    - site-relative ``/path`` → the source host,
    - anything else (mailto:, javascript:, fragments) is dropped.

    Feed it latest-capture pages (``maintenance.latest_capture``) so
    re-crawled urls do not double-count their edges.
    """
    html_s = F.col("html").cast("string")
    hrefs = F.regexp_extract_all(html_s, F.lit(r'href="([^"]*)"'), 1)
    exploded = (
        pages.filter(html_s.rlike(_HTML_PREFIX_RE))
        .select(host_expr().alias("src_host"), F.explode(hrefs).alias("href"))
    )
    dst = _dst_host(F.col("href"), F.col("src_host"))
    edges = (
        exploded.select("src_host", dst.alias("dst_host"))
        .filter(F.col("dst_host").isNotNull() & (F.col("dst_host") != ""))
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").alias("n_links"))
    )
    if drop_self:
        edges = edges.filter(F.col("src_host") != F.col("dst_host"))
    return edges


def damped_rank(wf: DataFrame, nodes: DataFrame, key: str, src: str,
                dst: str, tele: Column, init: Column, iterations: int,
                damping: float) -> DataFrame:
    """Fixed-iteration damped power method over a weighted edge list —
    the one round loop behind :func:`host_pagerank`,
    :func:`host_trustrank` and ``reports.event_stationary``:

        r_0(v) = init(v);  r_{i+1}(v) = tele(v) + Σ_{u→v} r_i(u) * wfrac * d

    ``wf`` holds (src, dst, wfrac) and ``nodes`` holds ``key`` plus any
    column ``tele``/``init`` read. A node with no incoming edge keeps
    only its teleport term; leaked (dangling) mass is not redistributed.
    The caller owns the teleport expression, so each operator keeps its
    own FP expression tree. Every round is one join + partial agg over
    the node table, lineage cut by ``localCheckpoint``. Output: (key,
    rank), unrounded.
    """
    ranks = nodes.select(key, init.alias("rank"))
    for _ in range(iterations):
        incoming = (
            wf.join(ranks, wf[src] == ranks[key])
            .select(
                F.col(dst).alias(key),
                (F.col("rank") * F.col("wfrac") * F.lit(damping)).alias("t"),
            )
            .groupBy(key)
            .agg(F.sum("t").alias("s"))
        )
        ranks = (
            nodes.join(incoming, key, "left")
            .select(
                key, (tele + F.coalesce(F.col("s"), F.lit(0.0))).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def _host_fractions(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(hosts, wf) for the damped ranks: self-edges dropped, every host
    that keeps an edge, and each edge's share ``wfrac`` of its source's
    out-weight. Both are host-table sized and checkpointed."""
    ce = edges.filter(F.col("src_host") != F.col("dst_host"))
    hosts = (
        ce.select(F.col("src_host").alias("host"))
        .union(ce.select(F.col("dst_host").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    out_w = ce.groupBy("src_host").agg(F.sum("n_links").alias("out_w"))
    wf = (
        ce.join(out_w, "src_host")
        .select(
            "src_host", "dst_host",
            (F.col("n_links") / F.col("out_w")).alias("wfrac"),
        )
        .localCheckpoint(eager=True)
    )
    return hosts, wf


def host_pagerank(edges: DataFrame, iterations: int = 3,
                  damping: float = 0.85) -> DataFrame:
    """Weighted host PageRank over an (src_host, dst_host, n_links) edge
    list: fixed-iteration power method (:func:`damped_rank`)

        r_{i+1}(h) = (1-d)/N + d * Σ_incoming r_i(src) * w / out_w(src)

    Self-edges are dropped; dangling hosts keep only the teleport term
    (leaked mass is NOT redistributed — the standard simplification, and
    the oracle mirrors it exactly). Output rank is rounded to 6dp; the
    only engine-order-sensitive op is the small per-host incoming sum
    (in-degree-bounded), which 6dp rounding absorbs.

    The scalar `count` action runs on the tiny host table, not the
    corpus.
    """
    hosts, wf = _host_fractions(edges)
    n = hosts.count()
    if n == 0:
        return hosts.withColumn("rank", F.lit(0.0))
    ranks = damped_rank(
        wf, hosts, "host", "src_host", "dst_host",
        F.lit((1.0 - damping) / n), F.lit(1.0 / n), iterations, damping,
    )
    return ranks.select("host", F.round(F.col("rank"), 6).alias("rank"))


def host_trustrank(edges: DataFrame, seeds: list[str],
                   iterations: int = 3, damping: float = 0.85) -> DataFrame:
    """Seeded TrustRank (Gyöngyi et al. 2004) over the host link graph —
    the spam-demotion companion to :func:`host_pagerank`: trust flows
    ONLY from a hand-vetted seed whitelist, so link-farm hosts that
    inflate raw PageRank (they cite each other, nobody trusted cites
    them) end near zero:

        t_{i+1}(h) = (1-d) * seed(h) + d * Σ_incoming t_i(src) * wfrac

    with ``seed(h) = 1/|S|`` on seed hosts, 0 elsewhere, ``t_0 = seed``.
    The crawl-frontier use: prioritize/keep hosts by trust, not raw
    in-link mass.

    Same edge weights and round loop (:func:`damped_rank`) as
    :func:`host_pagerank`: fixed iterations over the HOST table (never
    the corpus), dangling mass not redistributed, 6dp rounding absorbs
    the small in-degree-bounded sum's engine order. Output: (host, trust).
    """
    hosts, wf = _host_fractions(edges)
    in_seed = F.col("host").isin(list(seeds))
    ns = hosts.filter(in_seed).count()
    if ns == 0:
        return hosts.select("host", F.lit(0.0).alias("trust"))
    seedv = hosts.select(
        "host",
        F.when(in_seed, F.lit(1.0 / ns)).otherwise(F.lit(0.0)).alias("seed"),
    ).localCheckpoint(eager=True)
    trust = damped_rank(
        wf, seedv, "host", "src_host", "dst_host",
        F.lit(1.0 - damping) * F.col("seed"), F.col("seed"),
        iterations, damping,
    )
    return trust.select("host", F.round(F.col("rank"), 6).alias("trust"))


def host_seed_distance(edges: DataFrame, seeds: list[str],
                       max_hops: int = 4) -> DataFrame:
    """BFS hop distance from a seed whitelist over the directed host
    graph — the crawl-depth ledger behind frontier budgeting: trust
    decays with hops (the TrustRank intuition in integer form), crawl
    policies cap "discovery depth past the vetted seeds", and a host
    that is unreachable within ``max_hops`` is exactly the one a
    seed-anchored crawl never fetches. Complements
    :func:`host_trustrank` (continuous trust mass) with the discrete
    distance the policy knob actually speaks. Reference analog: none
    (crawl-analytics surface).

    Semantics: hops(seed) = 0; one relaxation round per hop,
    hops_i(h) = min(hops_{i-1}(h), min over in-edges src→h of
    hops_{i-1}(src) + 1); hosts not reached within ``max_hops`` stay
    NULL. Integer arithmetic end to end — no FP parity concerns — and
    min() ignoring NULLs is the only aggregate, identical on both
    engines; the oracle unrolls the fixed rounds (the host_pagerank
    idiom).

    Scale shape: the loop runs over the HOST table (never the corpus),
    one union + min-agg shuffle per hop, localCheckpoint per round to
    truncate the iterative lineage. Self-loops are excluded, matching
    the PageRank/TrustRank edge set.

    Output: (host, hops) — hops INT, NULL = unreached within max_hops.
    """
    ce = (
        edges.filter(F.col("src_host") != F.col("dst_host"))
        .select("src_host", "dst_host")
        .distinct()
        .localCheckpoint(eager=True)
    )
    hosts = (
        ce.select(F.col("src_host").alias("host"))
        .union(ce.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    dist = hosts.select(
        "host",
        F.when(F.col("host").isin(list(seeds)), F.lit(0))
        .otherwise(F.lit(None))
        .cast("int")
        .alias("hops"),
    ).localCheckpoint(eager=True)
    for _ in range(max_hops):
        step = ce.join(dist, ce.src_host == dist.host).select(
            F.col("dst_host").alias("host"),
            (F.col("hops") + F.lit(1)).alias("cand"),
        )
        dist = (
            dist.select("host", F.col("hops").alias("cand"))
            .unionByName(step)
            .groupBy("host")
            .agg(F.min("cand").cast("int").alias("hops"))
            .localCheckpoint(eager=True)
        )
    return dist


def host_communities(edges: DataFrame, iterations: int = 4,
                     src: str = "src_host", dst: str = "dst_host",
                     weight: str = "n_links") -> DataFrame:
    """Weighted label propagation (Raghavan et al. 2007) over the host
    link graph → (host, community) — the mirror/link-farm localizer the
    triangle census (:func:`graph_triangles`) motivates but cannot
    deliver: a farm's hosts vote each other into ONE community id that a
    per-community quality report can then condemn as a unit.

    Two determinism fixes make distributed LPA reproducible (classic LPA
    is async with random visit order):
    - FIXED iteration count — no convergence test, so the oracle can
      unroll the exact rounds (the host_pagerank idiom);
    - SEMI-SYNCHRONOUS parity schedule — only hosts whose portable hash
      parity (``md5_u32(host) % 2``) matches the round number update in
      that round. Fully synchronous LPA two-colors dense graphs and
      oscillates between two labelings forever (measured on this corpus:
      the 2-community split keeps swapping members every round); the
      parity schedule is the standard RNG-free oscillation breaker.

    A host adopts the label with the largest BIGINT sum of incident
    symmetric edge weight (both directions summed; self-links dropped —
    a self-vote freezes every host into a singleton on chrome-heavy
    corpora where self-link mass dominates). Ties break to the
    lexicographically smallest label; both rules are engine-exact.

    Scale shape: every round is one edges⋈labels shuffle join + one
    (host, label) partial agg + one argmax over the HOST table — the
    corpus is never touched, lineage is localCheckpoint-truncated per
    round (the dedup_components shape). Edge-less hosts never enter the
    vote and are absent from the output (they are their own singleton
    communities by definition); callers joining a host dimension should
    coalesce(community, host).
    """
    from ollama_ocr_spark.operators.maintenance import md5_u32_expr

    ce = edges.filter(F.col(src) != F.col(dst)).select(
        F.col(src).alias("a"), F.col(dst).alias("b"),
        F.col(weight).alias("w"),
    )
    sym = (
        ce.union(ce.select(F.col("b").alias("a"), F.col("a").alias("b"),
                           "w"))
        .groupBy("a", "b").agg(F.sum("w").alias("w"))
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("host")).distinct()
        .select(
            "host",
            F.col("host").alias("community"),
            (md5_u32_expr("host") % 2).alias("__par"),
        )
        .localCheckpoint(eager=True)
    )
    for r in range(iterations):
        votes = (
            sym.join(
                labels.select(F.col("host").alias("b"),
                              F.col("community").alias("nl")), "b")
            .groupBy("a", "nl").agg(F.sum("w").alias("vw"))
        )
        # argmax by (weight desc, label asc) == min of (-weight, label)
        best = (
            votes.groupBy("a")
            .agg(F.min(F.struct((-F.col("vw")).alias("nw"),
                                F.col("nl").alias("l"))).alias("__b"))
            .select(F.col("a").alias("host"), F.col("__b.l").alias("__new"))
        )
        labels = (
            labels.join(best, "host", "left")
            .select(
                "host",
                F.when(
                    (F.col("__par") == F.lit(r % 2))
                    & F.col("__new").isNotNull(),
                    F.col("__new"),
                ).otherwise(F.col("community")).alias("community"),
                "__par",
            )
            .localCheckpoint(eager=True)
        )
    return labels.select("host", "community")


def community_quarantine(labels: DataFrame, host_quality: DataFrame,
                         min_comm_docs: int = 20,
                         max_rate: float = 0.85,
                         min_host_docs: int = 5) -> DataFrame:
    """Evidence-pooled quality verdicts — what :func:`host_communities`
    labels are FOR: a host is judged on its COMMUNITY's pooled document
    quality when the community carries enough evidence
    (``min_comm_docs``), and only falls back to its own thin per-host
    rate (the ``domain_quality`` rule) when it doesn't. Pooling cuts
    both ways: a link farm whose individual hosts are each too small to
    condemn gets quarantined as a unit, and an honest tail host whose
    5-doc sample happened to look bad is EXONERATED by its community's
    record — the thin-evidence false-block the per-host rule can't
    avoid.

    Inputs: ``labels (host, community)`` (edge-less hosts may be absent
    — they fall back to their own host as a singleton community, per the
    host_communities contract) and ``host_quality (host, n_docs,
    n_ok)``. Verdicts compare RAW ratios (engine-exact rationals, the
    domain_quality idiom); displayed rates are 4dp-rounded.

    Output: (host, community, n_docs, n_ok, host_rate, comm_n_docs,
    comm_n_ok, comm_rate, verdict_basis, quarantined). Scale shape: one
    host-table left join + one community rollup + one host-table join
    back — nothing corpus-sized moves.
    """
    j = host_quality.join(labels, "host", "left").withColumn(
        "community", F.coalesce(F.col("community"), F.col("host"))
    )
    comm = j.groupBy("community").agg(
        F.sum("n_docs").alias("comm_n_docs"),
        F.sum("n_ok").alias("comm_n_ok"),
    )
    out = j.join(comm, "community")
    host_bad = (
        (F.col("n_docs") >= min_host_docs)
        & (F.col("n_ok") * F.lit(1.0) / F.col("n_docs") < max_rate)
    )
    comm_bad = (
        F.col("comm_n_ok") * F.lit(1.0) / F.col("comm_n_docs") < max_rate
    )
    pooled = F.col("comm_n_docs") >= min_comm_docs
    return out.select(
        "host", "community", "n_docs", "n_ok",
        F.round(F.col("n_ok") * F.lit(1.0) / F.col("n_docs"), 4)
        .alias("host_rate"),
        "comm_n_docs", "comm_n_ok",
        F.round(
            F.col("comm_n_ok") * F.lit(1.0) / F.col("comm_n_docs"), 4
        ).alias("comm_rate"),
        F.when(pooled, F.lit("community")).otherwise(F.lit("host"))
        .alias("verdict_basis"),
        F.when(pooled, comm_bad).otherwise(host_bad).alias("quarantined"),
    )


def community_budget(quarantine: DataFrame, host_urls: DataFrame,
                     total_budget: int = 10000) -> DataFrame:
    """Fetch-budget reallocation across communities under the
    :func:`community_quarantine` gate — the action the verdict feeds: a
    quarantined community's weight is ZEROED and its share flows
    pro-rata to clean communities, so crawler capacity stops subsidizing
    link farms the moment the verdict lands. Weight = community url
    count (clean) or 0 (quarantined); ``budget = (total * weight) div
    Σweight`` — all-integer (the crawl_budget idiom), bit-identical on
    any engine.

    Inputs: quarantine = community_quarantine output (host, community,
    quarantined — identical within a pooled community by construction);
    host_urls (host, n_urls) — hosts absent from it own 0 urls. Output:
    (community, n_hosts, n_urls, quarantined, weight, budget). Scale
    shape: host-table joins + a |communities| rollup; the 1-row grand
    total broadcasts.
    """
    j = (
        quarantine.select("host", "community", "quarantined")
        .join(host_urls, "host", "left")
        .withColumn("n_urls", F.coalesce(F.col("n_urls"), F.lit(0)))
    )
    per = j.groupBy("community").agg(
        F.count("*").alias("n_hosts"),
        F.sum("n_urls").cast("bigint").alias("n_urls"),
        (F.max(F.col("quarantined").cast("int")) == 1).alias("quarantined"),
    )
    weighted = per.withColumn(
        "weight",
        F.when(F.col("quarantined"), F.lit(0).cast("bigint"))
        .otherwise(F.col("n_urls")),
    )
    tot = weighted.agg(F.sum("weight").alias("__tw"))
    return weighted.crossJoin(F.broadcast(tot)).select(
        "community", "n_hosts", "n_urls", "quarantined", "weight",
        F.when(
            F.col("__tw") > 0,
            F.expr(f"({total_budget} * weight) div __tw"),
        ).otherwise(F.lit(0).cast("bigint")).alias("budget"),
    )


def anchor_text_stats(pages: DataFrame) -> DataFrame:
    """(dst_host, anchor, n_links): inbound anchor-text counts per target
    host — the classic target-description signal (inbound anchor text
    labels the page it points AT, powering search ranking features and
    weak-supervision topic labels for training corpora).

    Same scan shape as :func:`outlink_edges`: one JVM-regex pass pulls the
    whole ``<a href="...">text</a>`` snippets while the html is already in
    memory, a map-side explode splits them, and the only shuffle carries
    tiny (dst_host, anchor) pairs — payload bytes never move. Anchor text
    is lowercased with whitespace collapsed; nested-markup anchors (an
    ``<a>`` wrapping other tags) are skipped by the ``[^<]*`` body — the
    simple-anchor overwhelming majority is the signal this feature needs.

    Feed it latest-capture pages so re-crawls do not double-count.
    """
    html_s = F.col("html").cast("string")
    snips = F.regexp_extract_all(
        html_s, F.lit(r'<a href="[^"]*"[^>]*>[^<]+</a>'), 0
    )
    exploded = (
        pages.filter(html_s.rlike(_HTML_PREFIX_RE))
        .select(host_expr().alias("src_host"), F.explode(snips).alias("snip"))
        .select(
            "src_host",
            F.regexp_extract(F.col("snip"), r'href="([^"]*)"', 1).alias("href"),
            F.lower(
                F.trim(
                    F.regexp_replace(
                        F.regexp_extract(F.col("snip"), r">([^<]+)</a>$", 1),
                        r"\s+", " ",
                    )
                )
            ).alias("anchor"),
        )
    )
    return (
        exploded.select(
            _dst_host(F.col("href"), F.col("src_host")).alias("dst_host"),
            "anchor",
        )
        .filter(
            F.col("dst_host").isNotNull() & (F.col("dst_host") != "")
            & (F.col("anchor") != "")
        )
        .groupBy("dst_host", "anchor")
        .agg(F.count("*").alias("n_links"))
    )


def host_degree_stats(edges: DataFrame, drop_self: bool = True) -> DataFrame:
    """Per-host degree profile over an (src_host, dst_host, n_links) edge
    list: distinct out/in neighbor counts and weighted out/in link sums.

    The first report a crawl operator reads off a link graph — hubs
    (out_deg ≫ in_deg), authorities (in_deg ≫ out_deg), and orphan hosts
    (in_deg = 0, crawl-seed candidates) all fall out of one table. Link
    farms show up as high mutual degree with low trustrank
    (:func:`host_trustrank`) — join the two on host.

    Self-loops (site-internal chrome links) are excluded by default,
    matching the PageRank/TrustRank edge set (``ce`` in their oracles).

    Scale shape: two partial-agg shuffles over the HOST-level edge list
    (already tiny relative to the corpus — ``outlink_edges`` collapsed
    pages to host pairs), then a host-key full outer join; no corpus
    re-scan. Output rows = |hosts|.
    """
    e = edges.filter(F.col("src_host") != F.col("dst_host")) if drop_self else edges
    out = e.groupBy(F.col("src_host").alias("host")).agg(
        F.count("*").alias("out_deg"),
        F.sum("n_links").alias("out_links"),
    )
    inn = e.groupBy(F.col("dst_host").alias("host")).agg(
        F.count("*").alias("in_deg"),
        F.sum("n_links").alias("in_links"),
    )
    return (
        out.join(inn, "host", "full_outer")
        .select(
            "host",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("out_links", F.lit(0)).alias("out_links"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("in_links", F.lit(0)).alias("in_links"),
        )
    )


def host_reciprocity(edges: DataFrame) -> DataFrame:
    """Per-host edge reciprocity over the directed host graph: how many
    of a host's distinct out-neighbors link back. Organic communities
    reciprocate heavily; scraper/mirror hosts have near-zero reciprocity
    (they link out to sources that never acknowledge them), and link
    farms show reciprocity ~1 with low trustrank — the third axis next
    to :func:`host_degree_stats` (volume) and :func:`graph_triangles`
    (closure). Reference analog: none (crawl-analytics surface).

    Output: (host, out_deg, in_deg, mutual, recip_rate) where mutual =
    |{n : host→n AND n→host}| and recip_rate = mutual/out_deg rounded
    4dp (NULL for hosts with no outlinks, matching the oracle's CASE —
    the ANSI divide-guard idiom). Self-loops are excluded, matching the
    PageRank/TrustRank edge set.

    Scale shape: one reversed-pair self-join plus the degree aggregate,
    all on the host-level edge list (tiny vs the corpus); the join key
    is the (src, dst) pair so hub skew spreads across its neighbor set
    rather than concentrating on one key. The edge list is
    localCheckpoint-ed first (the host_pagerank/host_communities
    pattern): four plan branches consume it, and without the lineage
    cut each would re-run the corpus-wide outlink extraction.
    """
    edges = edges.localCheckpoint(eager=True)
    deg = host_degree_stats(edges).select("host", "out_deg", "in_deg")
    e = (
        edges.filter(F.col("src_host") != F.col("dst_host"))
        .select("src_host", "dst_host")
        .distinct()
    )
    rev = e.select(
        F.col("dst_host").alias("src_host"),
        F.col("src_host").alias("dst_host"),
    )
    mut = (
        e.join(rev, ["src_host", "dst_host"])
        .groupBy(F.col("src_host").alias("host"))
        .agg(F.count("*").alias("mutual"))
    )
    # coalesce under a FRESH name first: aliasing a rebuilt column back
    # to its input name makes sibling expressions resolve against a mix
    # of old/new (the Spark 4 select-item resolution trap).
    j = deg.join(mut, "host", "left").withColumn(
        "__mutual", F.coalesce(F.col("mutual"), F.lit(0).cast("bigint"))
    )
    return j.select(
        "host",
        "out_deg",
        "in_deg",
        F.col("__mutual").alias("mutual"),
        F.when(
            F.col("out_deg") > 0,
            F.round(F.col("__mutual") / F.col("out_deg"), 4),
        ).alias("recip_rate"),
    )


def host_assortativity(edges: DataFrame) -> DataFrame:
    """Out-in degree assortativity of the directed host graph: the
    Pearson correlation, over distinct non-self edges, between the
    source's out-degree and the target's in-degree. Positive = hubs
    link to authorities (core/periphery webs); negative = high-degree
    hosts link to low-degree ones (star/spam-hub topology). The fourth
    graph-shape axis after degree volume, reciprocity, and triangle
    closure. Reference analog: none (crawl-analytics surface).

    Exact-arithmetic idiom: all five Pearson moment sums (Σx, Σy, Σx²,
    Σy², Σxy) and the numerator m·Σxy − Σx·Σy are BIGINT — degrees are
    bounded by |hosts|, so products stay far inside the long range at
    any real host-graph size; the only doubles are the two sqrts and
    the final division, whose expression tree the DuckDB oracle mirrors
    token-for-token. Zero variance on either side (a regular graph)
    yields NULL via the divide guard.

    Scale shape: edge list localCheckpoint-ed once (three consuming
    branches), two broadcast-sized degree joins, one global aggregate.

    Output (one row): n_edges, assortativity (round 6).
    """
    edges = edges.localCheckpoint(eager=True)
    deg = host_degree_stats(edges)
    e = (
        edges.filter(F.col("src_host") != F.col("dst_host"))
        .select("src_host", "dst_host")
        .distinct()
    )
    j = (
        e.join(
            deg.select(F.col("host").alias("src_host"),
                       F.col("out_deg").alias("dx")),
            "src_host",
        )
        .join(
            deg.select(F.col("host").alias("dst_host"),
                       F.col("in_deg").alias("dy")),
            "dst_host",
        )
    )
    a = j.agg(
        F.count("*").alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    vx = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("m") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    return a.select(
        F.col("m").alias("n_edges"),
        F.when(
            (vx > 0) & (vy > 0),
            F.round(num / (F.sqrt(vx) * F.sqrt(vy)), 6),
        ).alias("assortativity"),
    )


def outlink_similarity(edges: DataFrame, max_in_deg: int = 10_000,
                       min_jaccard: float = 0.25) -> DataFrame:
    """Structural mirror detection: host pairs whose distinct outlink
    NEIGHBOR SETS overlap — the link-graph twin of content dedup.
    Mirrors, scraped copies, and templated site families link to (near-)
    identical destination sets even when their page text diverges, so
    a high outlink-set Jaccard flags them without reading any body
    bytes. Complements :func:`host_reciprocity` (mutual edges) and
    :func:`graph_triangles` (closure). Reference analog: none
    (crawl-analytics surface).

    Stop-neighbor pruning: destinations with in-degree > ``max_in_deg``
    are dropped from the UNIVERSE before anything is counted — degrees
    and intersections alike — so a pair of true mirrors keeps Jaccard
    1.0 after the cut. Two reasons, one knob: (a) everyone links to the
    mega-hubs, so sharing one carries no mirror evidence (the stopword
    analogy), and (b) the per-destination pair stage is quadratic in
    in-degree, so an unbounded hub would concentrate O(in_deg²) pair
    rows on one join key (the cap-or-equi-join rule; this is the
    equi-join form WITH the cap). Sharpens as well as bounds: on the
    test corpus the h0/h1/h2 mirror cluster reads 0.875 with hubs kept
    and exactly 1.0 with them pruned.

    Output per surviving pair (host_a < host_b, unrounded Jaccard >=
    ``min_jaccard``): (host_a, host_b, shared, deg_a, deg_b, jaccard)
    with jaccard = round(shared/(deg_a+deg_b-shared), 4); the
    denominator is >= 1 whenever a pair exists, so no divide guard.

    Scale shape: edge list localCheckpoint-ed once (degree + posting
    branches would otherwise re-run the corpus-wide outlink
    extraction); the pair stage is a self-equi-join on dst_host whose
    per-key fan-out is bounded by ``max_in_deg``; everything downstream
    is host-pair-sized.
    """
    edges = edges.localCheckpoint(eager=True)
    e = (
        edges.filter(F.col("src_host") != F.col("dst_host"))
        .select("src_host", "dst_host")
        .distinct()
    )
    kept = (
        e.groupBy("dst_host")
        .agg(F.count("*").alias("__in_deg"))
        .filter(F.col("__in_deg") <= max_in_deg)
        .select("dst_host")
    )
    # no broadcast hint: kept is |hosts|-sized, which AQE may still
    # broadcast at bench scale but must be free to shuffle at 10^8 hosts
    e2 = e.join(kept, "dst_host", "left_semi")
    deg = e2.groupBy(F.col("src_host").alias("host")).agg(
        F.count("*").alias("deg")
    )
    a, b = e2.alias("a"), e2.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.dst_host") == F.col("b.dst_host"))
            & (F.col("a.src_host") < F.col("b.src_host")),
        )
        .groupBy(
            F.col("a.src_host").alias("host_a"),
            F.col("b.src_host").alias("host_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    j = (
        pairs.join(
            deg.select(F.col("host").alias("host_a"),
                       F.col("deg").alias("deg_a")),
            "host_a",
        )
        .join(
            deg.select(F.col("host").alias("host_b"),
                       F.col("deg").alias("deg_b")),
            "host_b",
        )
        .withColumn(
            "__j",
            F.col("shared") * F.lit(1.0)
            / (F.col("deg_a") + F.col("deg_b") - F.col("shared")),
        )
    )
    return j.filter(F.col("__j") >= F.lit(min_jaccard)).select(
        "host_a", "host_b", "shared", "deg_a", "deg_b",
        F.round(F.col("__j"), 4).alias("jaccard"),
    )


def host_topic_labels(anchors: DataFrame, k: int = 3,
                      max_host_pct: int = 50) -> DataFrame:
    """Weak-supervision topic labels per host from inbound anchor text
    (the classic target-description signal): the top-``k`` anchors per
    dst_host AFTER dropping chrome anchors — an anchor is chrome when it
    points at more than ``max_host_pct`` percent of all hosts ("more",
    "terms", nav labels), the ubiquity test
    :func:`~ollama_ocr_spark.operators.dedup.boilerplate_paragraphs`
    applies to paragraphs. What survives is what the WEB calls each
    host, usable directly as curation/topic-mix features.

    Chrome detection is exact integer arithmetic
    (``hosts_with * 100 > max_host_pct * n_hosts`` — never a float
    fraction compare); share = n_links / host's topical total, one
    double division. Output: (dst_host, rnk, anchor, n_links, share).

    Scale shape: input is the already-aggregated (dst_host, anchor,
    n_links) table from :func:`anchor_text_stats` — anchors, never
    pages; one distinct-host aggregate broadcasts, one anchor-ubiquity
    aggregate, one per-host window over topical anchor rows.
    """
    nh = anchors.agg(
        F.count_distinct(F.col("dst_host")).alias("__n")
    )
    chrome = (
        anchors.crossJoin(F.broadcast(nh))
        .groupBy("anchor", "__n")
        .agg(F.count_distinct(F.col("dst_host")).alias("__hw"))
        .filter(F.col("__hw") * 100 > F.lit(max_host_pct) * F.col("__n"))
        .select("anchor")
    )
    topical = anchors.join(F.broadcast(chrome), "anchor", "left_anti")
    w = Window.partitionBy("dst_host").orderBy(
        F.desc("n_links"), F.asc("anchor")
    )
    tw = Window.partitionBy("dst_host")
    return (
        topical
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .withColumn("__tot", F.sum("n_links").over(tw))
        .filter(F.col("rnk") <= k)
        .select(
            "dst_host", "rnk", "anchor", "n_links",
            F.round(F.col("n_links") * F.lit(1.0) / F.col("__tot"), 4)
            .alias("share"),
        )
    )


def graph_triangles(edges: DataFrame, src: str = "src_host",
                    dst: str = "dst_host") -> DataFrame:
    """Triangle census + global clustering coefficient over the
    UNDIRECTED host graph — the link-farm/community-density signal
    (organic neighborhoods close triangles; spam rings and pure hub
    topologies mostly don't), and the classic multi-way distributed
    self-join: directed edges canonicalize to u < v (self-loops
    dropped, duplicates collapsed), each ordered triple u < v < w is
    counted exactly once by joining (u,v)×(v,w) and probing (u,w), and
    wedges come from one degree aggregate as Σ deg·(deg−1)/2 — all
    BIGINT math, host-id keys only, never payloads.

    Output (one row): n_nodes, n_edges, n_triangles, n_wedges,
    global_clustering = round(3·T·1.0 / W, 6) (NULL when the graph has
    no wedges). At scale the (v,w) join key distribution is the degree
    distribution — salt hub vertices or cap degrees the same way the
    posting-list stages do if one host links everywhere.
    """
    und = (
        edges.filter(F.col(src) != F.col(dst))
        .select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .distinct()
    )
    bc = und.select(F.col("u").alias("v"), F.col("v").alias("w"))
    ac = und.select(F.col("u"), F.col("v").alias("w"))
    tri = (
        und.join(bc, "v").join(ac, ["u", "w"])
        .agg(F.count("*").alias("n_triangles"))
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n").agg(F.count("*").alias("d"))
    )
    counts = deg.agg(
        F.count("*").alias("n_nodes"),
        F.sum(F.expr("(d * (d - 1)) div 2")).alias("n_wedges"),
    )
    n_edges = und.agg(F.count("*").alias("n_edges"))
    row = counts.crossJoin(F.broadcast(n_edges)).crossJoin(F.broadcast(tri))
    clustering = F.when(
        F.col("n_wedges") > 0,
        F.round(
            F.lit(3) * F.col("n_triangles") * F.lit(1.0)
            / F.col("n_wedges"), 6
        ),
    )
    return row.select(
        "n_nodes", "n_edges", "n_triangles", "n_wedges",
        clustering.alias("global_clustering"),
    )


def host_kcore(edges: DataFrame, k: int = 6, rounds: int = 4) -> DataFrame:
    """Fixed-round k-core peeling over the UNDIRECTED host graph: each
    round removes every surviving host whose degree WITHIN the surviving
    subgraph is below ``k``, then recomputes degrees. After ``rounds``
    rounds the survivors approximate the k-core — the densely
    interlinked nucleus that link-farm rings and genuine topic
    communities both inhabit (join against :func:`host_trustrank` to
    tell them apart); hosts peeled in round 1 are the periphery
    (leaf mirrors, one-shot referrers). Reference analog: none
    (crawl-analytics surface).

    Output: (host, removed_round, core_deg) — ``removed_round`` is the
    1-based round the host fell out (NULL for survivors), ``core_deg``
    the host's degree within the final surviving subgraph (NULL for
    removed hosts). All arithmetic is integer, so the DuckDB mirror
    (rounds unrolled as CTEs, the host_pagerank idiom) is exact.

    Scale shape: directed edges canonicalize once to distinct u < v
    pairs (host-level, tiny vs the corpus) and are localCheckpoint-ed;
    each round is two host-key semi-joins + one count agg over the
    shrinking live-edge list, re-checkpointed to truncate lineage (the
    iterative-loop rule). ``rounds`` is fixed, not data-dependent —
    the same bounded-iteration contract as host_pagerank /
    host_communities.
    """
    if k < 1 or rounds < 1:
        raise ValueError("host_kcore needs k >= 1 and rounds >= 1")
    und = (
        edges.filter(F.col("src_host") != F.col("dst_host"))
        .select(
            F.least(F.col("src_host"), F.col("dst_host")).alias("u"),
            F.greatest(F.col("src_host"), F.col("dst_host")).alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    live = und
    alive = (
        und.select(F.col("u").alias("host"))
        .union(und.select(F.col("v").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    removed = None
    for i in range(1, rounds + 1):
        deg = (
            live.select(F.col("u").alias("host"))
            .unionAll(live.select(F.col("v").alias("host")))
            .groupBy("host")
            .agg(F.count("*").alias("d"))
        )
        cur = (
            alive.join(deg, "host", "left")
            .select("host", F.coalesce("d", F.lit(0).cast("bigint")).alias("d"))
        )
        drop = cur.filter(F.col("d") < k).select(
            "host", F.lit(i).cast("int").alias("removed_round")
        )
        removed = drop if removed is None else removed.unionAll(drop)
        alive = cur.filter(F.col("d") >= k).select("host") \
            .localCheckpoint(eager=True)
        live = (
            live.join(alive.withColumnRenamed("host", "u"), "u", "left_semi")
            .join(alive.withColumnRenamed("host", "v"), "v", "left_semi")
            .localCheckpoint(eager=True)
        )
    fin = (
        live.select(F.col("u").alias("host"))
        .unionAll(live.select(F.col("v").alias("host")))
        .groupBy("host")
        .agg(F.count("*").alias("core_deg"))
    )
    survivors = (
        alive.join(fin, "host", "left")
        .select(
            "host",
            F.lit(None).cast("int").alias("removed_round"),
            F.coalesce("core_deg", F.lit(0).cast("bigint")).alias("core_deg"),
        )
    )
    peeled = removed.select(
        "host", "removed_round", F.lit(None).cast("bigint").alias("core_deg")
    )
    return survivors.unionAll(peeled)


def host_hits(edges: DataFrame, iterations: int = 2) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over the directed
    host graph: hubs are hosts whose outlinks point at good
    authorities, authorities are hosts good hubs point at — the
    directional complement to :func:`host_pagerank` (a directory/index
    host scores high hub + low authority; a canonical-source host the
    reverse). Reference analog: none (crawl-analytics surface).

    Per iteration: h(u) = Σ_{u→v} a(v), then a(v) = Σ_{u→v} h(u)
    (using the FRESH h), each vector rescaled by its MAX (max of
    doubles is order-free and exact, unlike an L2 norm's sum — the
    engine-parity reason for max-normalization). Distinct unweighted
    edges, self-loops dropped — the pagerank edge-set convention.
    Output: (host, hub, authority) rounded to 6dp; like host_pagerank,
    the only order-sensitive ops are per-host incoming sums
    (degree-bounded), which the 6dp round absorbs.

    Scale shape: the edge list is localCheckpoint-ed once (two
    consuming branches per iteration); each half-step is one host-key
    join + partial agg over the HOST-level edge list, with the scalar
    max broadcast back (one-row crossJoin). Fixed iterations,
    lineage truncated per step.
    """
    ce = (
        edges.filter(F.col("src_host") != F.col("dst_host"))
        .select("src_host", "dst_host")
        .distinct()
        .localCheckpoint(eager=True)
    )
    hosts = (
        ce.select(F.col("src_host").alias("host"))
        .union(ce.select(F.col("dst_host").alias("host")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def half_step(vec, val, at, to, out):
        # Σ of the ``at`` end's ``val`` per ``to`` end, rescaled by its max
        s = (
            ce.join(vec, ce[at] == vec.host)
            .groupBy(F.col(to).alias("host"))
            .agg(F.sum(val).alias("s"))
        )
        v = (
            hosts.join(s, "host", "left")
            .select("host", F.coalesce("s", F.lit(0.0)).alias(out))
        )
        vmax = v.agg(F.max(out).alias("m"))
        return (
            v.crossJoin(F.broadcast(vmax))
            .select(
                "host",
                F.when(F.col("m") > 0, F.col(out) / F.col("m"))
                .otherwise(F.lit(0.0)).alias(out),
            )
            .localCheckpoint(eager=True)
        )

    auth = hosts.select("host", F.lit(1.0).alias("a"))
    hub = hosts.select("host", F.lit(1.0).alias("h"))
    for _ in range(iterations):
        hub = half_step(auth, "a", "dst_host", "src_host", "h")
        auth = half_step(hub, "h", "src_host", "dst_host", "a")
    return (
        hub.join(auth, "host")
        .select(
            "host",
            F.round(F.col("h"), 6).alias("hub"),
            F.round(F.col("a"), 6).alias("authority"),
        )
    )
