"""The crawl plan: a round-synchronous URL-frontier + fetch scheduler.

One round = one DataFrame DAG (SURVEY.md §3.1), replacing the reference's
20-thread queue loop (XPathCrawlerThread.java:78-266) and master/worker
round-trip (MasterServlet.java:78-185):

    frontier_r (snapshot scan)
      -> canonicalize + sha1 (JVM cols)                 [O-X1/X2]
      -> anti-join seen (optional bloom prefilter)      [O-J2/O-F6]
      -> broadcast-join robots + quirk predicate        [O-J1/O-F4]
      -> salted per-host budget window pop              [O-W2/O-F5]
      -> "fetch" = left join pages on url -> html       [O-S4]
      -> status/MIME/size routing                       [O-F1/F2/F3/O-X9]
           miss | redirect (301/302) | not_modified (304, recrawl)
                | mime_reject | size_reject | parse
      -> Arrow UDF link+text extraction, JVM resolution [O-X3/X4/X5/O-F7]
         (parse rows only; not_modified rows reuse stored out_links —
          XPathCrawlerThread.java:231-253)
      -> explode -> dedup -> anti-join (seen + batch)   [O-J2/O-U3]
      -> COMMIT seen+/parsed+/metrics+/lineage+, frontier (one snapshot);
         the link graph (edges) stays derivable from parsed.out_links

Seen-set semantics follow the reference exactly: scheduled URLs are marked
seen at schedule time (XPathCrawlerThread.java:122-126), robots-DENIED URLs
are also marked seen (:455-487 — every deny branch adds to visitedURL),
politeness-deferred URLs are NOT (they are re-enqueued, :443-447), and
301/302 Location targets are marked seen WITHOUT being enqueued
(:148-175 — the reference's redirect-enqueue is an unimplemented TODO).
Only action='parse' rows are written to the parsed table (writeToDB,
:254-259); rejects/redirects/misses leave no document behind.

Conditional recrawl (If-Modified-Since, :129-146): run_crawl(recrawl=True)
starts a new crawl generation — frontier reset to seeds, seen-set emptied,
parsed kept. Each fetch compares the page's warc_ts against the stored
row's warc_ts; unchanged pages answer 304 and reuse stored out_links with
no re-parse and no rewrite (MERGE semantics: parsed appends + latest-round-
per-url read via parsed_latest()).

Stop conditions: empty frontier, or total scheduled >= max_pages
(TotalMaxRequests, Crawler/conf/master/web.xml:22-24), or max_rounds —
max_pages counts the current generation only (each reference run has its
own TotalMaxRequests budget).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.fetch import (
    MAX_CONTENT_BYTES_DEFAULT,
    location_of,
    route_fetch,
    status_of,
)
from ..functions.html import html_as_string, parse_page_udf, title_of
from ..functions.robots import build_robots_df, crawl_allowed
from ..functions.text import bind_once
from ..functions.urls import (
    host_of,
    resolve_base_parts,
    resolve_href,
    sha1_hex,
    url_hash_bucket,
)
from ..operators.dedup import anti_join_seen, build_bloom_sidecar, or_merge_sidecar
from ..operators.scheduler import host_budget, pop_host_batches
from ..sources.tables import SnapshotStore


@dataclass
class CrawlConfig:
    max_rounds: int = 50
    max_pages: int = 100_000  # TotalMaxRequests
    round_duration_s: int = 60
    salt_buckets: int = 8
    num_buckets: int = 32  # seen-table bucket layout
    use_bloom: bool = False  # pays when seen >> per-round frontier (BENCH.md)
    bloom_bucket_bits: int = 1 << 22  # fixed bits/bucket so deltas OR-merge
    compact_every: int = 8
    max_content_bytes: int = MAX_CONTENT_BYTES_DEFAULT  # O-F2 size gate
    # keep the last K round-snapshots time-travel-readable and delete data
    # dirs nothing retained references (runs with compaction); None = retain
    # every snapshot (no dir ever deleted, time-travel to any round)
    expire_keep_snapshots: int | None = None
    # expected total URLs the seen set will hold: when set, bloom_bucket_bits
    # derives from keys/bucket at ~1% FP (bloom_bits_for) instead of the
    # fixed default — changing it mid-crawl is safe, the n_bits-mismatch
    # heal rebuilds the sidecar from the seen table on the next round
    expected_total_urls: int | None = None
    # opt-in (beyond reference): seed the round-0 frontier from sitemap
    # files too (robots Sitemap: lines + the /sitemap.xml convention,
    # sources/sitemaps.py). Off by default — the parity gate's BFS starts
    # from the explicit seed list exactly like the reference.
    seed_from_sitemaps: bool = False
    # "quirk" (default) = the reference's isCrawlingAllowed semantics, which
    # the parity gate requires; "standard" = RFC 9309 longest-match
    # Allow/Disallow with wildcards (functions/robots_standard.py). Either
    # way politeness uses the same Crawl-delay parse (delay is an extension
    # outside RFC 9309).
    robots_mode: str = "quirk"
    # opt-in crawler-trap containment: cap on URLs per host ever ADMITTED
    # past the dedup gate (counted against the host's seen-set size at round
    # start; candidates beyond the cap are dropped permanently in the
    # round's deterministic url order, metric `quota_dropped`). None =
    # reference behavior (unbounded — the parity gate requires it). Resets
    # with the seen set on a recrawl generation.
    max_urls_per_host: int | None = None
    # opt-in frontier ordering (beyond reference): "bfs" (default — the
    # reference-parity url-ascending determinization), "indegree" — a
    # host-keyed priority queue popping the most-linked-to candidates first
    # (OPIC-lite: every discovered link deposits one unit of cash on its
    # target; deferred candidates keep accumulating across rounds), the
    # classic importance-first crawl ordering — or "trust" — trust-weighted
    # OPIC (TrustRank demotion in the pop): each link mention deposits its
    # SOURCE HOST's TrustRank score (host graph accumulated in the
    # host_edges ledger, teleport mass on the round-0 seed hosts, recomputed
    # per round with `trust_iterations` power steps), so spam-farm mentions
    # deposit ~0 and their targets sort behind trust-endorsed urls within
    # the same host's politeness budget. Both change WHICH urls beat the
    # budget each round, so the BFS-parity gate requires "bfs". Do not flip
    # between indegree and trust mid-crawl (the frontier's cash column
    # changes type/meaning).
    priority: str = "bfs"
    trust_iterations: int = 3  # power steps per round in priority="trust"
    # priority="trust" teleport set: None (default) = the round-0 seed
    # hosts; pass an explicit host list when only a curated subset of the
    # seeds is trusted (the Gyöngyi TrustRank setup — seeds crawl, but only
    # vetted hosts radiate trust)
    trusted_hosts: list[str] | None = None
    # href resolution: "quirk" (default — the reference's non-RFC resolver,
    # which DROPS every absolute href, so a crawl never leaves its seed
    # hosts; the parity gate requires it) or "standard" — RFC 3986-style
    # resolution (functions/urls.resolve_href_standard) that keeps the web
    # graph connected: absolute/protocol-relative/root-relative hrefs all
    # resolve, non-http schemes drop. The open-web mode every non-parity
    # deployment should run. It lowercases hosts (RFC 3986 §6.2.2.1), but
    # the sandbox "fetch" is an exact-string join on pages.url, so this mode
    # assumes the corpus URLs already carry lowercase hosts: a page stored
    # under a mixed-case host is never fetched.
    resolve_mode: str = "quirk"
    # opt-in content-seen test (beyond reference — Mercator's duplicate-body
    # suppression; the reference dedups URLs only, so mirror sites parse
    # once per URL): fetched bodies routed to "parse" first check their
    # md5(html) digest against a content_seen table; a known digest (or a
    # lexicographically-smaller URL claiming it this round) flips the action
    # to "content_dup" — the URL still enters the seen set, but the body is
    # neither parsed nor linked nor written to the parsed table (metric
    # `content_dup`). Per-generation like the seen set (reset on recrawl);
    # enabling mid-generation only dedups bodies fetched from then on (the
    # parsed table keeps no html to heal digests from). Default off — the
    # parity gate's oracle dedups URLs exactly like the reference.
    content_dedup: bool = False
    # opt-in (beyond reference): treat a 301/302 Location target as a
    # DISCOVERED LINK (depth+1, deduped, quota'd, politeness-popped next
    # round) instead of the reference's mark-seen-never-enqueue quirk —
    # following redirects is the TODO the reference left unimplemented
    # (XPathCrawlerThread.java:169). Default off for the parity gate.
    follow_redirects: bool = False
    # opt-in BFS depth cap (beyond reference — it has none): links that would
    # enter the frontier at depth > max_depth are dropped at discovery (never
    # seen, never scheduled). None = unbounded (parity).
    max_depth: int | None = None
    # opt-in parsed-table compaction cadence (rounds): the parsed ledger
    # appends one dir per round; every K rounds rewrite it to one dir
    # (Iceberg rewrite_data_files semantics — a FULL rewrite of the table,
    # so pick K against table size: cheap in-sandbox, at 100-TB scale this
    # is the maintenance job you schedule off the hot path, not per-round).
    # None (default) = never compact parsed; parsed_latest() is correct
    # either way, this only bounds file counts.
    compact_parsed_every: int | None = None
    # opt-in Mercator trap containment (beyond reference): hosts whose
    # accumulated fetch log shows the infinite-URL/finite-content signature
    # (distinct urls / distinct body digests >= ratio) or absurd path depth
    # stop admitting candidates entirely — dropped at the dedup gate, NOT
    # marked seen (re-mentions drop again while the host stays flagged;
    # metric `trap_dropped`). Evidence accumulates in the narrow trap_log
    # append table (url, md5(html)) from the round the knob turns on;
    # toggling mid-crawl simply starts with less history. The GATE reads
    # the incrementally-maintained trap_counts rollup (merged with each
    # round's new (host,url)/(host,digest) pairs at commit) — never a
    # per-round countDistinct over the whole log, whose cost would grow
    # with total pages crawled. Default off — the parity gate admits every
    # host like the reference.
    trap_filter: bool = False
    trap_ratio_threshold: float = 5.0
    trap_depth_threshold: int = 12
    # opt-in soft-404 demotion (beyond reference): hosts whose parsed pages
    # are mostly error shells (soft404_signals verdict over >= min_pages
    # observations at >= rate_threshold) get their politeness budget clamped
    # to 1 url/round — demoted, not banned (the rate can recover; clamped
    # candidates defer like any politeness overflow). Observations accumulate
    # in the soft404_log append table (host, verdict) per parsed page; the
    # gate reads the sum-merged soft404_counts rollup, never a per-round
    # aggregate over the whole log. Default off for parity.
    demote_soft404: bool = False
    soft404_min_pages: int = 3
    soft404_rate_threshold: float = 0.5

    def __post_init__(self) -> None:
        if self.priority not in ("bfs", "indegree", "trust"):
            raise ValueError(f"unknown priority mode {self.priority!r}")
        if self.resolve_mode not in ("quirk", "standard"):
            raise ValueError(f"unknown resolve mode {self.resolve_mode!r}")
        if self.expected_total_urls:
            from ..operators.dedup import bloom_bits_for

            per_bucket = -(-self.expected_total_urls // self.num_buckets)
            self.bloom_bucket_bits = bloom_bits_for(per_bucket)


def _with_url_cols(df: DataFrame, num_buckets: int) -> DataFrame:
    df = df.withColumn("url_hash", sha1_hex("url")).withColumn("host", host_of("url"))
    return df.withColumn("bucket", url_hash_bucket("url_hash", num_buckets))


def _generation_history(history: list[dict]) -> list[dict]:
    """History entries of the CURRENT crawl generation (after the last
    init/recrawl marker)."""
    gen: list[dict] = []
    for h in history:
        if h.get("phase") in ("init", "recrawl"):
            gen = []
        else:
            gen.append(h)
    return gen


def _bloom_lags(history: list[dict]) -> bool:
    """True when some round of this generation appended to seen without
    committing a bloom delta — the sidecar then under-covers the seen set
    and MUST be rebuilt (bloom false negatives would re-crawl seen URLs)."""
    return any(
        "scheduled" in h and not h.get("bloom_delta")
        for h in _generation_history(history)
    )


def _host_counts_lag(history: list[dict]) -> bool:
    """True when some round of this generation appended to seen without
    committing a host_counts delta (quota toggled on mid-crawl) — the
    rollup then undercounts and MUST be rebuilt from the seen table."""
    return any(
        "scheduled" in h and not h.get("host_counts_delta")
        for h in _generation_history(history)
    )


def _seed_frontier(
    spark: SparkSession, seeds: list[str], extra_seed_df: DataFrame | None = None
) -> DataFrame:
    """Round-0 frontier: explicit seed list, optionally unioned with a
    distributed extra-seed DataFrame (url STRING) — the sitemap-discovery
    path, which never passes through the driver. Shared by fresh inits and
    recrawl generations so seed semantics cannot diverge between them."""
    frontier0 = spark.createDataFrame(
        [(u, 0) for u in dict.fromkeys(seeds)], schema="url string, depth int"
    )
    if extra_seed_df is not None:
        frontier0 = frontier0.unionByName(
            extra_seed_df.select(F.col("url"), F.lit(0).alias("depth"))
        ).dropDuplicates(["url"])
    return frontier0


def init_crawl(
    spark: SparkSession,
    store: SnapshotStore,
    seeds: list[str],
    cfg: CrawlConfig,
    extra_seed_df: DataFrame | None = None,
) -> None:
    """Round-0 snapshot: frontier = seed list (MasterServlet.java:305-311).
    seed_hosts (the trust teleport set for priority="trust") always commits —
    it is tiny and lets the knob toggle on mid-crawl."""
    frontier0 = _seed_frontier(spark, seeds, extra_seed_df)
    store.commit_round(
        0,
        replaces={
            "frontier": frontier0,
            "seed_hosts": frontier0.select(host_of(F.col("url")).alias("host")).distinct(),
        },
        extra={"phase": "init"},
    )


def run_round(
    spark: SparkSession,
    store: SnapshotStore,
    pages: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
    round_no: int,
    frontier: DataFrame | None = None,
    stored: DataFrame | None = None,
) -> dict | tuple[dict, DataFrame]:
    """One scheduling round. `frontier` may be passed in-memory by the driver
    loop (avoids a parquet round-trip); omitted -> read from the snapshot.
    `stored` (recrawl generations only) is the prior generation's
    parsed-latest snapshot (url, warc_ts, out_links) answering the 304
    If-Modified-Since check."""
    # every frame this round caches or persists; released together after
    # the commit (CacheManager entries must not grow with rounds)
    caches: list[DataFrame] = []

    def _cached(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
        df = df.cache() if level is None else df.persist(level)
        caches.append(df)
        return df

    return_frontier = frontier is not None
    if frontier is None:
        frontier = store.read("frontier")
    seen = store.read("seen")

    # Per-round counters: the single pipeline action (frontier checkpoint
    # count) materializes every cache, then ONE cross-joined aggregate job
    # reads all counters back from the caches, so no counter recomputes the
    # pipeline. These are the round's Spark actions (pipeline, stats, and
    # one write per table); AQE splits them into about 35 Spark jobs per
    # round at the default config (crawlbench/README.md, traced table).
    # NOTE df.observe() was tried and REVERTED: CollectMetrics nodes beneath
    # an InMemoryRelation silently return empty/null rows depending on AQE
    # settings — nonzero counts came back as zeros with adaptive disabled.
    raw_exprs = [F.count(F.lit(1)).alias("n_raw")]
    cand_exprs = [
        F.sum(F.when(F.col("allowed"), 1).otherwise(0)).alias("n_ok"),
        F.sum(F.when(~F.col("allowed"), 1).otherwise(0)).alias("n_denied"),
    ]
    sched_exprs = [
        F.count(F.lit(1)).alias("n_sched"),
        *[
            F.sum(F.when(F.col("bucket") == b, 1).otherwise(0)).alias(f"b{b}")
            for b in range(cfg.num_buckets)
        ],
    ]
    action_names = ["miss", "redirect", "not_modified", "mime_reject",
                    "size_reject", "parse"] + (
        ["content_dup"] if cfg.content_dedup else []
    )
    parse_exprs = [
        F.sum(F.when(F.col("action") == a, 1).otherwise(0)).alias(a)
        for a in action_names
    ]

    # candidate set: frontier distinct on url (min depth), minus seen.
    # indegree/trust modes additionally accumulate each url's link-mention
    # cash (one unit per mention / the source host's trust per mention —
    # sum survives the distinct; deferred rows carry their balance forward)
    use_pri = cfg.priority in ("indegree", "trust")
    if use_pri and "inlinks" not in frontier.columns:
        # round-0 seeds / a frontier table written before the toggle
        frontier = frontier.withColumn(
            "inlinks",
            F.lit(0.0) if cfg.priority == "trust" else F.lit(1).cast("long"),
        )
    agg_exprs = [F.min("depth").alias("depth")] + (
        [F.sum("inlinks").alias("inlinks")] if use_pri else []
    )
    raw = _cached(
        _with_url_cols(frontier.groupBy("url").agg(*agg_exprs), cfg.num_buckets)
    )
    # Bloom sidecar is INCREMENTAL: each round appends a bitmap delta built
    # from that round's (small) new_seen batch; the probes cogroup the
    # candidates with the delta rows on the bucket id, so each task OR-merges
    # and probes ONLY its own bucket's bitmaps — nothing is collected or
    # broadcast (at the north rule's 10^10 keys the sidecar is ~12 GB and
    # cannot cross the driver; VERDICT r3 #1). The full seen table is
    # rescanned (healed) when the deltas are untrustworthy: missing table,
    # n_bits mismatch (bloom_bucket_bits changed — detected with a 1-row
    # aggregate, not a sidecar scan through the driver), or rounds that
    # appended seen without a delta (use_bloom toggled off then on —
    # trusting stale deltas would create false negatives and re-crawl seen
    # URLs).
    bloom_sidecar = None
    bloom_healed = False
    if cfg.use_bloom and seen is not None:
        sidecar = store.read("bloom")
        needs_heal = sidecar is None or _bloom_lags(store.manifest()["history"])
        if not needs_heal:
            szs = sidecar.agg(
                F.count_distinct("n_bits").alias("k"),
                F.max("n_bits").alias("m"),
                F.count_distinct("num_buckets").alias("bk"),
                F.max("num_buckets").alias("bm"),
            ).first()
            needs_heal = (
                szs["k"] != 1
                or szs["m"] != cfg.bloom_bucket_bits
                # a sidecar built under a different bucketing would answer
                # definitely-new for every re-mapped bucket (false negative)
                or szs["bk"] != 1
                or szs["bm"] != cfg.num_buckets
            )
        if needs_heal:
            # distributed rebuild from the seen table; persisted because the
            # three anti-joins and the commit-time replacement all read it
            bloom_sidecar = _cached(
                build_bloom_sidecar(seen, cfg.num_buckets, cfg.bloom_bucket_bits),
                StorageLevel.MEMORY_AND_DISK,
            )
            bloom_healed = True
        else:
            bloom_sidecar = sidecar
    fresh_cand = anti_join_seen(
        raw, seen, bloom_sidecar=bloom_sidecar, num_buckets=cfg.num_buckets
    )

    # opt-in Mercator trap containment: flagged hosts (infinite-URL/finite-
    # content signature or absurd depth over the accumulated trap_log) stop
    # admitting candidates — broadcast anti-join on host (the flag list is
    # hosts, not URLs). Dropped urls are NOT marked seen: re-mentions drop
    # again for as long as the host stays flagged, and admit again if the
    # host's ratio recovers.
    pre_trap = None
    trap_counts = None
    if cfg.trap_filter:
        pre_trap = _cached(fresh_cand)
        # INCREMENTALLY maintained (host, n_urls, n_content, max_depth)
        # rollup — the gate never rescans the growing trap_log (per-round
        # aggregate cost would grow linearly with total pages crawled; the
        # exact shape the host_counts rollup below was built to avoid). The
        # rollup and the log move in the same atomic commits, so they
        # cannot diverge.
        trap_counts = store.read("trap_counts")
        if trap_counts is not None:
            from ..operators.traps import is_trap_cond

            trap_counts = _cached(trap_counts)
            trap_hosts = trap_counts.filter(
                is_trap_cond(cfg.trap_ratio_threshold, cfg.trap_depth_threshold)
            ).select("host")
            fresh_cand = pre_trap.join(F.broadcast(trap_hosts), "host", "left_anti")
        else:
            fresh_cand = pre_trap

    # per-host admission quota (opt-in trap containment): remaining budget =
    # cap minus the host's seen-set size at round start; the salted
    # two-phase pop admits exactly the first `remaining` candidates per host
    # in url order and drops the rest permanently. The per-host counts come
    # from an INCREMENTALLY maintained host_counts rollup (each round merges
    # this round's small new_seen delta — no rescan of the growing seen
    # table; rebuilt from seen only when the rollup is missing or lagging,
    # i.e. quota toggled on mid-crawl).
    pre_quota = None
    host_counts = None
    if cfg.max_urls_per_host is not None:
        pre_quota = _cached(fresh_cand)
        rollup = store.read("host_counts")
        if rollup is not None and not _host_counts_lag(store.manifest()["history"]):
            host_counts = rollup.select("host", F.col("n").alias("_hc"))
        elif seen is not None:
            host_counts = seen.groupBy(host_of(F.col("url")).alias("host")).agg(
                F.count(F.lit(1)).alias("_hc")
            )
        else:
            host_counts = spark.createDataFrame([], "host string, _hc long")
        # cached: consumed by the gate now and by the rollup merge at commit
        host_counts = _cached(host_counts)
        gated = (
            pre_quota.join(F.broadcast(host_counts), "host", "left")
            .withColumn(
                "_qrem",
                F.greatest(
                    F.lit(0),
                    F.lit(cfg.max_urls_per_host) - F.coalesce(F.col("_hc"), F.lit(0)),
                ).cast("int"),
            )
            .drop("_hc")
        )
        admitted, _dropped = pop_host_batches(
            gated, budget_col="_qrem", salt_buckets=cfg.salt_buckets
        )
        fresh_cand = admitted.drop("_qrem")

    # robots gate (broadcast join + pure-column predicate: quirk-exact by
    # default, RFC 9309 longest-match when cfg.robots_mode == "standard")
    if cfg.robots_mode == "standard":
        from ..functions.robots_standard import allowed_standard, url_path_of

        allowed_col = allowed_standard(url_path_of(F.col("url")), F.col("std_rules"))
    else:
        allowed_col = crawl_allowed(
            F.col("url"), F.col("has_robots"), F.col("disallow")
        )
    cand = _cached(
        fresh_cand.join(F.broadcast(robots), "host", "left").withColumn(
            "allowed", allowed_col
        )
    )
    denied = cand.filter(~F.col("allowed"))
    ok = cand.filter(F.col("allowed")).withColumn(
        "budget", host_budget(F.col("crawl_delay"), cfg.round_duration_s)
    )

    # opt-in soft-404 demotion: hosts serving mostly error shells (per the
    # accumulated soft404_log verdicts) get their politeness budget clamped
    # to 1 url/round — demoted, not banned (overflow defers like any
    # politeness overflow and the rate can recover). The flag list is a
    # per-host aggregate of a narrow log: tiny, broadcast.
    flagged404 = None
    s404_counts = None
    if cfg.demote_soft404:
        # per-host (n, s) verdict counts from an INCREMENTALLY maintained
        # rollup (sum-mergeable, merged with each round's delta at commit) —
        # never a per-round aggregate over the whole accumulated log, whose
        # cost would grow linearly with total pages crawled.
        s404_counts = store.read("soft404_counts")
        if s404_counts is not None:
            # cached: consumed by the flag filter now, the merge at commit
            s404_counts = _cached(s404_counts)
            # cached: consumed by the clamp join and the stats count
            flagged404 = _cached(
                s404_counts.filter(
                    (F.col("n") >= cfg.soft404_min_pages)
                    & (F.col("s") / F.col("n") >= cfg.soft404_rate_threshold)
                ).select("host", F.lit(True).alias("_demote"))
            )
            ok = (
                ok.join(F.broadcast(flagged404), "host", "left")
                .withColumn(
                    "budget",
                    F.when(F.col("_demote"), F.lit(1).cast("int")).otherwise(
                        F.col("budget")
                    ),
                )
                .drop("_demote")
            )

    # politeness pop (salted two-phase window); per-bucket lineage counts
    # observed inline (num_buckets sum-when exprs — scalar observations are
    # the price of folding the groupBy(bucket).collect job away)
    keep = ["url", "url_hash", "host", "bucket", "depth", "budget"] + (
        ["inlinks"] if use_pri else []
    )
    scheduled, deferred = pop_host_batches(
        ok.select(*keep),
        budget_col="budget",
        salt_buckets=cfg.salt_buckets,
        priority_col="inlinks" if use_pri else None,
    )
    scheduled = _cached(scheduled.drop("budget", "inlinks"))

    # "fetch": join the scheduled batch against the pages corpus, then route
    # on derived HTTP metadata (status / Content-Type / Content-Length) in
    # the reference's check order, and — in a recrawl generation — against
    # the stored parsed snapshot for the 304 If-Modified-Since answer.
    # ONE Arrow pass over html (parse rows only) extracts hrefs+text
    # together; title stays JVM-side.
    fetched = scheduled.join(pages.select("url", "warc_ts", "html", "lang"), "url", "left")
    if stored is not None:
        fetched = fetched.join(
            stored.select(
                "url",
                F.col("warc_ts").alias("stored_ts"),
                F.col("out_links").alias("stored_links"),
            ),
            "url",
            "left",
        )
    else:
        fetched = fetched.withColumn(
            "stored_ts", F.lit(None).cast("timestamp")
        ).withColumn("stored_links", F.lit(None).cast("array<string>"))
    routed = fetched.withColumn(
        "action",
        route_fetch(
            "html",
            "url",
            stored_ts=F.col("stored_ts"),
            warc_ts=F.col("warc_ts"),
            max_content_bytes=cfg.max_content_bytes,
        ),
    )

    # body digest: content_dedup's content-seen key AND trap_filter's
    # finite-content evidence share one md5 pass over the parse-routed bodies
    if cfg.content_dedup or cfg.trap_filter:
        routed = routed.withColumn(
            "digest", F.when(F.col("action") == "parse", F.md5(F.col("html")))
        )

    # content-seen test (opt-in, Mercator-style): parse-routed bodies whose
    # digest is already claimed — by an earlier round (content_seen table)
    # or by a lexicographically-smaller URL in THIS batch (window, rn>1) —
    # become 'content_dup': still seen, never parsed/linked/persisted.
    if cfg.content_dedup:
        # the filter-split + claims aggregate below fork this lineage three
        # ways; uncached, each fork re-runs the scheduled-pages fetch join
        # and the md5 over html. DISK_ONLY (never in-heap: the html column
        # in executor memory makes GC cost scale with mutator threads — the
        # measured core-scaling inversion, BENCH.md) evaluates it once and
        # serves all three consumers from OS-page-cached blocks.
        routed = _cached(routed, StorageLevel.DISK_ONLY)
        # NULL-digest rows (misses/redirects/rejects — often the bulk) stay
        # out of the digest shuffle entirely: hash(NULL) would pile them all
        # into ONE partition of the join
        with_dig = routed.filter(F.col("digest").isNotNull())
        no_dig = routed.filter(F.col("digest").isNull())
        cs = store.read("content_seen")
        if cs is not None:
            # plain shuffle join on digest; at seen-table scale this gets the
            # same treatment as the url-seen anti-join (bucket layout below
            # co-partitions the table; a bloom sidecar would bolt on the same
            # way). The table is digest-unique by construction (only claimed
            # previously-unknown digests are appended), so the left join
            # cannot fan rows out — no distinct needed.
            with_dig = with_dig.join(
                cs.select("digest").withColumn("_dup_known", F.lit(True)),
                "digest",
                "left",
            )
        else:
            with_dig = with_dig.withColumn(
                "_dup_known", F.lit(None).cast("boolean")
            )
        # in-batch claim: the lexicographically-smallest URL per digest wins —
        # a map-side-combinable min aggregate + join-back, NEVER a digest
        # window (a mirror body fetched under 10^6 URLs in one round would
        # land its whole duplicate set in one window task; AQE skew-join
        # splits the join residue instead)
        claims = with_dig.groupBy("digest").agg(F.min("url").alias("_claim_url"))
        with_dig = (
            with_dig.join(claims, "digest")
            .withColumn(
                "action",
                F.when(
                    F.coalesce(F.col("_dup_known"), F.lit(False))
                    | (F.col("url") > F.col("_claim_url")),
                    F.lit("content_dup"),
                ).otherwise(F.col("action")),
            )
            .drop("_dup_known", "_claim_url")
        )
        routed = with_dig.unionByName(no_dig)

    is_parse = F.col("action") == "parse"
    if cfg.resolve_mode == "standard":
        from ..functions.urls import resolve_href_standard as _resolve
    else:
        _resolve = resolve_href
    # cached for its three consumers (links explode, parsed write, stats)
    # AND because explode-over-a-UDF-derived-array splits into a size>0
    # Filter + Generate pair that each re-eval the UDF when uncached —
    # without this cache the Arrow parse would run TWICE per page on the
    # links path alone (asserted in tests/test_plan_properties.py)
    parsed = _cached(
        routed.withColumn("_p", parse_page_udf(F.when(is_parse, F.col("html"))))
        .withColumn(
            "out_links",
            # 304 reuses the stored document's extracted links
            # (XPathCrawlerThread.java:231-253); everything non-parse else
            # contributes nothing
            # page-URL parts (proto/host/base_dir regex chains) bind ONCE
            # per row via bind_once: referenced bare inside the transform
            # lambda they would re-evaluate per extracted HREF (HOF bodies
            # get no subexpression elimination — the round-5 shingles bug)
            F.when(F.col("action") == "not_modified", F.col("stored_links")).otherwise(
                bind_once(
                    resolve_base_parts(F.col("url")),
                    lambda rb: F.filter(
                        F.transform(
                            F.col("_p.hrefs"),
                            lambda h: _resolve(F.col("url"), h, parts=rb),
                        ),
                        lambda x: x.isNotNull(),
                    ),
                )
            ),
        )
        .withColumn("text", F.col("_p.text"))
        # meta Description/Keywords content tokens carry the +0.2 rank weight
        # downstream (Indexer.java:131-139,224-226)
        .withColumn("meta", F.when(is_parse, F.col("_p.meta")))
        .withColumn("title", F.when(is_parse, title_of(html_as_string("html"))))
        .withColumn("fetched", F.col("html").isNotNull())
        .withColumn("status", F.when(F.col("html").isNotNull(), status_of("url")))
        .withColumn("round", F.lit(round_no))
        .drop("_p", "html", "stored_ts", "stored_links")
    )

    batch_seen = scheduled.select("url_hash", "url", "bucket").unionByName(
        denied.select("url_hash", "url", "bucket")
    )
    if cfg.follow_redirects:
        # follow mode: the Location target is just another discovered link —
        # it joins the link stream below (depth+1) and is NOT pre-marked
        # seen, so the normal dedup/robots/politeness gates apply next round
        new_seen = _cached(batch_seen)
    else:
        # 301/302 Location targets enter the seen set WITHOUT being enqueued
        # (XPathCrawlerThread.java:155-168); anti-joined so the table stays
        # a set
        redirect_targets = _with_url_cols(
            parsed.filter(F.col("action") == "redirect")
            .select(location_of("url").alias("url"))
            .distinct(),
            cfg.num_buckets,
        ).select("url_hash", "url", "bucket")
        redirect_targets = anti_join_seen(
            redirect_targets, seen, bloom_sidecar=bloom_sidecar,
            num_buckets=cfg.num_buckets,
        ).join(batch_seen.select("url_hash"), "url_hash", "left_anti")
        # cached: evaluated by the pipeline job (links anti-join), the seen
        # write, and the bloom delta — uncached each re-runs the redirect
        # anti-join against the seen table
        new_seen = _cached(batch_seen.unionByName(redirect_targets))

    # discovered links -> next frontier (dedup within batch, anti-join seen+batch)
    # cash per link MENTION (a page linking twice votes twice — the
    # reference's extractor keeps duplicate hrefs, O-X4 doc order):
    #   indegree  1 unit per mention
    #   trust     the source host's TrustRank over the accumulated host_edges
    #             ledger (teleport on seed_hosts) — spam mentions deposit ~0
    link_aggs = [F.min("depth").alias("depth")]
    if cfg.priority == "indegree":
        link_aggs.append(F.count(F.lit(1)).alias("inlinks"))
    elif cfg.priority == "trust":
        link_aggs.append(F.sum("_dep").alias("inlinks"))
    mention_cols = [
        F.explode("out_links").alias("url"),
        (F.col("depth") + 1).alias("depth"),
    ] + ([F.col("host").alias("_src_host")] if cfg.priority == "trust" else [])
    link_stream = parsed.select(*mention_cols)
    if cfg.follow_redirects:
        link_stream = link_stream.unionByName(
            parsed.filter(F.col("action") == "redirect").select(
                location_of("url").alias("url"),
                (F.col("depth") + 1).alias("depth"),
                *([F.col("host").alias("_src_host")] if cfg.priority == "trust" else []),
            )
        )
    if cfg.priority == "trust":
        # host-level TrustRank: the host graph is orders of magnitude smaller
        # than the URL graph (ledger holds DISTINCT host pairs per round) and
        # the result is a broadcast-sized host table; trust_iterations power
        # steps of iterative broadcast joins per round. Empty ledger (round 1,
        # or the knob just toggled on) -> every deposit 0.0 -> the pop's
        # (priority DESC, url ASC) order degenerates to plain BFS.
        hedges = store.read("host_edges")
        if cfg.trusted_hosts is not None:
            seed_hosts = spark.createDataFrame(
                [(h,) for h in cfg.trusted_hosts], "host string"
            )
        else:
            seed_hosts = store.read("seed_hosts")
        trust = None
        if hedges is not None and seed_hosts is not None:
            from ..operators.pagerank import trustrank

            # drop_sinks=False: sink-dropping is global-PageRank parity, but
            # here it is actively wrong — during frontier expansion a trusted
            # host's ledger edges often ALL point to not-yet-crawled hosts
            # (sinks by definition), and remove_sink_edges would empty the
            # graph: trustrank returns no rows, every deposit coalesces to
            # 0.0, and trust ordering silently degenerates to BFS exactly
            # when the knob matters. Keeping sink edges only leaks some rank
            # mass into unranked hosts — harmless for a relative ordering.
            # eager_release: this runs EVERY round in a long-lived session;
            # without it each call pins 3 more CacheManager entries forever.
            trust = trustrank(
                hedges.select("src", "dst").distinct(),
                seed_hosts,
                iterations=cfg.trust_iterations,
                drop_sinks=False,
                eager_release=True,
            ).select(
                F.col("node").alias("_src_host"), F.col("rank").alias("_trust")
            )
        if trust is not None:
            link_stream = link_stream.join(F.broadcast(trust), "_src_host", "left")
        else:
            link_stream = link_stream.withColumn(
                "_trust", F.lit(None).cast("double")
            )
        link_stream = link_stream.select(
            "url", "depth", F.coalesce(F.col("_trust"), F.lit(0.0)).alias("_dep")
        )
    if cfg.max_depth is not None:
        link_stream = link_stream.filter(F.col("depth") <= cfg.max_depth)
    links = link_stream.groupBy("url").agg(*link_aggs)
    links = _with_url_cols(links, cfg.num_buckets)
    links = anti_join_seen(
        links, seen, bloom_sidecar=bloom_sidecar, num_buckets=cfg.num_buckets
    )
    links = links.join(new_seen.select("url_hash"), "url_hash", "left_anti")

    # localCheckpoint (not cache): materializes AND truncates lineage, so the
    # logical plan stays flat across rounds instead of growing exponentially
    frontier_cols = ["url", "depth"] + (["inlinks"] if use_pri else [])
    new_frontier = (
        links.select(*frontier_cols)
        .unionByName(deferred.select(*frontier_cols))
        .localCheckpoint(eager=False)
    )
    # the one big action: materializes every cache along the pipeline
    frontier_next = new_frontier.count()

    # bloom sidecar delta / heal replacement — all distributed, no collect
    appends_extra = {}
    if cfg.use_bloom:
        bloom_delta = build_bloom_sidecar(
            new_seen.select("url_hash"), cfg.num_buckets, cfg.bloom_bucket_bits
        )
        if not bloom_healed:
            # bitmap delta over just this round's newly-seen keys; OR-merged
            # with earlier deltas inside each bucket's probe task at read
            appends_extra["bloom"] = bloom_delta

    # phase-1 commit: the seen/parsed/frontier (+bloom delta) writes start
    # on background driver threads NOW; the stats aggregate below runs
    # concurrently with them. The manifest swap waits for everything.
    round_replaces = {"frontier": new_frontier.select(*frontier_cols)}
    if cfg.use_bloom and bloom_healed:
        # heal round: replace the whole sidecar with (rebuilt ∪ this round's
        # delta), OR-merged to one row per bucket — distributed end to end
        round_replaces["bloom"] = or_merge_sidecar(
            bloom_sidecar.unionByName(bloom_delta)
        )
    if pre_quota is not None:
        # merge this round's small new_seen delta into the host rollup —
        # the quota gate's counts never rescan the full seen table
        delta = new_seen.groupBy(host_of(F.col("url")).alias("host")).agg(
            F.count(F.lit(1)).alias("n")
        )
        round_replaces["host_counts"] = (
            host_counts.select("host", F.col("_hc").alias("n"))
            .unionByName(delta)
            .groupBy("host")
            .agg(F.sum("n").alias("n"))
        )
    if cfg.trap_filter:
        # narrow per-parse evidence rows (url unique per generation, so the
        # host rollup's countDistinct(url) is exact); digests accumulate
        # across generations — content signatures stay valid on a recrawl.
        # content_dup rows MUST be logged too: they are parse-routed bodies
        # whose digest was already claimed — exactly the infinite-URL/
        # finite-content evidence the trap ratio feeds on. Filtering on
        # is_parse alone would let content_dedup starve the log down to one
        # URL per digest and the ratio trigger could never fire.
        from ..operators.traps import path_depth as _trap_depth

        evidence = parsed.filter(
            F.col("action").isin("parse", "content_dup")
        ).select("url", "digest")
        appends_extra["trap_log"] = evidence
        ev = evidence.select(
            host_of(F.col("url")).alias("host"),
            "url",
            "digest",
            _trap_depth(F.col("url")).cast("long").alias("_depth"),
        )
        # the pair sets carry the seen-table bucket layout (hash-bucket
        # column, one file per bucket dir per round, partition_by below):
        # their per-round anti-join probe is delta-vs-bucketed-set, and on
        # the real cluster the Iceberg storage-partitioned-join mapping
        # (README "Scale design") removes the history-side Exchange exactly
        # as for `seen`. The url bucket uses the CANONICAL url keying
        # (sha1, like _with_url_cols/seen) so the pair set really is
        # co-partitioned with seen; bucket is WRITE LAYOUT ONLY and never a
        # join key — dedup correctness must survive a num_buckets change
        # across resumes (the same contract as the seen anti-join, whose
        # bloom sidecar self-heals on re-bucketing). Dirs written under an
        # earlier bucket keying keep their old values harmlessly (layout
        # hint only); full co-partition parity for old files comes back
        # after a maintenance rewrite, never a correctness concern.
        u_bkt = url_hash_bucket(sha1_hex(F.col("url")), cfg.num_buckets).alias(
            "bucket"
        )
        d_bkt = url_hash_bucket(F.col("digest"), cfg.num_buckets).alias("bucket")
        # incremental: this round's NEW (host,url)/(host,digest) pairs via
        # anti-join against the pair sets — the same delta-probe shape as
        # the url-seen anti-join; the counts rollup then merges
        # sum-mergeable deltas (countDistinct over the full log never
        # reruns, so per-round GATE cost stays O(delta); the probe pays one
        # bucketed join against the pair history, like `seen`)
        old_u = store.read("trap_url_pairs")
        old_d = store.read("trap_digest_pairs")
        # in-round distinct on BOTH pair sets: a corpus with duplicate url
        # rows fans out the fetch join, and double-counted pairs would
        # permanently inflate the rollup away from the countDistinct contract
        u_pairs = ev.select("host", "url", u_bkt).distinct()
        d_pairs = (
            ev.filter(F.col("digest").isNotNull())
            .select("host", "digest", d_bkt)
            .distinct()
        )
        # anti-join on the NATURAL keys only — never the bucket column (see
        # the layout note above)
        u_new = _cached(
            u_pairs
            if old_u is None
            else u_pairs.join(old_u.select("host", "url"), ["host", "url"], "left_anti")
        )
        d_new = _cached(
            d_pairs
            if old_d is None
            else d_pairs.join(
                old_d.select("host", "digest"), ["host", "digest"], "left_anti"
            )
        )
        appends_extra["trap_url_pairs"] = u_new.repartition(cfg.num_buckets, "bucket")
        appends_extra["trap_digest_pairs"] = d_new.repartition(
            cfg.num_buckets, "bucket"
        )
        zero = F.lit(0).cast("long")
        parts = [
            u_new.groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_urls"))
            .select("host", "n_urls", zero.alias("n_content"), zero.alias("max_depth")),
            d_new.groupBy("host")
            .agg(F.count(F.lit(1)).alias("n_content"))
            .select("host", zero.alias("n_urls"), "n_content", zero.alias("max_depth")),
            ev.groupBy("host")
            .agg(F.max("_depth").alias("max_depth"))
            .select("host", zero.alias("n_urls"), zero.alias("n_content"), "max_depth"),
        ]
        if trap_counts is not None:
            parts.append(trap_counts.select("host", "n_urls", "n_content", "max_depth"))
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        round_replaces["trap_counts"] = merged.groupBy("host").agg(
            F.sum("n_urls").alias("n_urls"),
            F.sum("n_content").alias("n_content"),
            F.max("max_depth").alias("max_depth"),
        )
    if cfg.demote_soft404:
        from ..operators.soft404 import soft404_signals

        s404_delta = soft404_signals(
            parsed.filter(is_parse).select("host", "title", "text")
        ).select("host", F.col("soft404").cast("int").alias("soft404"))
        appends_extra["soft404_log"] = s404_delta
        # merge this round's delta into the (host, n, s) rollup — the gate's
        # counts never rescan the accumulated log (host_counts pattern)
        delta_counts = s404_delta.groupBy("host").agg(
            F.count(F.lit(1)).alias("n"), F.sum("soft404").cast("long").alias("s")
        )
        round_replaces["soft404_counts"] = (
            delta_counts
            if s404_counts is None
            else s404_counts.unionByName(delta_counts)
            .groupBy("host")
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        )
    if cfg.priority == "trust":
        # this round's DISTINCT host pairs (parse + 304-reused adjacency) —
        # the ledger the next round's TrustRank runs over. Appends are
        # deduped against the existing ledger (anti-join, the pair-set
        # pattern): a stable host graph re-mentioned every round would
        # otherwise grow the table linearly with ROUNDS, and the per-round
        # trustrank distinct would rescan ever more duplicate rows.
        round_edges = (
            parsed.filter(F.col("action").isin("parse", "not_modified"))
            .select(
                F.col("host").alias("src"), F.explode("out_links").alias("_dst")
            )
            .select("src", host_of(F.col("_dst")).alias("dst"))
            .distinct()
        )
        appends_extra["host_edges"] = (
            round_edges
            if hedges is None
            else round_edges.join(hedges, ["src", "dst"], "left_anti")
        )
    if cfg.content_dedup:
        # the digests that actually parsed this round — each unique in-batch
        # (rn=1) and previously unknown, so the table stays a digest-keyed
        # set; bucket layout mirrors the seen table (one file per bucket/round)
        appends_extra["content_seen"] = (
            parsed.filter(is_parse)
            .select(
                "digest",
                "url",
                url_hash_bucket("digest", cfg.num_buckets).alias("bucket"),
            )
            .repartition(cfg.num_buckets, "bucket")
        )
    handle = store.begin_commit(
        round_no,
        appends={
            **appends_extra,
            # one task per bucket -> one file per bucket dir per round; without
            # this, every shuffle task writes a file into every bucket dir and
            # the seen table degenerates into thousands of tiny files
            "seen": new_seen.repartition(cfg.num_buckets, "bucket"),
            # writeToDB (XPathCrawlerThread.java:254-259): only successfully
            # parsed 200s persist; warc_ts recorded for If-Modified-Since
            "parsed": parsed.filter(is_parse).select(
                "url", "url_hash", "depth", "title", "meta", "text", "out_links",
                "lang", "warc_ts", "fetched", "round",
            ),
        },
        replaces=round_replaces,
        partition_by={
            "seen": ["bucket"],
            **({"content_seen": ["bucket"]} if cfg.content_dedup else {}),
            **(
                {"trap_url_pairs": ["bucket"], "trap_digest_pairs": ["bucket"]}
                if cfg.trap_filter
                else {}
            ),
        },
    )

    # all counters in ONE job over the now-materialized caches (1-row
    # aggregates cross-joined; each side is a cache scan, no recompute)
    stats_df = (
        raw.agg(*raw_exprs)
        .crossJoin(cand.agg(*cand_exprs))
        .crossJoin(scheduled.agg(*sched_exprs))
        .crossJoin(parsed.agg(*parse_exprs))
    )
    if pre_quota is not None:
        stats_df = stats_df.crossJoin(
            pre_quota.agg(F.count(F.lit(1)).alias("n_pre_quota"))
        )
    if pre_trap is not None:
        stats_df = stats_df.crossJoin(
            pre_trap.agg(F.count(F.lit(1)).alias("n_pre_trap"))
        )
    if flagged404 is not None:
        stats_df = stats_df.crossJoin(
            flagged404.agg(F.count(F.lit(1)).alias("n_s404_hosts"))
        )
    stats = {
        k: (v if v is not None else 0)
        for k, v in stats_df.collect()[0].asDict().items()
    }
    urls_in = stats["n_raw"]
    n_denied = stats["n_denied"]
    fresh = stats["n_ok"] + n_denied
    n_sched = stats["n_sched"]
    acts = {a: stats[a] for a in action_names}
    fetch_hits = sum(n for a, n in acts.items() if a != "miss")

    # the first post-dedup gate's input defines what "deduped" means:
    # candidates dropped by trap/quota gates are NOT dedups
    first_gate = (
        stats["n_pre_trap"]
        if pre_trap is not None
        else (stats["n_pre_quota"] if pre_quota is not None else fresh)
    )
    metrics = {
        "round": round_no,
        "urls_in": urls_in,
        "deduped": urls_in - first_gate,
        "robots_denied": n_denied,
        "politeness_deferred": (fresh - n_denied) - n_sched,
        "scheduled": n_sched,
        "fetch_hits": fetch_hits,
        "fetch_misses": n_sched - fetch_hits,
        "parsed_pages": acts.get("parse", 0),
        "redirects": acts.get("redirect", 0),
        "not_modified": acts.get("not_modified", 0),
        "mime_rejected": acts.get("mime_reject", 0),
        "size_rejected": acts.get("size_reject", 0),
        "frontier_next": frontier_next,
    }
    if pre_quota is not None:
        metrics["quota_dropped"] = stats["n_pre_quota"] - fresh
    if pre_trap is not None:
        metrics["trap_dropped"] = stats["n_pre_trap"] - (
            stats["n_pre_quota"] if pre_quota is not None else fresh
        )
    if cfg.demote_soft404:
        # always present when the knob is on (round 1 has no log yet) —
        # per-round metric schema must not drift across a generation
        metrics["soft404_hosts"] = (
            stats["n_s404_hosts"] if flagged404 is not None else 0
        )
    if cfg.content_dedup:
        metrics["content_dup"] = acts.get("content_dup", 0)
    if cfg.use_bloom:
        metrics["bloom_delta"] = True  # _bloom_lags reads this from history
    if pre_quota is not None:
        metrics["host_counts_delta"] = True  # _host_counts_lag continuity

    # per-partition lineage (north_rule) + 1-row metrics: observed above —
    # written driver-side, no Spark job per tiny table
    import pandas as pd

    lineage_pdf = pd.DataFrame(
        [
            (b, stats[f"b{b}"], round_no)
            for b in range(cfg.num_buckets)
            if stats.get(f"b{b}", 0) > 0
        ],
        columns=["bucket", "scheduled", "round"],
    ).astype({"bucket": "int64", "scheduled": "int64", "round": "int64"})
    metrics_pdf = pd.DataFrame([metrics])

    # phase-2 commit: wait for the background writes, then the atomic
    # manifest swap. (The edges table stays derivable from parsed —
    # out_links IS the adjacency, like ParsedDocument.extractedUrls.)
    store.finish_commit(
        handle,
        small_appends={"metrics": metrics_pdf, "lineage": lineage_pdf},
        extra=metrics,
    )

    for df in caches:
        df.unpersist()
    if return_frontier:
        # new_frontier is already (url, depth); checkpoint blocks are freed by
        # the context cleaner once the caller drops the reference
        return metrics, new_frontier
    return metrics


def parsed_latest(store: SnapshotStore) -> DataFrame | None:
    """MERGE-on-read view of the parsed table: latest round per url_hash.
    Recrawl generations append re-parsed rows; this view is what a reader
    (and the 304 check) sees — the reference's BDB primary-index get by
    SHA1(url) (XPathCrawlerThread.java:131-133)."""
    parsed = store.read("parsed")
    if parsed is None:
        return None
    from pyspark.sql import Window

    w = Window.partitionBy("url_hash").orderBy(F.desc("round"))
    return (
        parsed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def edges_from_parsed(store: SnapshotStore) -> DataFrame | None:
    """Link-graph edge list (src, dst) from the parsed table's adjacency
    column — the reference's ParsedDocument.extractedUrls re-read for the
    ranker (Ranker/src/.../FileManagement.java:176-184). Input to pagerank()."""
    parsed = store.read("parsed")
    if parsed is None:
        return None
    return parsed.select(F.col("url").alias("src"), F.explode("out_links").alias("dst"))


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str],
    state_dir: str,
    cfg: CrawlConfig | None = None,
    resume: bool = False,
    recrawl: bool = False,
) -> tuple[SnapshotStore, list[dict]]:
    """Drive rounds until a stop condition. With resume=True, continue from
    the last committed snapshot (no re-fetch of completed rounds). With
    recrawl=True (existing state dir), start a NEW crawl generation over the
    stored documents: frontier reset to seeds, seen-set emptied, parsed
    kept — unchanged pages (warc_ts not advanced) answer 304 and reuse
    their stored out_links; changed pages re-fetch and MERGE-upsert."""
    cfg = cfg or CrawlConfig()
    store = SnapshotStore(spark, state_dir)
    stored: DataFrame | None = None

    # validate BEFORE any Spark job runs: the misuse path must not pay a
    # robots parse or pin a cache it never unpersists
    if store.current_round() >= 0 and not (resume or recrawl):
        raise ValueError(f"state dir {state_dir} already has a crawl; pass resume=True")

    # standard mode parses quirk columns AND std_rules in ONE Arrow pass over
    # one pages scan (no second scan + join for the same bodies)
    robots = build_robots_df(
        spark, pages, with_standard=(cfg.robots_mode == "standard")
    ).cache()
    robots.count()

    sitemap_seed_df: DataFrame | None = None
    if cfg.seed_from_sitemaps and (store.current_round() < 0 or recrawl):
        from ..sources.sitemaps import default_sitemap_urls, expand_sitemaps

        sitemap_seed_df = (
            expand_sitemaps(pages, default_sitemap_urls(robots))
            .select(F.col("seed_url").alias("url"))
            .distinct()
        )

    if store.current_round() < 0:
        init_crawl(spark, store, seeds, cfg, extra_seed_df=sitemap_seed_df)
    elif recrawl:
        stored = parsed_latest(store)
        if stored is not None:
            # snapshot of the PRIOR generation's docs; DISK_ONLY — html-wide
            # columns are pruned out, but text can still be multi-GB in-heap
            stored = stored.select("url", "warc_ts", "out_links").persist(
                StorageLevel.DISK_ONLY
            )
            stored.count()
        frontier0 = _seed_frontier(spark, seeds, sitemap_seed_df)
        empty_seen = spark.createDataFrame(
            [], schema="url_hash string, url string, bucket int"
        )
        store.commit_round(
            store.current_round() + 1,
            replaces={
                "frontier": frontier0,
                "seen": empty_seen,
                "seed_hosts": frontier0.select(
                    host_of(F.col("url")).alias("host")
                ).distinct(),
            },
            extra={"phase": "recrawl"},
        )
        # stale bitmaps / host rollups / body digests describe the previous
        # generation's seen set, which a recrawl resets
        store.drop_table("bloom")
        store.drop_table("host_counts")
        store.drop_table("content_seen")

    # max_pages / max_rounds / metrics are per-generation (each reference
    # run has its own TotalMaxRequests budget and round count)
    gen_hist = _generation_history(store.manifest()["history"])
    total_scheduled = sum(h.get("scheduled", 0) for h in gen_hist)
    round_no = store.current_round() + 1
    rounds_used = len([h for h in gen_hist if "scheduled" in h])
    last_round = round_no + (cfg.max_rounds - rounds_used) - 1
    all_metrics = [h for h in gen_hist if "scheduled" in h]

    # frontier rides in memory between rounds (still committed every round —
    # resume reads the snapshot; this only skips the happy-path parquet read)
    frontier_df: DataFrame | None = None
    while round_no <= last_round:
        if total_scheduled >= cfg.max_pages:
            break
        t0 = time.time()
        if frontier_df is None:
            frontier_df = store.read("frontier")
            if frontier_df is None:
                break  # resumed a finished crawl: frontier drained to empty
        m, next_frontier = run_round(
            spark, store, pages, robots, cfg, round_no, frontier=frontier_df,
            stored=stored,
        )
        frontier_df = next_frontier
        m["wall_s"] = round(time.time() - t0, 3)
        all_metrics.append(m)
        total_scheduled += m["scheduled"]
        if m["frontier_next"] == 0:
            break
        # parsed compaction is deferred during a recrawl generation: `stored`
        # (the DISK_ONLY prior-gen snapshot) recomputes lost blocks from the
        # ORIGINAL parquet paths, which compact() deletes — an executor loss
        # after a mid-generation compact would FileNotFound on recompute
        if (
            cfg.compact_parsed_every
            and stored is None
            and round_no % cfg.compact_parsed_every == 0
        ):
            store.compact("parsed")
        if cfg.compact_every and round_no % cfg.compact_every == 0:
            store.compact("seen", partition_cols=["bucket"])
            if cfg.expire_keep_snapshots:
                store.expire_snapshots(keep_last=cfg.expire_keep_snapshots)
            if cfg.use_bloom:
                # pre-OR-merge the per-round bitmap deltas to one row per
                # bucket (caps sidecar size at num_buckets rows instead of
                # O(rounds) deltas) — distributed, never through the driver
                bdf = store.read("bloom")
                if bdf is not None:
                    store.replace_with("bloom", or_merge_sidecar(bdf))
        round_no += 1

    robots.unpersist()
    if stored is not None:
        stored.unpersist()
    return store, all_metrics
