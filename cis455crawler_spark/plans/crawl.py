"""The crawl plan: a round-synchronous URL-frontier + fetch scheduler.

One round = one DataFrame DAG (SURVEY.md §3.1), replacing the reference's
20-thread queue loop (XPathCrawlerThread.java:78-266) and master/worker
round-trip (MasterServlet.java:78-185). Every round reads its frontier and
seen set from the last committed snapshot and commits the next one, so a
round run straight after another and a round resumed from a state dir take
one path, and no DataFrame lives from one round to the next. plan_round
builds the round's DAG lazily, with no Spark action; run_round's COMMIT
writes are the round's action, beside one stats job (the next frontier is
counted from its written files). The spine is fixed; the opt-in gates
(plans/gates.py) plug in at its four capitalized stages:

    frontier_r (snapshot scan)
      -> canonicalize + sha1 (JVM cols)                 [O-X1/X2]
      -> anti-join seen                                 [O-J2/O-F6]
      -> ADMIT gates
      -> broadcast-join robots + quirk predicate        [O-J1/O-F4]
      -> BUDGET gates
      -> salted per-host budget window pop              [O-W2/O-F5]
      -> "fetch" = left join pages on url -> html       [O-S4]
      -> status/MIME/size routing                       [O-F1/F2/F3/O-X9]
           miss | redirect (301/302) | not_modified (304, recrawl)
                | mime_reject | size_reject | parse
      -> ROUTE gates
      -> Arrow UDF link+text extraction, JVM resolution [O-X3/X4/X5/O-F7]
         (parse rows only; not_modified rows reuse stored out_links —
          XPathCrawlerThread.java:231-253)
      -> DEPOSIT gates -> explode -> dedup -> anti-join (seen + batch) [O-J2/O-U3]
      -> COMMIT seen+/parsed+/metrics+/lineage+, frontier, gate tables (one
         snapshot, plain parquet files; seen's `bucket` is a data column);
         the link graph (edges) stays derivable from parsed.out_links

Seen-set semantics follow the reference exactly: scheduled URLs are marked
seen at schedule time (XPathCrawlerThread.java:122-126), robots-DENIED URLs
are also marked seen (:455-487 — every deny branch adds to visitedURL),
politeness-deferred URLs are NOT (they are re-enqueued, :443-447), and
301/302 Location targets are marked seen WITHOUT being enqueued
(:148-175 — the reference's redirect-enqueue is an unimplemented TODO).
Only action='parse' rows are written to the parsed table (writeToDB,
:254-259); rejects/redirects/misses leave no document behind.

A generation starts with one commit (init_crawl): phase "init" on a fresh
store, else phase "recrawl" (If-Modified-Since, :129-146) — frontier reset
to seeds, seen and the gates' per-generation tables dropped, parsed kept.
Unchanged pages (warc_ts not past the stored row's) answer 304 and reuse
stored out_links: no re-parse, no rewrite (MERGE: parsed appends, read via
parsed_latest()). Every run_crawl call of a recrawl generation, a resumed
one too, loads that 304 snapshot.

Stop conditions, checked before each round against the generation's
committed history: the last round left an empty frontier (frontier_next
== 0), or total scheduled >= max_pages (TotalMaxRequests,
Crawler/conf/master/web.xml:22-24), or max_rounds — max_pages counts the
current generation only (each reference run has its own TotalMaxRequests
budget). So resuming a drained crawl commits nothing.
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
from ..operators.dedup import anti_join_seen
from ..operators.scheduler import host_budget, pop_host_batches
from ..sources.tables import SnapshotStore
from .gates import GATES, _generation_history, through


@dataclass
class CrawlConfig:
    max_rounds: int = 50
    max_pages: int = 100_000  # TotalMaxRequests
    round_duration_s: int = 60
    salt_buckets: int = 8
    num_buckets: int = 32  # bucket ids of the seen rows and the lineage
    compact_every: int = 8
    max_content_bytes: int = MAX_CONTENT_BYTES_DEFAULT  # O-F2 size gate
    # keep the last K round-snapshots time-travel-readable and delete data
    # dirs nothing retained references (runs with compaction); None = retain
    # every snapshot (no dir ever deleted, time-travel to any round)
    expire_keep_snapshots: int | None = None
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
    # opt-in per-host admission cap (gates.HostQuota); None = unbounded, the
    # reference behavior the parity gate requires
    max_urls_per_host: int | None = None
    # opt-in frontier ordering (beyond reference): "bfs" (default — the
    # reference-parity url-ascending determinization), "indegree" — a
    # host-keyed priority queue popping the most-linked-to candidates first
    # (OPIC-lite: every discovered link deposits one unit of cash on its
    # target; deferred candidates keep accumulating across rounds) — or
    # "trust", where each mention deposits its source host's TrustRank
    # instead (gates.TrustDeposits). Both change WHICH urls beat the budget
    # each round, so the BFS-parity gate requires "bfs". Do not flip between
    # indegree and trust mid-crawl (the cash column changes type/meaning).
    priority: str = "bfs"
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
    # opt-in content-seen test (gates.ContentDedup; beyond reference, which
    # dedups URLs only). Default off for parity.
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
    # opt-in Mercator trap containment (gates.TrapFilter). Default off — the
    # parity gate admits every host like the reference.
    trap_filter: bool = False
    trap_ratio_threshold: float = 5.0
    trap_depth_threshold: int = 12
    # opt-in soft-404 demotion (gates.Soft404Demotion). Default off for parity.
    demote_soft404: bool = False

    def __post_init__(self) -> None:
        if self.priority not in ("bfs", "indegree", "trust"):
            raise ValueError(f"unknown priority mode {self.priority!r}")
        if self.resolve_mode not in ("quirk", "standard"):
            raise ValueError(f"unknown resolve mode {self.resolve_mode!r}")
        if self.robots_mode not in ("quirk", "standard"):
            raise ValueError(f"unknown robots mode {self.robots_mode!r}")
        if self.num_buckets < 1 or self.salt_buckets < 1:
            raise ValueError("num_buckets and salt_buckets must be >= 1")


def _with_url_cols(df: DataFrame, num_buckets: int) -> DataFrame:
    df = df.withColumn("url_hash", sha1_hex("url")).withColumn("host", host_of("url"))
    return df.withColumn("bucket", url_hash_bucket("url_hash", num_buckets))


def init_crawl(
    spark: SparkSession,
    store: SnapshotStore,
    seeds: list[str],
    cfg: CrawlConfig,
    extra_seed_df: DataFrame | None = None,
) -> None:
    """Start a crawl generation with one commit: round 0, phase "init", on
    a fresh store, else the next round, phase "recrawl". frontier = the
    explicit seed list (MasterServlet.java:305-311), optionally unioned with
    a distributed extra-seed DataFrame (url STRING — the sitemap-discovery
    path, which never passes through the driver); seed_hosts = the trust
    teleport set (tiny, always committed so the knob can toggle on
    mid-crawl). The same swap drops seen and the per-generation tables."""
    frontier0 = spark.createDataFrame(
        [(u, 0) for u in dict.fromkeys(seeds)], schema="url string, depth int"
    )
    if extra_seed_df is not None:
        frontier0 = frontier0.unionByName(
            extra_seed_df.select(F.col("url"), F.lit(0).alias("depth"))
        ).dropDuplicates(["url"])
    hosts = frontier0.select(host_of(F.col("url")).alias("host")).distinct()
    resets = dict.fromkeys(["seen", *(t for g in GATES for t in g.per_generation)])
    round_no = store.current_round() + 1
    store.commit_round(
        round_no,
        replaces={"frontier": frontier0, "seed_hosts": hosts, **resets},
        extra={"phase": "recrawl" if round_no else "init"},
    )


def _fetch(
    scheduled: DataFrame, pages: DataFrame, stored: DataFrame | None, cfg: CrawlConfig
) -> DataFrame:
    """The "fetch": join the scheduled batch against the pages corpus, then
    route on derived HTTP metadata (status / Content-Type / Content-Length)
    in the reference's check order, and — in a recrawl generation — against
    the stored parsed snapshot for the 304 If-Modified-Since answer."""
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
    return fetched.withColumn(
        "action",
        route_fetch(
            "html",
            "url",
            stored_ts=F.col("stored_ts"),
            warc_ts=F.col("warc_ts"),
            max_content_bytes=cfg.max_content_bytes,
        ),
    )


def _parse(routed: DataFrame, resolve_mode: str, round_no: int) -> DataFrame:
    """ONE Arrow pass over html (parse rows only) extracts hrefs+text
    together; title stays JVM-side. Hrefs resolve JVM-side against the
    page URL, whose parts bind ONCE per row via bind_once: bare inside the
    transform lambda they would re-evaluate per extracted HREF (HOF bodies
    get no subexpression elimination)."""
    is_parse = F.col("action") == "parse"
    if resolve_mode == "standard":
        from ..functions.urls import resolve_href_standard as _resolve
    else:
        _resolve = resolve_href
    return (
        routed.withColumn("_p", parse_page_udf(F.when(is_parse, F.col("html"))))
        .withColumn(
            "out_links",
            # 304 reuses the stored document's extracted links
            # (XPathCrawlerThread.java:231-253); everything non-parse else
            # contributes nothing
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


def _round_stats(
    raw: DataFrame,
    cand: DataFrame,
    scheduled: DataFrame,
    parsed: DataFrame,
    action_names: list[str],
    num_buckets: int,
    extra: list[DataFrame],
) -> dict:
    """Every per-round counter from ONE job of cross-joined 1-row aggregates
    (plus the `extra` ones) over the round's caches, which the commit's
    writes fill concurrently — a block another job is computing is waited
    for, not recomputed. NOTE df.observe() was tried and REVERTED:
    CollectMetrics nodes beneath an InMemoryRelation silently return
    empty/null rows depending on AQE settings. AQE splits a round's actions
    into about 35 Spark jobs (crawlbench/README.md, traced table)."""
    stats_df = (
        raw.agg(F.count(F.lit(1)).alias("n_raw"))
        .crossJoin(
            cand.agg(
                F.sum(F.when(F.col("allowed"), 1).otherwise(0)).alias("n_ok"),
                F.sum(F.when(~F.col("allowed"), 1).otherwise(0)).alias("n_denied"),
            )
        )
        .crossJoin(
            # per-bucket lineage counts ride along as scalar sums
            scheduled.agg(
                F.count(F.lit(1)).alias("n_sched"),
                *[
                    F.sum(F.when(F.col("bucket") == b, 1).otherwise(0)).alias(f"b{b}")
                    for b in range(num_buckets)
                ],
            )
        )
        .crossJoin(
            parsed.agg(
                *[
                    F.sum(F.when(F.col("action") == a, 1).otherwise(0)).alias(a)
                    for a in action_names
                ]
            )
        )
    )
    for c in extra:
        stats_df = stats_df.crossJoin(c)
    return {
        k: (v if v is not None else 0)
        for k, v in stats_df.collect()[0].asDict().items()
    }


@dataclass
class RoundPlan:
    """One round's lazy DAG, as plan_round leaves it: no Spark action has
    run on any of these frames."""

    gates: tuple  # this round's gate instances, in spine order
    # every frame this round caches or persists; released together after
    # the commit (CacheManager entries must not grow with rounds)
    caches: list[DataFrame]
    raw: DataFrame  # the frontier distinct on url, with its url columns
    admit_in: list[tuple]  # (admit gate, its cached input)
    cand: DataFrame  # fresh candidates with the robots verdict
    scheduled: DataFrame  # the politeness pop's batch
    parsed: DataFrame  # the fetched, routed and parsed batch
    new_seen: DataFrame  # this round's seen-set append
    frontier: DataFrame  # next round's frontier, as the commit writes it

    def release(self) -> None:
        for df in self.caches:
            df.unpersist()


def plan_round(
    spark: SparkSession,
    store: SnapshotStore,
    pages: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
    round_no: int,
    stored: DataFrame | None = None,
) -> RoundPlan:
    """The round's DAG up to its commit writes, built without running a Spark
    job (the trust gate's TrustRank power steps aside), from the frontier
    and seen set of the last committed snapshot. `stored` (recrawl
    generations only) is the prior generation's parsed-latest snapshot
    (url, warc_ts, out_links) answering the 304 If-Modified-Since check."""
    caches: list[DataFrame] = []

    def _cached(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
        df = df.cache() if level is None else df.persist(level)
        caches.append(df)
        return df

    frontier = store.read("frontier")
    seen = store.read("seen")
    gates = tuple(g(store, cfg, seen, _cached) for g in GATES if g.wanted(cfg))
    deposits = any(g.stage == "deposit" for g in gates)

    # candidate set: frontier distinct on url (min depth), minus seen.
    # indegree/trust modes additionally accumulate each url's link-mention
    # cash (sum survives the distinct; deferred rows carry their balance)
    use_pri = cfg.priority in ("indegree", "trust")
    if use_pri and "inlinks" not in frontier.columns:
        # round-0 seeds / a frontier table written before the toggle;
        # deposit gates pay fractional cash, so their seeds start with none
        frontier = frontier.withColumn(
            "inlinks", F.lit(0.0) if deposits else F.lit(1).cast("long")
        )
    agg_exprs = [F.min("depth").alias("depth")] + (
        [F.sum("inlinks").alias("inlinks")] if use_pri else []
    )
    raw = _cached(
        _with_url_cols(frontier.groupBy("url").agg(*agg_exprs), cfg.num_buckets)
    )
    fresh_cand = anti_join_seen(raw, seen)

    # admit gates drop candidates for good; the stats job counts each one's
    # cached input, and the counts chain into the per-gate drop metrics
    admit_in: list[tuple] = []
    for g in gates:
        if g.stage == "admit":
            admit_in.append((g, _cached(fresh_cand)))
            fresh_cand = g.admit(admit_in[-1][1])

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
    ok = through(gates, "budget", ok)

    # politeness pop (salted two-phase window)
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

    routed = _fetch(scheduled, pages, stored, cfg)
    if any(g.digest for g in gates):
        # one md5 pass over the parse-routed bodies serves every gate
        routed = routed.withColumn(
            "digest", F.when(F.col("action") == "parse", F.md5(F.col("html")))
        )
    routed = through(gates, "route", routed)

    # cached for its three consumers (links explode, parsed write, stats)
    # AND because explode-over-a-UDF-derived-array splits into a size>0
    # Filter + Generate pair that each re-eval the UDF when uncached —
    # without this cache the Arrow parse would run TWICE per page on the
    # links path alone (asserted in tests/test_plan_properties.py)
    parsed = _cached(_parse(routed, cfg.resolve_mode, round_no))

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
        redirect_targets = anti_join_seen(redirect_targets, seen).join(
            batch_seen.select("url_hash"), "url_hash", "left_anti"
        )
        # cached: evaluated by the pipeline job (links anti-join) and the
        # seen write — uncached each re-runs the redirect anti-join against
        # the seen table
        new_seen = _cached(batch_seen.unionByName(redirect_targets))

    # discovered links -> next frontier (dedup within batch, anti-join
    # seen+batch). Cash per link MENTION (a page linking twice votes twice —
    # the reference's extractor keeps duplicate hrefs, O-X4 doc order):
    # indegree pays 1 unit, a deposit gate pays its `_dep` column
    linked = through(gates, "deposit", parsed)
    cash = ["_dep"] if deposits else []
    link_stream = linked.select(
        F.explode("out_links").alias("url"), (F.col("depth") + 1).alias("depth"), *cash
    )
    if cfg.follow_redirects:
        link_stream = link_stream.unionByName(
            linked.filter(F.col("action") == "redirect").select(
                location_of("url").alias("url"), (F.col("depth") + 1).alias("depth"), *cash
            )
        )
    if cfg.max_depth is not None:
        link_stream = link_stream.filter(F.col("depth") <= cfg.max_depth)
    link_aggs = [F.min("depth").alias("depth")]
    if deposits:
        link_aggs.append(F.sum("_dep").alias("inlinks"))
    elif cfg.priority == "indegree":
        link_aggs.append(F.count(F.lit(1)).alias("inlinks"))
    links = anti_join_seen(
        _with_url_cols(link_stream.groupBy("url").agg(*link_aggs), cfg.num_buckets),
        seen,
    ).join(new_seen.select("url_hash"), "url_hash", "left_anti")

    frontier_cols = ["url", "depth"] + (["inlinks"] if use_pri else [])
    return RoundPlan(
        gates=gates,
        caches=caches,
        raw=raw,
        admit_in=admit_in,
        cand=cand,
        scheduled=scheduled,
        parsed=parsed,
        new_seen=new_seen,
        frontier=links.select(*frontier_cols).unionByName(
            deferred.select(*frontier_cols)
        ),
    )


def run_round(
    spark: SparkSession,
    store: SnapshotStore,
    pages: DataFrame,
    robots: DataFrame,
    cfg: CrawlConfig,
    round_no: int,
    stored: DataFrame | None = None,
) -> dict:
    """One scheduling round over the last committed snapshot: plan_round's
    DAG, run by the commit of the next snapshot (its table writes) beside
    one stats job. Returns the round's metrics; no frame outlives the
    round."""
    plan = plan_round(spark, store, pages, robots, cfg, round_no, stored)
    gates, parsed, new_seen = plan.gates, plan.parsed, plan.new_seen

    # phase-1 commit: the table writes ARE the round's action. They start
    # on background driver threads now and materialize the caches along the
    # pipeline; the stats job below runs concurrently with them and races
    # them for those caches (a block being computed is waited for, never
    # recomputed: the Arrow parse still runs once per page). The manifest
    # swap waits for everything.
    appends: dict[str, DataFrame] = {}
    replaces = {"frontier": plan.frontier}
    for g in gates:
        g_appends, g_replaces = g.commit(parsed, new_seen)
        appends.update(g_appends)
        replaces.update(g_replaces)
    appends["seen"] = new_seen
    # writeToDB (XPathCrawlerThread.java:254-259): only successfully parsed
    # 200s persist; warc_ts recorded for If-Modified-Since
    appends["parsed"] = parsed.filter(F.col("action") == "parse").select(
        "url", "url_hash", "depth", "title", "meta", "text", "out_links",
        "lang", "warc_ts", "fetched", "round",
    )
    # seen and the gate sets are plain appended files; `bucket` stays a
    # data column of each (no reader uses it; the lineage counts the
    # scheduled frame's)
    handle = store.begin_commit(round_no, appends=appends, replaces=replaces)

    action_names = ["miss", "redirect", "not_modified", "mime_reject",
                    "size_reject", "parse"] + [a for g in gates for a in g.actions]
    admit_counts = [
        pre.agg(F.count(F.lit(1)).alias(f"n_admit{i}"))
        for i, (_, pre) in enumerate(plan.admit_in)
    ]
    stats = _round_stats(
        plan.raw, plan.cand, plan.scheduled, parsed, action_names, cfg.num_buckets,
        admit_counts + [c for g in gates for c in g.counters()],
    )
    urls_in = stats["n_raw"]
    n_denied = stats["n_denied"]
    fresh = stats["n_ok"] + n_denied
    n_sched = stats["n_sched"]
    fetch_hits = sum(stats[a] for a in action_names if a != "miss")
    # candidates each admit gate saw, then what reached robots; a drop at
    # an admit gate is not a dedup
    chain = [stats[f"n_admit{i}"] for i in range(len(plan.admit_in))] + [fresh]

    metrics = {
        "round": round_no,
        "urls_in": urls_in,
        "deduped": urls_in - chain[0],
        "robots_denied": n_denied,
        "politeness_deferred": (fresh - n_denied) - n_sched,
        "scheduled": n_sched,
        "fetch_hits": fetch_hits,
        "fetch_misses": n_sched - fetch_hits,
        "parsed_pages": stats["parse"],
        "redirects": stats["redirect"],
        "not_modified": stats["not_modified"],
        "mime_rejected": stats["mime_reject"],
        "size_rejected": stats["size_reject"],
        # the next frontier is counted from its written files' footers,
        # not by an action of its own
        "frontier_next": store.rows_written(handle, "frontier"),
    }
    for (g, _), n_in, n_out in zip(plan.admit_in, chain, chain[1:]):
        metrics[g.dropped] = n_in - n_out
    for g in gates:
        metrics.update(g.metrics(stats))

    # per-partition lineage (north_rule) + 1-row metrics: written
    # driver-side, no Spark job per tiny table
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

    plan.release()
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
    stored documents (init_crawl): frontier reset to seeds, seen set and
    per-generation gate tables dropped, parsed kept — in that generation,
    resumed or not, unchanged pages (warc_ts not advanced) answer 304 and
    reuse their stored out_links; changed pages re-fetch and MERGE-upsert."""
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

    if store.current_round() < 0 or recrawl:
        sitemap_seed_df: DataFrame | None = None
        if cfg.seed_from_sitemaps:
            from ..sources.sitemaps import default_sitemap_urls, expand_sitemaps

            sitemap_seed_df = (
                expand_sitemaps(pages, default_sitemap_urls(robots))
                .select(F.col("seed_url").alias("url"))
                .distinct()
            )
        init_crawl(spark, store, seeds, cfg, extra_seed_df=sitemap_seed_df)

    # max_pages / max_rounds / metrics are per-generation (each reference
    # run has its own TotalMaxRequests budget and round count)
    history = store.manifest()["history"]
    gen_hist = _generation_history(history)
    total_scheduled = sum(h.get("scheduled", 0) for h in gen_hist)
    round_no = store.current_round() + 1
    all_metrics = [h for h in gen_hist if "scheduled" in h]
    last_round = round_no + (cfg.max_rounds - len(all_metrics)) - 1

    # every call that runs rounds of a recrawl generation (a resume too)
    # loads its 304 snapshot; the rows this generation re-parsed are of urls
    # it has seen, which no later round of it schedules again
    starts = [h["phase"] for h in history if h.get("phase") in ("init", "recrawl")]
    if starts and starts[-1] == "recrawl":
        stored = parsed_latest(store)
        if stored is not None:
            # the stored docs, persisted DISK_ONLY — html-wide
            # columns are pruned out, but text can still be multi-GB in-heap
            stored = stored.select("url", "warc_ts", "out_links").persist(
                StorageLevel.DISK_ONLY
            )
            stored.count()

    # every round starts from the last commit, so a fresh, a continued and
    # a resumed round take the same path; the committed history alone says
    # whether the frontier has drained
    while (
        round_no <= last_round
        and total_scheduled < cfg.max_pages
        and not (all_metrics and all_metrics[-1]["frontier_next"] == 0)
    ):
        t0 = time.time()
        m = run_round(spark, store, pages, robots, cfg, round_no, stored)
        m["wall_s"] = round(time.time() - t0, 3)
        all_metrics.append(m)
        total_scheduled += m["scheduled"]
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
            store.compact("seen")
            if cfg.expire_keep_snapshots:
                store.expire_snapshots(keep_last=cfg.expire_keep_snapshots)
        round_no += 1

    robots.unpersist()
    if stored is not None:
        stored.unpersist()
    return store, all_metrics
