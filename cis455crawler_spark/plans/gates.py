"""Opt-in crawl modules that plug into the fixed round spine
(plans/crawl.py: `plan_round` runs the stage hooks, `run_round` the
commit) — Mercator's pluggable URL-filter / processing-module
structure (Heydon & Najork, *Mercator: A Scalable, Extensible Web
Crawler*, WWW 1999). The spine passes its frames through the enabled gates
at four stages, in `GATES` order:

    admit    fresh candidates after the seen anti-join  (trap filter, host quota)
    budget   robots-allowed rows with a politeness budget (soft-404 demotion)
    route    fetched rows with their routing action       (content dedup)
    deposit  the parsed batch, before links explode       (trust deposits)

A gate sets `stage` and defines the hook of that name (DataFrame ->
DataFrame); the tables its knob commits, their layout, its stats counters
and its metric keys are declared on the gate too, so the spine names no
knob. Gates add no Spark action (the trust gate's TrustRank power steps
aside): their frames run in the round's pipeline, stats and write jobs.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import TYPE_CHECKING, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.urls import host_of, sha1_hex, url_hash_bucket
from ..operators.scheduler import pop_host_batches
from ..sources.tables import SnapshotStore

if TYPE_CHECKING:
    from .crawl import CrawlConfig


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


def _lags(history: list[dict], flag: str) -> bool:
    """True when some round of this generation appended to seen without
    committing the delta `flag` marks: a structure kept in step with seen by
    such deltas then under-covers it and MUST be rebuilt from seen."""
    return any("scheduled" in h and not h.get(flag) for h in _generation_history(history))


def merge_rollup(
    prior: DataFrame | None,
    deltas: list[DataFrame],
    sums: tuple[str, ...] = (),
    maxes: tuple[str, ...] = (),
) -> DataFrame:
    """`prior` (None before the first commit) plus this round's per-host
    deltas, re-aggregated per host; a delta's missing columns count as 0.
    Gates read such rollups, never the log they summarize, so per-round
    gate cost stays O(round delta), not O(pages crawled)."""
    cols = (*sums, *maxes)
    zero = F.lit(0).cast("long")
    frames = [
        d.select("host", *[F.col(c) if c in d.columns else zero.alias(c) for c in cols])
        for d in ([] if prior is None else [prior]) + deltas
    ]
    return (
        reduce(DataFrame.unionByName, frames)
        .groupBy("host")
        .agg(*[F.sum(c).alias(c) for c in sums], *[F.max(c).alias(c) for c in maxes])
    )


def new_keys(rows: DataFrame, stored: DataFrame | None, keys: list[str]) -> DataFrame:
    """The `rows` whose natural `keys` are not in `stored` (None: no table
    yet), so appends keep the table a set. Never keyed on bucket, a data
    column no reader uses: dedup must survive a num_buckets change."""
    if stored is None:
        return rows
    return rows.join(stored.select(*keys), keys, "left_anti")


@dataclass
class Gate:
    """One opt-in crawl module; a fresh instance per round holds that
    round's state between its stage hook and `commit(parsed, new_seen) ->
    (appends, replaces)`, which every gate defines."""

    store: SnapshotStore
    cfg: CrawlConfig
    seen: DataFrame | None
    cached: Callable[..., DataFrame]  # registers a frame for the round-end release

    stage = ""
    wanted = staticmethod(lambda cfg: False)  # does cfg turn this gate on
    dropped = ""  # admit gates: the metric key counting what they drop
    digest = False  # reads the parse-routed body digest column
    actions = ()  # extra routing actions the route hook assigns
    per_generation = ()  # one generation's seen-set tables; init_crawl drops them

    def counters(self) -> list[DataFrame]:
        """1-row aggregates of cached frames for the round's one stats job."""
        return []

    def metrics(self, stats: dict) -> dict:
        return {}


class TrapFilter(Gate):
    """Mercator trap containment: hosts whose evidence shows the
    infinite-URL/finite-content signature (distinct urls / distinct body
    digests >= ratio) or absurd path depth stop admitting candidates.
    Dropped urls are NOT marked seen: re-mentions drop again while the host
    stays flagged, and admit again if its ratio recovers. Evidence
    accumulates in trap_log from the round the knob turns on; the gate
    reads the trap_counts rollup, merged at commit with the round's new
    (host,url)/(host,digest) pairs."""

    stage = "admit"
    wanted = staticmethod(lambda cfg: cfg.trap_filter)
    dropped = "trap_dropped"
    digest = True

    def admit(self, cand: DataFrame) -> DataFrame:
        from ..operators.traps import is_trap_cond

        # (host, n_urls, n_content, max_depth), cached: read by the gate now
        # and by the merge at commit
        self.counts = self.store.read("trap_counts")
        if self.counts is None:
            return cand
        self.counts = self.cached(self.counts)
        trap_hosts = self.counts.filter(
            is_trap_cond(self.cfg.trap_ratio_threshold, self.cfg.trap_depth_threshold)
        ).select("host")
        return cand.join(F.broadcast(trap_hosts), "host", "left_anti")

    def commit(self, parsed: DataFrame, new_seen: DataFrame) -> tuple[dict, dict]:
        from ..operators.traps import path_depth

        # narrow per-parse evidence rows (url unique per generation; digests
        # accumulate across generations, so content signatures stay valid on
        # a recrawl). content_dup rows MUST be logged: they are exactly the
        # finite-content evidence the ratio feeds on, and content_dedup would
        # otherwise starve the log down to one URL per digest.
        evidence = parsed.filter(F.col("action").isin("parse", "content_dup")).select(
            "url", "digest"
        )
        ev = evidence.select(
            host_of(F.col("url")).alias("host"),
            "url",
            "digest",
            path_depth(F.col("url")).cast("long").alias("max_depth"),
        )
        # the pair sets are plain appended files like seen, with a `bucket`
        # data column (the url bucket uses the canonical sha1 keying); like
        # the seen anti-join, their probe still broadcasts or shuffles the
        # history side (ROADMAP item 4). In-round distinct: duplicate corpus
        # url rows fan out the fetch join, and double-counted pairs would
        # inflate the rollup away from the countDistinct contract.
        def new_pairs(key: str, bucket_key, table: str) -> DataFrame:
            bucket = url_hash_bucket(bucket_key, self.cfg.num_buckets).alias("bucket")
            rows = ev.filter(F.col(key).isNotNull()).select("host", key, bucket)
            return self.cached(
                new_keys(rows.distinct(), self.store.read(table), ["host", key])
            )

        u_new = new_pairs("url", sha1_hex(F.col("url")), "trap_url_pairs")
        d_new = new_pairs("digest", F.col("digest"), "trap_digest_pairs")
        counts = merge_rollup(
            self.counts,
            [
                u_new.groupBy("host").agg(F.count(F.lit(1)).alias("n_urls")),
                d_new.groupBy("host").agg(F.count(F.lit(1)).alias("n_content")),
                ev.groupBy("host").agg(F.max("max_depth").alias("max_depth")),
            ],
            sums=("n_urls", "n_content"),
            maxes=("max_depth",),
        )
        appends = {"trap_log": evidence, "trap_url_pairs": u_new, "trap_digest_pairs": d_new}
        return appends, {"trap_counts": counts}


class HostQuota(Gate):
    """Per-host admission cap: remaining budget = cap minus the host's
    seen-set size at round start; the salted two-phase pop admits the first
    `remaining` candidates per host in url order and drops the rest for
    good. Counts come from the host_counts rollup (host, n), rebuilt from
    seen only when it is missing or lags (quota toggled on mid-crawl)."""

    stage = "admit"
    wanted = staticmethod(lambda cfg: cfg.max_urls_per_host is not None)
    dropped = "quota_dropped"
    per_generation = ("host_counts",)

    def admit(self, cand: DataFrame) -> DataFrame:
        rollup = self.store.read("host_counts")
        if rollup is not None and not _lags(
            self.store.manifest()["history"], "host_counts_delta"
        ):
            counts = rollup
        elif self.seen is not None:
            counts = self.seen.groupBy(host_of(F.col("url")).alias("host")).agg(
                F.count(F.lit(1)).alias("n")
            )
        else:
            counts = self.store.spark.createDataFrame([], "host string, n long")
        # cached: read by the gate now and by the merge at commit
        self.counts = self.cached(counts)
        cap = F.lit(self.cfg.max_urls_per_host)
        gated = (
            cand.join(F.broadcast(self.counts), "host", "left")
            .withColumn(
                "_qrem",
                F.greatest(F.lit(0), cap - F.coalesce(F.col("n"), F.lit(0))).cast("int"),
            )
            .drop("n")
        )
        admitted, _dropped = pop_host_batches(
            gated, budget_col="_qrem", salt_buckets=self.cfg.salt_buckets
        )
        return admitted.drop("_qrem")

    def commit(self, parsed: DataFrame, new_seen: DataFrame) -> tuple[dict, dict]:
        delta = new_seen.groupBy(host_of(F.col("url")).alias("host")).agg(
            F.count(F.lit(1)).alias("n")
        )
        return {}, {"host_counts": merge_rollup(self.counts, [delta], sums=("n",))}

    def metrics(self, stats: dict) -> dict:
        return {"host_counts_delta": True}  # the rollup kept step with seen


SOFT404_MIN_PAGES = 3  # parsed pages a host needs before it can be flagged
SOFT404_RATE_THRESHOLD = 0.5  # share of them that must be error shells


class Soft404Demotion(Gate):
    """Hosts whose parsed pages are mostly error shells (soft404_signals
    verdict over >= SOFT404_MIN_PAGES observations at >=
    SOFT404_RATE_THRESHOLD) get their politeness budget clamped to 1
    url/round — demoted, not banned: the overflow defers like any
    politeness overflow and the rate can recover. Verdicts accumulate in
    soft404_log; the gate reads the (host, n, s) soft404_counts rollup."""

    stage = "budget"
    wanted = staticmethod(lambda cfg: cfg.demote_soft404)

    def budget(self, ok: DataFrame) -> DataFrame:
        # cached: read by the flag filter now and by the merge at commit
        self.counts = self.store.read("soft404_counts")
        self.flagged = None
        if self.counts is None:
            return ok
        self.counts = self.cached(self.counts)
        # cached: read by the clamp join and by the stats count
        self.flagged = self.cached(
            self.counts.filter(
                (F.col("n") >= SOFT404_MIN_PAGES)
                & (F.col("s") / F.col("n") >= SOFT404_RATE_THRESHOLD)
            ).select("host", F.lit(True).alias("_demote"))
        )
        return (
            ok.join(F.broadcast(self.flagged), "host", "left")
            .withColumn(
                "budget",
                F.when(F.col("_demote"), F.lit(1).cast("int")).otherwise(F.col("budget")),
            )
            .drop("_demote")
        )

    def commit(self, parsed: DataFrame, new_seen: DataFrame) -> tuple[dict, dict]:
        from ..operators.soft404 import soft404_signals

        verdicts = soft404_signals(
            parsed.filter(F.col("action") == "parse").select("host", "title", "text")
        ).select("host", F.col("soft404").cast("int").alias("soft404"))
        delta = verdicts.groupBy("host").agg(
            F.count(F.lit(1)).alias("n"), F.sum("soft404").cast("long").alias("s")
        )
        counts = merge_rollup(self.counts, [delta], sums=("n", "s"))
        return {"soft404_log": verdicts}, {"soft404_counts": counts}

    def counters(self) -> list[DataFrame]:
        if self.flagged is None:
            return []
        return [self.flagged.agg(F.count(F.lit(1)).alias("n_s404_hosts"))]

    def metrics(self, stats: dict) -> dict:
        # present even before the log exists: the per-round metric schema
        # must not drift across a generation
        return {"soft404_hosts": stats.get("n_s404_hosts", 0)}


class ContentDedup(Gate):
    """Mercator's content-seen test: a parse-routed body whose digest is
    already claimed — by an earlier round (content_seen table) or by a
    lexicographically-smaller URL in this batch — becomes 'content_dup':
    still seen, never parsed, linked or persisted. Per-generation like the
    seen set; turned on mid-generation it only dedups bodies fetched from
    then on (the parsed table keeps no html to rebuild digests from)."""

    stage = "route"
    wanted = staticmethod(lambda cfg: cfg.content_dedup)
    digest = True
    actions = ("content_dup",)
    per_generation = ("content_seen",)

    def route(self, routed: DataFrame) -> DataFrame:
        # the claims aggregate forks this lineage; uncached, each fork re-runs
        # the fetch join and the md5 over html. DISK_ONLY, never in-heap: the
        # html column in executor memory makes GC cost scale with mutator
        # threads (the measured core-scaling inversion, BENCH.md).
        routed = self.cached(routed, StorageLevel.DISK_ONLY)
        # one join path on a key that is never NULL: a row with no digest
        # (miss, redirect, reject; often the bulk) keys on its own url, which
        # never equals a 32-hex md5 nor another row's url, so it claims
        # nothing, matches no content_seen row and spreads over the shuffle
        # (hash(NULL) would pile those rows into ONE partition)
        keyed = routed.withColumn("_dkey", F.coalesce(F.col("digest"), F.col("url")))
        cs = self.store.read("content_seen")
        if cs is not None:
            # digest-unique by construction (only claimed, previously unknown
            # digests are appended), so the left join cannot fan rows out
            keyed = keyed.join(
                cs.select(F.col("digest").alias("_dkey"), F.lit(True).alias("_dup_known")),
                "_dkey",
                "left",
            )
        else:
            keyed = keyed.withColumn("_dup_known", F.lit(None).cast("boolean"))
        # in-batch claim: the smallest URL per digest wins — a map-side-
        # combinable min aggregate + join-back, NEVER a digest window (a mirror
        # body fetched under 10^6 URLs in one round would land its whole
        # duplicate set in one window task)
        claims = keyed.groupBy("_dkey").agg(F.min("url").alias("_claim_url"))
        return (
            keyed.join(claims, "_dkey")
            .withColumn(
                "action",
                F.when(
                    F.coalesce(F.col("_dup_known"), F.lit(False))
                    | (F.col("url") > F.col("_claim_url")),
                    F.lit("content_dup"),
                ).otherwise(F.col("action")),
            )
            .drop("_dkey", "_dup_known", "_claim_url")
        )

    def commit(self, parsed: DataFrame, new_seen: DataFrame) -> tuple[dict, dict]:
        # the digests that parsed this round: each claimed in-batch and
        # previously unknown, so the table stays a digest-keyed set
        rows = parsed.filter(F.col("action") == "parse").select(
            "digest", "url", url_hash_bucket("digest", self.cfg.num_buckets).alias("bucket")
        )
        return {"content_seen": rows}, {}

    def metrics(self, stats: dict) -> dict:
        return {"content_dup": stats["content_dup"]}


TRUST_ITERATIONS = 3  # TrustRank power steps per round


class TrustDeposits(Gate):
    """Trust-weighted OPIC: each link mention deposits its SOURCE host's
    TrustRank (host graph from the host_edges ledger, teleport mass on the
    seed hosts or cfg.trusted_hosts, recomputed every round), so spam-farm
    mentions deposit ~0. The hook adds the per-mention cash column `_dep`
    to the parsed batch."""

    stage = "deposit"
    wanted = staticmethod(lambda cfg: cfg.priority == "trust")

    def deposit(self, parsed: DataFrame) -> DataFrame:
        cfg = self.cfg
        # the host graph is orders of magnitude smaller than the URL graph
        # and the result is a broadcast-sized host table
        self.ledger = self.store.read("host_edges")
        if cfg.trusted_hosts is not None:
            seed_hosts = self.store.spark.createDataFrame(
                [(h,) for h in cfg.trusted_hosts], "host string"
            )
        else:
            seed_hosts = self.store.read("seed_hosts")
        if self.ledger is None or seed_hosts is None:
            # empty ledger (round 1, or the knob just turned on): every
            # deposit is 0.0 and the pop's order degenerates to plain BFS
            return parsed.withColumn("_dep", F.lit(0.0))
        from ..operators.pagerank import trustrank

        # drop_sinks=False: during frontier expansion a trusted host's ledger
        # edges often ALL point to not-yet-crawled hosts (sinks), and
        # dropping them would empty the graph and silently degrade trust
        # ordering to BFS exactly when the knob matters. eager_release: this
        # runs every round in a long-lived session; without it each call
        # pins 3 more CacheManager entries.
        trust = trustrank(
            self.ledger.select("src", "dst").distinct(),
            seed_hosts,
            iterations=TRUST_ITERATIONS,
            drop_sinks=False,
            eager_release=True,
        ).select(F.col("node").alias("host"), F.col("rank").alias("_trust"))
        return parsed.join(F.broadcast(trust), "host", "left").withColumn(
            "_dep", F.coalesce(F.col("_trust"), F.lit(0.0))
        )

    def commit(self, parsed: DataFrame, new_seen: DataFrame) -> tuple[dict, dict]:
        # this round's DISTINCT host pairs (parse + 304-reused adjacency),
        # appended only where new: a stable host graph re-mentioned every
        # round would otherwise grow the ledger linearly with rounds
        edges = (
            parsed.filter(F.col("action").isin("parse", "not_modified"))
            .select(F.col("host").alias("src"), F.explode("out_links").alias("_dst"))
            .select("src", host_of(F.col("_dst")).alias("dst"))
            .distinct()
        )
        return {"host_edges": new_keys(edges, self.ledger, ["src", "dst"])}, {}


# spine order
GATES = (TrapFilter, HostQuota, Soft404Demotion, ContentDedup, TrustDeposits)


def through(gates: tuple[Gate, ...], stage: str, df: DataFrame) -> DataFrame:
    """`df` after the hook of every gate at `stage`, in spine order."""
    for g in gates:
        if g.stage == stage:
            df = getattr(g, stage)(df)
    return df
