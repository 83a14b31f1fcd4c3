"""Crawler-trap host detection (beyond reference).

The reference crawls with only a global max-page budget and per-host
politeness (XPathCrawlerThread.java run loop); nothing stops a single host
from soaking the whole budget with an infinite URL space — calendar pages,
session-id query strings, path-repeating loops — the classic "spider trap"
(Heydon & Najork, "Mercator: A scalable, extensible Web crawler", WWW 1999,
§dealing with traps). At 10^10 frontier URLs a handful of trap hosts can be
billions of rows, so detection must be a single aggregation over the crawl
log, never a per-URL heuristic evaluated driver-side.

`trap_host_stats` profiles each host in ONE groupBy(host) pass over
(url, content_fp) pairs — every signal is a JVM column expression, the
aggregate is map-side combinable, and no driver collection happens:

    n_urls            distinct URLs fetched from the host
    n_content         distinct content fingerprints those URLs produced
    urls_per_content  n_urls / n_content — >> 1 means the same bytes hide
                      behind many URLs (the signature of calendar/session
                      traps: infinite URL space, finite content space)
    max_depth         deepest path (non-empty '/'-segments) seen
    avg_depth         mean path depth
    query_frac        fraction of URLs carrying a query string

    is_trap           urls_per_content >= ratio_threshold
                      OR max_depth >= depth_threshold

The crawl's TrapFilter gate (plans/gates.py) applies the same verdict
(`is_trap_cond`) to a per-host rollup it keeps round by round, and drops the
flagged hosts' candidates with a broadcast anti-join (the trap list is tiny
— it is hosts, not URLs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cis455crawler_spark.functions.urls import host_of, path_depth


def has_query(url: Column | str) -> Column:
    """1 iff the URL carries a '?query' part (int for easy aggregation)."""
    u = F.col(url) if isinstance(url, str) else url
    return (F.instr(u, "?") > 0).cast("int")


def trap_host_stats(
    fetched: DataFrame,
    url_col: str = "url",
    fp_col: str = "content_fp",
    ratio_threshold: float = 5.0,
    depth_threshold: int = 12,
) -> DataFrame:
    """Per-host trap profile from a (url, content_fp) crawl log.

    One shuffle on host; all signals are column expressions so the partial
    aggregation collapses each host's rows map-side — a trap host with 10^8
    URLs still contributes only one row per input partition to the shuffle.
    Returns (host, n_urls, n_content, urls_per_content, max_depth,
    avg_depth, query_frac, is_trap) — is_trap is int (1/0) for the oracle's
    benefit.
    """
    u = F.col(url_col)
    per_url = fetched.select(
        host_of(u).alias("host"),
        u.alias("_url"),
        F.col(fp_col).alias("_fp"),
        path_depth(u).alias("_depth"),
        has_query(u).alias("_has_q"),
    )
    agg = per_url.groupBy("host").agg(
        F.countDistinct("_url").alias("n_urls"),
        F.countDistinct("_fp").alias("n_content"),
        F.max("_depth").alias("max_depth"),
        F.round(F.avg("_depth"), 6).alias("avg_depth"),
        F.round(F.avg("_has_q"), 6).alias("query_frac"),
    )
    ratio = F.round(F.col("n_urls") / F.col("n_content"), 6)
    return agg.select(
        "host",
        "n_urls",
        "n_content",
        ratio.alias("urls_per_content"),
        "max_depth",
        "avg_depth",
        "query_frac",
        is_trap_cond(ratio_threshold, depth_threshold).cast("int").alias("is_trap"),
    )


def is_trap_cond(ratio_threshold: float, depth_threshold: int) -> Column:
    """The trap verdict over (n_urls, n_content, max_depth) columns — THE
    one definition of what flags a host, shared by trap_host_stats and the
    crawl loop's incrementally-maintained trap_counts rollup so the two
    paths cannot drift."""
    return (F.col("n_urls") / F.col("n_content") >= F.lit(ratio_threshold)) | (
        F.col("max_depth") >= F.lit(depth_threshold)
    )

