"""Freshness-driven recrawl prioritization (beyond reference).

The reference's recrawl is all-or-nothing: a new generation re-requests
every stored URL and relies on If-Modified-Since 304s to skip unchanged
pages (XPathCrawlerThread.java:129-146). At a 10^10-URL corpus even the
304 round-trips dominate, so a production crawler ORDERS the recrawl by
expected staleness instead (Cho & Garcia-Molina, "Effective page refresh
policies for web crawlers", TODS 2003): estimate each page's change rate
from its observed version history and spend the fetch budget where changes
are most likely to have happened.

This operator derives the estimate from state the engine already keeps —
the parsed table's MERGE history, where each re-parse appended a row with
the new warc_ts while 304s did not. One groupBy(url_hash) pass:

    n_versions   distinct warc_ts values observed
    change_rate  (n_versions - 1) / observed_span_days  (0 when span ~ 0)
    staleness    as_of - last observed warc_ts (days)
    priority     staleness_days * change_rate  -- expected missed changes

The output ranks the whole corpus with one shuffle on url_hash (the same
key the parsed table is already written by) and broadcasts nothing; the
top fetch-budget rows by (priority, staleness) desc are the next
generation's frontier (a global top-k: per-partition top-k + one reduced
sort, not a full shuffle of the corpus).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SECONDS_PER_DAY = 86400.0


def _as_of_epoch(as_of: datetime) -> float:
    """Naive as_of is interpreted as UTC — the engine pins the session
    timezone to UTC (session.py), so warc_ts epoch seconds are UTC; letting
    datetime.timestamp() localize via the SYSTEM timezone would skew every
    staleness by the driver's UTC offset."""
    if as_of.tzinfo is None:
        as_of = as_of.replace(tzinfo=timezone.utc)
    return as_of.timestamp()


def recrawl_priority(
    parsed: DataFrame, as_of: datetime, min_span_s: float = 1.0
) -> DataFrame:
    """Per-URL recrawl priority from the parsed table's version history.

    `parsed` needs (url_hash, url, warc_ts) with one row per OBSERVED
    version (the engine's parsed table after >=1 generations). Returns
    (url_hash, url, n_versions, change_rate_per_day, staleness_days,
    priority) — priority descending is the recrawl order. URLs seen once
    carry change_rate 0; rank ties break by staleness (oldest first).
    """
    agg = parsed.groupBy("url_hash").agg(
        F.first("url", ignorenulls=True).alias("url"),
        F.countDistinct("warc_ts").alias("n_versions"),
        F.min("warc_ts").alias("first_ts"),
        F.max("warc_ts").alias("last_ts"),
    )
    span_s = F.col("last_ts").cast("double") - F.col("first_ts").cast("double")
    rate = F.when(
        span_s >= min_span_s,
        (F.col("n_versions") - 1) / (span_s / SECONDS_PER_DAY),
    ).otherwise(F.lit(0.0))
    staleness_days = (
        F.lit(_as_of_epoch(as_of)) - F.col("last_ts").cast("double")
    ) / SECONDS_PER_DAY
    return (
        agg.withColumn("change_rate_per_day", rate)
        .withColumn("staleness_days", F.greatest(staleness_days, F.lit(0.0)))
        .withColumn(
            "priority", F.col("staleness_days") * F.col("change_rate_per_day")
        )
        .select(
            "url_hash", "url", "n_versions", "change_rate_per_day",
            "staleness_days", "priority",
        )
    )


def change_rate_poisson(
    captures: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    fp_col: str = "content_fp",
) -> DataFrame:
    """Bias-corrected Poisson change-rate estimate per URL from its full
    capture history — Cho & Garcia-Molina, "Estimating frequency of change"
    (ACM TOIT 2003), estimator r̂ = -log((n̄ - X̄ + 0.5)/(n̄ + 0.5)).

    `recrawl_priority` above counts only observed VERSIONS (changes), which
    underestimates fast-changing pages: two changes inside one capture
    interval look like one. This estimator uses every access — including
    the unchanged ones the 304 path records — and corrects for changes
    missed between accesses, so it stays consistent as the page's true rate
    approaches the capture rate.

    `captures` has one row per access: (url, ts, content_fp), where
    content_fp is the fetched content's fingerprint (304s repeat the stored
    fp). Per URL, order accesses by ts:

        n        accesses - 1 (intervals observed)
        x        intervals where fp changed (fp != lag(fp))
        dt_days  mean interval length = span / n, in days
        lambda_per_day  -ln((n - x + 0.5) / (n + 0.5)) / dt_days

    The lag runs in a window keyed by url — per-URL histories are bounded
    (a capture per crawl generation, dozens at most), and url is the
    highest-cardinality key in the system, so the window partitions are
    tiny and uniform; this is the safe window shape, unlike a window on a
    skewable value key. One shuffle on url, no driver state. URLs with a
    single capture return n=0 and NULL lambda (no interval evidence).
    """
    w = Window.partitionBy("url").orderBy("ts")
    marked = captures.select(
        F.col(url_col).alias("url"),
        F.col(ts_col).alias("ts"),
        F.col(fp_col).alias("fp"),
    ).withColumn("_changed", (F.col("fp") != F.lag("fp").over(w)).cast("int"))
    agg = marked.groupBy("url").agg(
        (F.count("*") - 1).alias("n_intervals"),
        F.coalesce(F.sum("_changed"), F.lit(0)).alias("n_changes"),
        F.min("ts").alias("_first"),
        F.max("ts").alias("_last"),
    )
    span_days = (
        F.col("_last").cast("double") - F.col("_first").cast("double")
    ) / SECONDS_PER_DAY
    dt_days = span_days / F.col("n_intervals")
    lam = -F.log(
        (F.col("n_intervals") - F.col("n_changes") + 0.5)
        / (F.col("n_intervals") + 0.5)
    ) / dt_days
    return agg.select(
        "url",
        "n_intervals",
        "n_changes",
        F.when(F.col("n_intervals") > 0, F.round(dt_days, 6)).alias("dt_days"),
        F.when(F.col("n_intervals") > 0, F.round(lam, 6)).alias("lambda_per_day"),
    )


def lastmod_stale(parsed_latest: DataFrame, hints: DataFrame) -> DataFrame:
    """(url, stored_ts, lastmod) — URLs whose sitemap <lastmod> is NEWER
    than the stored capture: the sitemap-driven refresh queue (the hint
    Googlebot-style crawlers honor, and the complement to the
    Cho–García-Molina estimator above — lastmod is the SITE's change claim,
    change_rate the crawler's own observation; feed these urls ahead of the
    estimated frontier and let the 304 path arbitrate a lying sitemap).

    `hints` is expand_sitemaps output (seed_url, ..., lastmod) — NULL
    lastmods drop; a url listed by several sitemaps takes its max lastmod.
    One groupBy over the small sitemap set + one join on the parsed MERGE
    view's own key: O(sitemap entries), not O(corpus).

    Granularity caveat: date-only lastmods (the common form) parse to
    midnight, so a change claimed for the CAPTURE day itself compares
    lastmod < stored_ts and is not queued — >= would re-queue such pages on
    every cycle forever (the hint never advances). Same-day changes are the
    Cho–García-Molina estimator's and the 304 path's job."""
    h = (
        hints.where(F.col("lastmod").isNotNull())
        .groupBy(F.col("seed_url").alias("url"))
        .agg(F.max("lastmod").alias("lastmod"))
    )
    return (
        parsed_latest.select("url", F.col("warc_ts").alias("stored_ts"))
        .join(h, "url")
        .where(F.col("lastmod") > F.col("stored_ts"))
        .select("url", "stored_ts", "lastmod")
    )
