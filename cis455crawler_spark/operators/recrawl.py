"""Per-URL change-rate estimation for recrawl ordering (beyond reference).

The reference's recrawl is all-or-nothing: a new generation re-requests
every stored URL and relies on If-Modified-Since 304s to skip unchanged
pages (XPathCrawlerThread.java:129-146). At a 10^10-URL corpus even the
304 round-trips dominate, so a production crawler ORDERS the recrawl by
expected staleness instead (Cho & Garcia-Molina, "Effective page refresh
policies for web crawlers", TODS 2003), from each page's estimated change
rate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SECONDS_PER_DAY = 86400.0


def change_rate_poisson(
    captures: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    fp_col: str = "content_fp",
) -> DataFrame:
    """Bias-corrected Poisson change-rate estimate per URL from its full
    capture history — Cho & Garcia-Molina, "Estimating frequency of change"
    (ACM TOIT 2003), estimator r̂ = -log((n̄ - X̄ + 0.5)/(n̄ + 0.5)).

    Counting observed VERSIONS (changes) alone underestimates fast-changing
    pages: two changes inside one capture interval look like one. This
    estimator uses every access — including the unchanged ones the 304 path
    records — and corrects for changes missed between accesses, so it stays
    consistent as the page's true rate approaches the capture rate.

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

