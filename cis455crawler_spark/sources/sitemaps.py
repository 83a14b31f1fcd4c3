"""Sitemap ingestion — seed-URL discovery from sitemap.xml / sitemap-index
files (beyond the reference: RobotsTxtInfo.java collects Sitemap: lines via
XPathCrawlerThread.java:548-549 but nothing ever reads them; a real crawl
seeds its frontier from them).

Spark-first shape: the sitemap set is tiny relative to the frontier (one to
a few files per host), so each expansion level is ONE broadcast join of the
sitemap-URL list against the pages table plus one Arrow-batched parse pass —
the page bodies never reach the driver, and the discovered seed URLs stay
distributed end-to-end. Sitemap-index recursion is a driver-coordinated loop
bounded by `max_depth` (the protocol allows index→index nesting; real-world
depth is 1-2), with a visited set to break reference cycles.

Parsing is regex-based like the repo's HTML kernel (no XML lib in the
container): `<loc>` values in document order; `<sitemapindex` anywhere in
the body marks an index file. Entity-decoding is limited to the five XML
predefined entities, which is all the sitemap protocol requires of `<loc>`.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOC_RE = re.compile(r"<loc>\s*(.*?)\s*</loc>", re.IGNORECASE | re.DOTALL)
_INDEX_RE = re.compile(r"<\s*sitemapindex[\s>]", re.IGNORECASE)
# per-entry blocks so <lastmod> pairs with ITS <loc> (a flat findall would
# misalign the two lists when only some entries carry lastmod). Tempered:
# a block may not contain another <url>/<sitemap> OPEN tag, so an unclosed
# entry can never swallow its well-formed neighbors (their lastmods would
# mis-attribute); locs the blocks don't cover are recovered by a flat scan.
_ENTRY_RE = re.compile(
    r"<(?:url|sitemap)\b[^>]*>((?:(?!<(?:url|sitemap)\b).)*?)</(?:url|sitemap)>",
    re.IGNORECASE | re.DOTALL,
)
_LASTMOD_RE = re.compile(r"<lastmod>\s*(.*?)\s*</lastmod>", re.IGNORECASE | re.DOTALL)
# order matters: '&amp;' must decode LAST or '&amp;lt;' (a literal '&lt;' in
# the URL) would double-decode to '<'
_ENTITIES = [("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&apos;", "'"), ("&amp;", "&")]


def _decode_loc(loc: str) -> str:
    for ent, ch in _ENTITIES:
        loc = loc.replace(ent, ch)
    return loc


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("is_index", T.BooleanType()),
            T.StructField("locs", T.ArrayType(T.StringType())),
            T.StructField("lastmods", T.ArrayType(T.StringType())),
        ]
    )
)
def parse_sitemap_udf(body: pd.Series) -> pd.DataFrame:
    """Per file: is_index flag + aligned (locs, lastmods) — lastmod is the
    entry's <lastmod> ISO string or None. Entry-block parsing keeps the
    pairing; any <loc> the blocks don't cover (wrapper-less entries, an
    unclosed <url> tag, a whole file without wrappers) is recovered by a
    flat scan with lastmod None — the pre-lastmod parser's full tolerance,
    in document order."""
    is_index, locs, lastmods = [], [], []
    for b in body:
        text = (
            b.decode("utf-8", "replace") if isinstance(b, (bytes, bytearray)) else (b or "")
        )
        is_index.append(bool(_INDEX_RE.search(text)))
        # (position, loc, lastmod) from well-formed entry blocks
        found: list[tuple[int, str, str | None]] = []
        spans: list[tuple[int, int]] = []
        for bm in _ENTRY_RE.finditer(text):
            block = bm.group(1)
            lm = _LOC_RE.search(block)
            if not lm:
                continue
            mm = _LASTMOD_RE.search(block)
            found.append(
                (
                    bm.start(1) + lm.start(),
                    _decode_loc(lm.group(1)),
                    mm.group(1) if mm else None,
                )
            )
            spans.append(bm.span())
        # flat scan recovers locs outside every matched block (no hint)
        for fm in _LOC_RE.finditer(text):
            if not any(a <= fm.start() < b_ for a, b_ in spans):
                found.append((fm.start(), _decode_loc(fm.group(1)), None))
        found.sort(key=lambda t: t[0])
        locs.append([t[1] for t in found])
        lastmods.append([t[2] for t in found])
    return pd.DataFrame({"is_index": is_index, "locs": locs, "lastmods": lastmods})


def default_sitemap_urls(robots_df: DataFrame) -> DataFrame:
    """Sitemap URLs to try per host: the `/sitemap.xml` convention under BOTH
    schemes for every robots-bearing host (the robots table keys on bare
    host, so the original scheme is gone; a miss just drops out of the fetch
    join), plus any value from the robots `sitemaps` column that still looks
    like a URL (the reference's split(':') parser quirk truncates absolute
    values to 'http', which this filters out). Output: (url STRING), distinct."""
    conventional = robots_df.select(
        F.explode(
            F.array(
                F.concat(F.lit("http://"), F.col("host"), F.lit("/sitemap.xml")),
                F.concat(F.lit("https://"), F.col("host"), F.lit("/sitemap.xml")),
            )
        ).alias("url")
    )
    from_robots = (
        robots_df.select(F.explode_outer("sitemaps").alias("url"))
        .where(F.col("url").contains("://"))
    )
    return conventional.unionByName(from_robots).distinct()


def expand_sitemaps(
    pages: DataFrame, sitemap_urls: DataFrame, max_depth: int = 3
) -> DataFrame:
    """Expand sitemap files (fetched from the pages table — the offline-corpus
    analogue of HTTP GET, same as the crawl plan's fetch join) into the seed
    URLs they list. Index files recurse up to `max_depth` levels; URLs listed
    by urlset files accumulate. Missing sitemap files (no pages row) are
    skipped silently — the conventional /sitemap.xml probe usually 404s.

    Returns (seed_url STRING, sitemap_url STRING, lastmod TIMESTAMP)
    distinct: each discovered URL with the sitemap file that listed it
    (per-partition lineage for the frontier, same spirit as the crawl's
    lineage table) and the entry's <lastmod> when present (NULL otherwise),
    the site's own refresh hint."""
    frontier = sitemap_urls.select("url").distinct()
    visited = frontier
    seeds: DataFrame | None = None

    for _ in range(max_depth):
        fetched = F.broadcast(frontier).join(pages.select("url", "html"), "url")
        parsed = fetched.select(
            "url", parse_sitemap_udf(F.col("html").cast("binary")).alias("_p")
        ).select(
            "url",
            F.col("_p.is_index").alias("is_index"),
            F.col("_p.locs").alias("locs"),
            F.col("_p.lastmods").alias("lastmods"),
        )
        level_seeds = (
            parsed.where(~F.col("is_index"))
            .select(
                F.col("url").alias("sitemap_url"),
                F.explode(F.arrays_zip("locs", "lastmods")).alias("_e"),
            )
            .select(
                F.col("_e.locs").alias("seed_url"),
                "sitemap_url",
                # try_to_timestamp, NOT to_timestamp: lastmod is a
                # site-controlled string and Spark 4 ANSI would abort the
                # whole seeding job on one malformed value — dirty hints
                # degrade to NULL (no hint), never to a crash
                F.try_to_timestamp(F.col("_e.lastmods")).alias("lastmod"),
            )
            .where(F.col("seed_url") != "")  # '<loc></loc>' must not seed ''
        )
        seeds = level_seeds if seeds is None else seeds.unionByName(level_seeds)
        children = (
            parsed.where(F.col("is_index"))
            .select(F.explode("locs").alias("url"))
            .where(F.col("url") != "")
            .distinct()
            .join(visited, "url", "left_anti")
        )
        frontier = children.localCheckpoint(eager=True)
        if frontier.isEmpty():
            break
        visited = visited.unionByName(frontier)

    return seeds.distinct() if seeds is not None else sitemap_urls.select(
        F.lit(None).cast("string").alias("seed_url"),
        F.lit(None).cast("string").alias("sitemap_url"),
        F.lit(None).cast("timestamp").alias("lastmod"),
    ).where(F.lit(False))
