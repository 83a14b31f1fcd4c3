"""CDX-style capture index over the page store (beyond reference) — the
Common-Crawl-native lookup artifact: one row per capture, keyed by the SURT
(Sort-friendly URI Reordering Transform) of the URL so that a lexicographic
range scan answers "all captures under host X / domain suffix Y". The
reference keeps pages in BerkeleyDB keyed by raw URL (Crawler/src/com/
datformers/crawler/storage — point lookups only); a CDX projection is what
makes a 100-TB page store *navigable*.

All pure JVM Column expressions (codegen; zero Python). At scale, write the
output sorted WITHIN files by surt_key and range-partitioned BY surt_key
(repartitionByRange + sortWithinPartitions), so domain range scans prune to
a handful of files — the parquet analogue of the .cdx.gz shard +
cluster.idx layout Common Crawl publishes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.urls import host_of


def surt_key(url: Column | str) -> Column:
    """SURT form of a URL: host labels reversed and comma-joined, then ')'
    and the path, all lowercased — 'http://Sub.Example.com/A/b?q=1' ->
    'com,example,sub)/a/b?q=1'. A non-default port stays as a ':port' label
    after the reversed host ('com,example:8080)/...'), matching the CDX
    convention of sorting a host's ports adjacently."""
    u = F.col(url) if isinstance(url, str) else url
    hostport = F.lower(host_of(u))
    host = F.substring_index(hostport, ":", 1)
    port = F.when(
        F.instr(hostport, ":") > 0,
        F.concat(F.lit(":"), F.substring_index(hostport, ":", -1)),
    ).otherwise(F.lit(""))
    rev_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    # path+query = everything after '//host' — located via the hostport
    # (case-insensitive: search the lowercased URL for the lowercased host)
    tail_start = (
        F.instr(F.lower(u), F.concat(F.lit("//"), hostport))
        + F.length(hostport)
        + F.lit(2)
    )
    pathq = F.when(
        F.instr(F.lower(u), F.concat(F.lit("//"), hostport)) > 0,
        F.lower(F.substr(u, tail_start, F.length(u))),
    ).otherwise(F.lit(""))
    pathq = F.when(pathq == "", F.lit("/")).otherwise(pathq)
    return F.concat(rev_host, port, F.lit(")"), pathq)


def cdx_index(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    ts_col: str | None = None,
    digest: str = "sha1",
    sort: bool = True,
) -> DataFrame:
    """(surt_key, url[, warc_ts], digest, n_bytes) — the CDX projection of a
    page store, globally sorted by surt_key when sort=True. digest='sha1'
    matches the reference's SHA-1 content keys (XPathCrawler.java:296-331);
    'md5' is offered because the DuckDB oracle lacks sha1 (both hash the raw
    html bytes directly — no string round-trip). Pass sort=False when the
    consumer imposes its own order (a range-partitioned write would
    otherwise pay a second full shuffle-sort on top of this one)."""
    dig = {"sha1": F.sha1, "md5": F.md5}[digest]
    cols = [
        surt_key(F.col(url_col)).alias("surt_key"),
        F.col(url_col).alias("url"),
        *([F.col(ts_col).alias("warc_ts")] if ts_col else []),
        dig(F.col(html_col)).alias("digest"),
        F.length(F.col(html_col)).alias("n_bytes"),
    ]
    out = pages.select(*cols)
    return out.orderBy("surt_key", "url") if sort else out

