"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md T1-T4).

Schema per BASELINE.json input_hint, exactly:
    url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING

The `text` column is produced by the engine's own extract_text_py kernel at
generation time, which is what makes the byte-identical-text-per-url gate
testable (input_hint).

Robots payloads cycle through seven patterns that exercise every branch of the
reference parser/filter (XPathCrawlerThread.java:436-491,526-557):
  i%7==0  no robots.txt row                      -> allowed (no record)
  i%7==1  agent-specific cis455Crawler rules,    -> specific list wins;
          '*' denies all                            delay comes from '*' (quirk)
  i%7==2  '*' Disallow /private, Crawl-delay 1
  i%7==3  '*' Disallow: /                        -> deny-all
  i%7==4  rules for an unrelated agent only      -> deny-by-default quirk
  i%7==5  first entry contains '*'               -> scan stops -> all allowed
  i%7==6  robots row with Allow/Sitemap only     -> no disallow list -> deny
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

import pandas as pd

from ..functions.html import extract_text_py

_BASE_TS = datetime(2013, 3, 1, 0, 0, 0)
_WEEK_S = 7 * 24 * 3600

# bump whenever generated rows change for the same CorpusSpec — cache keys
# (bench.py corpus_parquet) include it so stale /tmp corpora regenerate
GENERATOR_VERSION = 3

ROBOTS_PATTERNS = {
    1: (
        "User-agent: cis455Crawler\nDisallow: /private\nDisallow: /tmp\n"
        "Crawl-delay: 2\n\nUser-agent: *\nDisallow: /\nCrawl-delay: 1\n"
    ),
    2: "User-agent: *\nDisallow: /private\nCrawl-delay: 1\n",
    3: "User-agent: *\nDisallow: /\n",
    4: "User-agent: SomeOtherBot\nDisallow: /x\n",
    5: "User-agent: *\nDisallow: /never*\nDisallow: /private\nCrawl-delay: 5\n",
    6: "User-agent: *\nAllow: /\nSitemap: http://example.test/sitemap.xml\n",
}


@dataclass
class CorpusSpec:
    hosts: int = 10
    pages_per_host: int = 20
    seed: int = 42
    hot_factor: int = 1  # multiply host-0's page count (skew knob)
    links_min: int = 2
    links_max: int = 8
    # body size knob: words per page body (default ~tiny synthetic pages).
    # ~12500 words ≈ 100 KB html — the fat-page tier that shows the recrawl
    # 304 path's parse savings beating its MERGE/compare overhead.
    words_min: int = 20
    words_max: int = 60

    @classmethod
    def bench(cls) -> "CorpusSpec":
        # bench.py's default tier; bench_scaling.py uses 2000x2000
        return cls(hosts=500, pages_per_host=1000, hot_factor=10)


def host_name(i: int) -> str:
    # one host keeps a port in its authority — exercises the port-in-host quirk
    return f"host-{i}.test:8080" if i % 11 == 3 and i > 0 else f"host-{i}.test"


def page_url(host: str, j: int) -> str:
    k = j % 3
    if k == 0 or k == 1:  # two thirds .html so most links resolve to real pages
        return f"http://{host}/p{j}.html"
    if j % 6 == 2:
        return f"http://{host}/dir{j}/"
    return f"http://{host}/doc{j}"


def _warc_ts(url: str) -> datetime:
    off = int(hashlib.sha1(url.encode()).hexdigest()[:8], 16) % _WEEK_S
    return _BASE_TS + timedelta(seconds=off)


def _page_count(spec: CorpusSpec, i: int) -> int:
    return spec.pages_per_host * (spec.hot_factor if i == 0 else 1)


def generate_host_pdf(spec: CorpusSpec, i: int) -> pd.DataFrame:
    """One host's pages (+ robots row). Seeded per (spec.seed, host) so hosts
    generate independently — the same rows come out whether the corpus is
    built driver-side or distributed across any partitioning of host ids."""
    rng = random.Random(f"{spec.seed}:{i}")
    rows: list[tuple] = []
    host = host_name(i)
    pat = i % 7
    if pat != 0:
        body = ROBOTS_PATTERNS[pat]
        url = f"http://{host}/robots.txt"
        rows.append((url, _warc_ts(url), body.encode(), extract_text_py(body.encode()), "en"))

    n = _page_count(spec, i)
    for j in range(n):
        url = page_url(host, j)
        title = f"Title {i}-{j}"
        words = " ".join(
            f"word{rng.randint(0, 999)}"
            for _ in range(rng.randint(spec.words_min, spec.words_max))
        )
        if j % 13 == 5:
            words += " fish &amp; chips"
        hrefs: list[str] = []
        n_links = rng.randint(spec.links_min, spec.links_max)
        for _ in range(n_links):
            tgt = rng.randint(0, n - 1)
            hrefs.append(page_url(host, tgt).rsplit("/", 1)[-1] or f"dir{tgt}/")
        # quirk fodder: absolute hrefs (always dropped), scheme-relative
        # junk, fragments, javascript
        if j % 7 == 1:
            hrefs.append(f"http://host-{(i + 1) % spec.hosts}.test/p0.html")
        if j % 17 == 4:
            hrefs.append("mailto:bob@example.test")
        if j % 19 == 6:
            hrefs.append("javascript:void(0)")
        if j % 23 == 7:
            hrefs.append("sec#frag")
        if j % 29 == 11 and pat in (1, 2):
            hrefs.append(f"private{j}.html")  # robots-denied once resolved

        link_tags = "".join(f'<link rel="x" href="{h}">' for h in hrefs[:1])
        a_tags = " ".join(f'<a href="{h}">l</a>' for h in hrefs[1:])
        # meta tags sit on their own lines: the reference's meta scan is
        # line-based (Indexer.java:102-140) and real pages are multi-line;
        # every 5th page adds a Keywords tag with commas + capital Content=
        # to exercise the comma-replacement and fallback branches
        kw_tag = (
            f'<meta name="Keywords" Content="kw{i},kw{j},Title">\n'
            if j % 5 == 2
            else ""
        )
        html = (
            f"<html><head><title>{title}</title>\n"
            f'<meta name="description" content="desc {i} {j}">\n{kw_tag}{link_tags}'
            f"<style>.x{{color:red}}</style></head>"
            f"<body><script>var x=1;</script><h1>{title}</h1> "
            f"<p>{words}</p> {a_tags}</body></html>"
        ).encode()
        lang = "en" if rng.random() < 0.9 else rng.choice(["de", "fr"])
        rows.append((url, _warc_ts(url), html, extract_text_py(html), lang))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])


def generate_pages_pdf(spec: CorpusSpec) -> pd.DataFrame:
    """Full pages table as pandas (test scales). Deterministic for a spec."""
    pdf = pd.concat(
        [generate_host_pdf(spec, i) for i in range(spec.hosts)], ignore_index=True
    )
    # one deterministic duplicate-url guard: corpus must be unique on url
    assert pdf["url"].is_unique, "corpus urls must be unique"
    return pdf


def seed_urls(spec: CorpusSpec, n_seeds: int = 5) -> list[str]:
    """Seed list: first page of the first n hosts (covers allowed, denied,
    deny-all, wildcard and delay variants as hosts cycle patterns)."""
    return [page_url(host_name(i), 0) for i in range(min(n_seeds, spec.hosts))]


def write_pages_parquet(spec: CorpusSpec, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = generate_pages_pdf(spec)
    # Spark rejects parquet TIMESTAMP(NANOS); write microseconds explicitly.
    schema = pa.schema(
        [
            pa.field("url", pa.string()),
            pa.field("warc_ts", pa.timestamp("us")),
            pa.field("html", pa.binary()),
            pa.field("text", pa.string()),
            pa.field("lang", pa.string()),
        ]
    )
    table = pa.Table.from_pandas(pdf, preserve_index=False).cast(schema)
    pq.write_table(table, path)
    return path


def pages_spark_df(spark, spec: CorpusSpec):
    """pages as a Spark DataFrame with the input_hint schema."""
    pdf = generate_pages_pdf(spec)
    return spark.createDataFrame(
        pdf, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def write_pages_parquet_spark(
    spark, spec: CorpusSpec, path: str, partitions: int | None = None
) -> str:
    """Distributed corpus build: host ids fan out across executors, each host
    generates independently (per-host seed), result lands as one parquet dir.
    Same rows as write_pages_parquet, ~cores× faster at bench tiers."""
    from pyspark.sql import functions as F

    partitions = partitions or max(32, spec.hosts // 64)

    def _gen(batches):
        for pdf in batches:
            for i in pdf["host_id"]:
                yield generate_host_pdf(spec, int(i))

    hosts_df = spark.range(spec.hosts).select(F.col("id").cast("int").alias("host_id"))
    (
        hosts_df.repartition(partitions)
        .mapInPandas(_gen, schema=PAGES_SCHEMA)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path
