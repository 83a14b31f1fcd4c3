"""Sitemap ingestion vs an independent Python oracle: index recursion,
depth cap, cycle tolerance, missing-file tolerance, entity decoding, and
the robots-quirk filter in default_sitemap_urls."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from cis455crawler_spark.sources.sitemaps import (
    default_sitemap_urls,
    expand_sitemaps,
)


def _urlset(*urls: str) -> str:
    locs = "".join(f"<url><loc> {u} </loc></url>" for u in urls)
    return f'<?xml version="1.0"?><urlset xmlns="http://x">{locs}</urlset>'


def _index(*maps: str) -> str:
    locs = "".join(f"<sitemap><loc>{u}</loc></sitemap>" for u in maps)
    return f'<?xml version="1.0"?><sitemapindex xmlns="http://x">{locs}</sitemapindex>'


SITEMAPS = {
    # host a: index -> two child urlsets (+ a missing child, + a cycle back)
    "http://a.test/sitemap.xml": _index(
        "http://a.test/sm1.xml",
        "http://a.test/sm2.xml",
        "http://a.test/missing.xml",
        "http://a.test/sitemap.xml",  # cycle: must not loop
    ),
    "http://a.test/sm1.xml": _urlset("http://a.test/p1", "http://a.test/p2"),
    # sm2: entity fodder — '&amp;' decodes to '&', '&amp;lt;' must decode to
    # the literal '&lt;' (NOT '<': no double-decode) — plus an empty <loc>
    "http://a.test/sm2.xml": _urlset(
        "http://a.test/p2", "http://a.test/p3&amp;x", "http://a.test/e&amp;lt;x", ""
    ),
    # host b: plain urlset at the conventional path
    "http://b.test/sitemap.xml": _urlset("http://b.test/only"),
    # host c: index chain deeper than the depth cap
    "http://c.test/sitemap.xml": _index("http://c.test/l2.xml"),
    "http://c.test/l2.xml": _index("http://c.test/l3.xml"),
    "http://c.test/l3.xml": _urlset("http://c.test/deep"),
}


def oracle_expand(start: list[str], max_depth: int) -> set[tuple[str, str]]:
    frontier, visited, seeds = set(start), set(start), set()
    for _ in range(max_depth):
        nxt = set()
        for sm in frontier:
            body = SITEMAPS.get(sm)
            if body is None:
                continue
            def dec(s: str) -> str:
                for e, c in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                             ("&apos;", "'"), ("&amp;", "&")):
                    s = s.replace(e, c)
                return s

            locs = [
                dec(m.strip())
                for m in re.findall(r"<loc>\s*(.*?)\s*</loc>", body, re.S)
            ]
            locs = [u for u in locs if u]
            if "<sitemapindex" in body:
                nxt |= {u for u in locs if u not in visited}
            else:
                seeds |= {(u, sm) for u in locs}
        if not nxt:
            break
        visited |= nxt
        frontier = nxt
    return seeds


def test_expand_sitemaps_matches_oracle(spark):
    pages = spark.createDataFrame(
        [(u, b.encode()) for u, b in SITEMAPS.items()], "url string, html binary"
    )
    start = [
        "http://a.test/sitemap.xml",
        "http://b.test/sitemap.xml",
        "http://c.test/sitemap.xml",
        "http://no-such.test/sitemap.xml",
    ]
    starts = spark.createDataFrame([(u,) for u in start], "url string")

    got = {
        (r["seed_url"], r["sitemap_url"])
        for r in expand_sitemaps(pages, starts, max_depth=3).collect()
    }
    assert got == oracle_expand(start, 3)
    assert ("http://a.test/p3&x", "http://a.test/sm2.xml") in got  # entity decode
    assert ("http://a.test/e&lt;x", "http://a.test/sm2.xml") in got  # no double-decode
    assert ("http://c.test/deep", "http://c.test/l3.xml") in got  # depth-3 reach
    assert not any(u == "" for u, _ in got)  # empty <loc> never seeds

    # depth cap: c.test's level-3 urlset is out of reach at max_depth=2
    shallow = {
        (r["seed_url"], r["sitemap_url"])
        for r in expand_sitemaps(pages, starts, max_depth=2).collect()
    }
    assert shallow == oracle_expand(start, 2)
    assert not any(u == "http://c.test/deep" for u, _ in shallow)


def test_default_sitemap_urls_quirk_filter(spark):
    robots = spark.createDataFrame(
        [
            ("a.test", ["http"]),  # reference split(':') quirk residue: dropped
            ("b.test", ["http://b.test/real.xml"]),  # survives
            ("c.test", []),
        ],
        "host string, sitemaps array<string>",
    )
    got = {r["url"] for r in default_sitemap_urls(robots).collect()}
    assert got == {
        # both schemes probed: the robots table keys on bare host
        "http://a.test/sitemap.xml", "https://a.test/sitemap.xml",
        "http://b.test/sitemap.xml", "https://b.test/sitemap.xml",
        "http://c.test/sitemap.xml", "https://c.test/sitemap.xml",
        "http://b.test/real.xml",
    }


def test_expand_sitemaps_no_hits_is_empty(spark):
    pages = spark.createDataFrame([("http://x/p", b"<urlset/>")], "url string, html binary")
    starts = spark.createDataFrame([("http://gone/sitemap.xml",)], "url string")
    out = expand_sitemaps(pages, starts, max_depth=3)
    assert out.count() == 0
    assert out.columns == ["seed_url", "sitemap_url", "lastmod"]


def test_crawl_seed_from_sitemaps_matches_oracle(spark):
    """Opt-in integration: run_crawl(seed_from_sitemaps=True) must equal the
    oracle BFS whose seed list is the explicit seeds plus the sitemap-listed
    URLs — island pages unreachable from the seed link graph are crawled."""
    from cis455crawler_spark.functions.html import extract_text_py
    from cis455crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from cis455crawler_spark.sources.corpus import generate_pages_pdf, seed_urls

    from .fixtures import smoke_spec
    from .oracle import oracle_crawl

    spec = smoke_spec()
    pdf = generate_pages_pdf(spec)

    # host-2 (robots pattern 2: Disallow /private only) gets a conventional
    # sitemap listing two island pages no corpus link graph reaches
    islands = ["http://host-2.test/island1.html", "http://host-2.test/island2.html"]
    sm_body = _urlset(*islands).encode()
    island_html = b'<html><a href="http://abs.test/x">dropped</a>island</html>'
    import pandas as pd

    extra = pd.DataFrame(
        [
            ("http://host-2.test/sitemap.xml", pdf["warc_ts"].iloc[0], sm_body,
             extract_text_py(sm_body), "en"),
            *[
                (u, pdf["warc_ts"].iloc[0], island_html,
                 extract_text_py(island_html), "en")
                for u in islands
            ],
        ],
        columns=pdf.columns,
    )
    aug = pd.concat([pdf, extra], ignore_index=True)
    pages = spark.createDataFrame(
        aug, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )

    import tempfile

    with tempfile.TemporaryDirectory() as td:
        store, metrics = run_crawl(
            spark, pages, seed_urls(spec), td,
            CrawlConfig(max_rounds=12, compact_every=0, seed_from_sitemaps=True),
        )
        engine_seen = {
            r["url_hash"] for r in store.read("seen").select("url_hash").collect()
        }

    page_map = dict(zip(aug["url"], aug["html"]))
    want = oracle_crawl(page_map, seed_urls(spec) + islands, max_rounds=12).seen
    assert engine_seen == want
    import hashlib

    for u in islands:
        assert hashlib.sha1(u.encode()).hexdigest() in engine_seen
