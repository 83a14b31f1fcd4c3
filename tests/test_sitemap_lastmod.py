"""Sitemap <lastmod> refresh hints: expand_sitemaps carries each entry's
lastmod (aligned per entry-block, NULL when absent)."""

from __future__ import annotations

from datetime import datetime

from cis455crawler_spark.sources.sitemaps import expand_sitemaps


def _pages(spark, mapping):
    return spark.createDataFrame(
        [(u, bytearray(b)) for u, b in mapping.items()], "url string, html binary"
    )


SM = (
    '<?xml version="1.0"?><urlset xmlns="http://x">'
    "<url><loc>http://h.test/fresh</loc><lastmod>2013-05-01T00:00:00</lastmod></url>"
    "<url><loc>http://h.test/stale</loc><lastmod>2013-01-01</lastmod></url>"
    "<url><loc>http://h.test/nohint</loc></url>"
    "<url><loc>http://h.test/unknown</loc><lastmod>2013-06-01</lastmod></url>"
    "</urlset>"
)
# an index level above it: lastmod must survive the recursion
IDX = (
    '<?xml version="1.0"?><sitemapindex xmlns="http://x">'
    "<sitemap><loc>http://h.test/sm.xml</loc></sitemap></sitemapindex>"
)


def test_lastmod_carried_and_aligned(spark):
    pages = _pages(
        spark,
        {"http://h.test/idx.xml": IDX.encode(), "http://h.test/sm.xml": SM.encode()},
    )
    starts = spark.createDataFrame([("http://h.test/idx.xml",)], "url string")
    out = {
        r.seed_url: r.lastmod for r in expand_sitemaps(pages, starts).collect()
    }
    assert out["http://h.test/fresh"] == datetime(2013, 5, 1)
    assert out["http://h.test/stale"] == datetime(2013, 1, 1)
    assert out["http://h.test/nohint"] is None  # alignment: no bleed-over
    assert out["http://h.test/unknown"] == datetime(2013, 6, 1)


def test_lastmod_tolerates_malformation(spark):
    """Dirty real-world sitemaps must degrade, never crash or mis-pair:
    a junk lastmod becomes NULL (ANSI try_to_timestamp); an UNCLOSED <url>
    loses nothing downstream of it; a bare <loc> outside any wrapper still
    seeds (the pre-lastmod tolerance)."""
    body = (
        "<urlset>"
        "<url><loc>http://h.test/junkdate</loc><lastmod>Mon, garbage</lastmod></url>"
        "<url><loc>http://h.test/open</loc>"  # unclosed entry
        "<url><loc>http://h.test/after</loc><lastmod>2013-04-01</lastmod></url>"
        "<loc>http://h.test/bare</loc>"
        "</urlset>"
    )
    pages = _pages(spark, {"http://h.test/sm.xml": body.encode()})
    starts = spark.createDataFrame([("http://h.test/sm.xml",)], "url string")
    out = {r.seed_url: r.lastmod for r in expand_sitemaps(pages, starts).collect()}
    assert out["http://h.test/junkdate"] is None  # degraded, not crashed
    assert out["http://h.test/after"] == datetime(2013, 4, 1)  # right owner
    assert "http://h.test/open" in out and out["http://h.test/open"] is None
    assert "http://h.test/bare" in out  # wrapper-less entries still seed
