"""Soft-404 heuristics, URL template mining, cache-TTL parsing."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from cis455crawler_spark.functions.fetch import cache_ttl_seconds
from cis455crawler_spark.operators.soft404 import soft404_signals
from cis455crawler_spark.plans.gates import Soft404Demotion
from cis455crawler_spark.operators.url_patterns import mine_url_templates


def test_soft404_signals(spark):
    rows = [
        Row(url="u1", title="404 Not Found", text="gone"),
        Row(url="u2", title="Error Handling in Java", text="x" * 200),
        Row(url="u3", title="All about 404s", text="this long article discusses page not found behavior " + "y" * 100),
        Row(url="u4", title="Short", text="tiny"),
        Row(url="u5", title="Fine", text="sorry, page not found"),  # error phrase + tiny
        Row(url="u6", title=None, text=None),
        Row(url="u7", title="Error", text="gone"),  # weak title + tiny body
    ]
    out = {r.url: r for r in soft404_signals(spark.createDataFrame(rows)).collect()}
    assert out["u1"].soft404  # strong title marker alone is decisive
    assert not out["u2"].soft404  # weak 'error' title + long clean body
    # u3: strong marker ('404s' does not match \b404\b... it does not: '404s'
    # has no word boundary after 404) -> title_strong False; body_error but
    # long -> not flagged
    assert not out["u3"].title_strong
    assert not out["u3"].soft404
    assert not out["u4"].soft404  # tiny but clean -> not flagged
    assert out["u5"].soft404  # error phrase AND tiny
    assert not out["u6"].soft404  # nulls -> no title/body signal
    assert out["u7"].soft404  # weak title corroborated by tiny body


def test_host_soft404_rates(spark):
    """The per-host (n pages, s soft-404s) rollup the Soft404Demotion gate
    commits and reads (rate = s / n): per-page verdicts land in the log,
    and a second round's delta merges onto the prior counts."""
    rows = [
        Row(host="a", url="u1", title="404 Not Found", text="", action="parse"),
        Row(host="a", url="u2", title="ok", text="z" * 100, action="parse"),
        Row(host="b", url="u3", title="ok", text="z" * 100, action="parse"),
        Row(host="b", url="u4", title="404", text="", action="not_modified"),
    ]
    parsed = spark.createDataFrame(rows)
    gate = Soft404Demotion(store=None, cfg=None, seen=None, cached=lambda df: df)
    gate.counts = None  # first round: no rollup yet
    appends, replaces = gate.commit(parsed, None)
    log = sorted((r.host, r.soft404) for r in appends["soft404_log"].collect())
    assert log == [("a", 0), ("a", 1), ("b", 0)]  # only parse-routed rows
    counts = replaces["soft404_counts"]
    assert {r.host: (r.n, r.s) for r in counts.collect()} == {"a": (2, 1), "b": (1, 0)}

    gate.counts = counts  # next round merges its delta onto the prior rollup
    _, replaces = gate.commit(parsed, None)
    got = {r.host: (r.n, r.s) for r in replaces["soft404_counts"].collect()}
    assert got == {"a": (4, 2), "b": (2, 0)}


def test_mine_url_templates(spark):
    rows = [
        Row(url="http://h.test/item/123"),
        Row(url="http://h.test/item/456"),
        Row(url="http://h.test/item/456"),  # dup URL: distinct count stays 2
        Row(url="http://h.test/about"),
        Row(url="http://h.test/obj/deadbeef00"),  # 10 hex chars -> {x}
        Row(url="http://h.test/obj/DEADBEEF2A"),  # uppercase id -> {x} too
        Row(url="http://other.test/item/9"),
    ]
    out = {
        (r.host, r.template): (r.n_urls, r.host_share)
        for r in mine_url_templates(spark.createDataFrame(rows)).collect()
    }
    assert out[("h.test", "http://h.test/item/{d}")] == (2, 0.4)
    assert out[("h.test", "http://h.test/about")] == (1, 0.2)
    assert out[("h.test", "http://h.test/obj/{x}")] == (2, 0.4)
    assert out[("other.test", "http://other.test/item/{d}")] == (1, 1.0)


def test_cache_ttl_precedence(spark):
    cases = [
        ("no-store", 0),
        ("no-cache, max-age=500", 0),
        ("Private, MAX-AGE=42", 0),  # shared cache may not reuse private
        ("s-maxage=600, max-age=60", 600),
        ("max-age=120", 120),
        # must-revalidate does NOT shorten freshness (RFC 9111 §5.2.2.2)
        ("must-revalidate, max-age=300", 300),
        ("must-revalidate", 86400),
        ("public", 86400),  # no freshness directive
        (None, 86400),  # absent header
        ("max-age = 7", 7),  # whitespace around '='
    ]
    df = spark.createDataFrame(
        [Row(i=i, cc=cc) for i, (cc, _) in enumerate(cases)]
    )
    out = {
        r.i: r.ttl
        for r in df.select(
            "i", cache_ttl_seconds(F.col("cc")).alias("ttl")
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert out[i] == want, (i, cases[i], out[i])
