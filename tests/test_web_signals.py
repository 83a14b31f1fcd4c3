"""Anchor-text postings, HITS, boilerplate stripping, CDX index — the
web-signal operators added in round 3 (SURVEY §2.11), each differential-
tested against an independently written driver-side oracle."""

import pytest

from cis455crawler_spark.operators.anchors import (
    anchor_pairs,
    anchor_postings,
    extract_anchor_pairs_py,
)
from cis455crawler_spark.operators.boilerplate import (
    boilerplate_lines,
    strip_boilerplate,
)
from cis455crawler_spark.operators.cdx import cdx_index, surt_key
from cis455crawler_spark.operators.pagerank import hits

from .reference import hits_py_oracle


# ---------------------------------------------------------------- anchors --

HTML = (
    b"<html><body>"
    b'<a href="p1.html">Visit <b>Page&nbsp;One</b> now</a>'
    b'<a href="http://other.com/x">absolute dropped</a>'
    b"<a name='no-href'>not a link</a>"
    b'<a href="p2.html"></a>'
    b'<A HREF=\'p3.html\'>upper  case\n  tag</A>'
    b"</body></html>"
)


def test_extract_anchor_pairs_kernel():
    got = extract_anchor_pairs_py(HTML)
    assert got == [
        {"href": "p1.html", "anchor": "Visit Page One now"},
        {"href": "http://other.com/x", "anchor": "absolute dropped"},
        {"href": "p2.html", "anchor": ""},
        {"href": "p3.html", "anchor": "upper case tag"},
    ]
    assert extract_anchor_pairs_py(None) == []
    assert extract_anchor_pairs_py(b"no links here") == []


def test_extract_anchor_pairs_unclosed_auto_close():
    # a missing </a> must not swallow the next anchor (browser/JTidy
    # auto-close semantics): both hrefs vote, each with its own text
    html = b'<a href="x.html">foo<a href="y.html">bar</a> tail'
    assert extract_anchor_pairs_py(html) == [
        {"href": "x.html", "anchor": "foo"},
        {"href": "y.html", "anchor": "bar"},
    ]
    # unclosed final anchor runs to EOF
    assert extract_anchor_pairs_py(b'<a href="z.html">till <i>end</i>') == [
        {"href": "z.html", "anchor": "till end"}
    ]


def test_anchor_pairs_resolution_and_junk(spark):
    pages = spark.createDataFrame(
        [("http://h0.example.com/a.html", bytearray(HTML))], "url string, html binary"
    )
    rows = anchor_pairs(pages).orderBy("target_url").collect()
    # absolute href dropped (quirk); relatives resolve via proto+host+/ branch
    assert [r.target_url for r in rows] == [
        "http://h0.example.com/p1.html",
        "http://h0.example.com/p2.html",
        "http://h0.example.com/p3.html",
    ]
    assert rows[0].anchor == "Visit Page One now"


def test_anchor_postings_counts(spark):
    h1 = b'<a href="t.html">spark engine</a><a href="t.html">the spark</a>'
    h2 = b'<a href="t.html">Spark!</a><a href="u.html">other words</a>'
    pages = spark.createDataFrame(
        [
            ("http://h.com/a.html", bytearray(h1)),
            ("http://h.com/b.html", bytearray(h2)),
        ],
        "url string, html binary",
    )
    got = {
        (r.target_url, r.word): r.anchor_tf
        for r in anchor_postings(pages).collect()
    }
    # 'the' is a stopword; counts aggregate across pages and across <a> tags
    assert got[("http://h.com/t.html", "spark")] == 3
    assert got[("http://h.com/t.html", "engine")] == 1
    assert ("http://h.com/t.html", "the") not in got
    assert got[("http://h.com/u.html", "other")] == 1


# ------------------------------------------------------------------- HITS --


def test_hits_matches_py_oracle(spark):
    # a hub (h) pointing at two authorities, plus a chain and a dangling node
    edges_py = [
        ("h", "a1"),
        ("h", "a2"),
        ("x", "a1"),
        ("a1", "a2"),
        ("y", "h"),
    ]
    edges = spark.createDataFrame(edges_py, "src string, dst string")
    got = {r.node: (r.hub, r.auth) for r in hits(edges, iterations=3).collect()}
    want = hits_py_oracle(edges_py, iterations=3)
    assert set(got) == set(want)
    for n, (hb, au) in want.items():
        assert got[n][0] == pytest.approx(hb, abs=1e-12), n
        assert got[n][1] == pytest.approx(au, abs=1e-12), n
    # the designed shape: h is the best hub, a1/a2 the best authorities
    best_hub = max(got, key=lambda n: got[n][0])
    assert best_hub == "h"
    assert got["a2"][1] > got["y"][1]


def test_hits_dup_edges_empty_graph_and_bad_iterations(spark):
    # duplicate edges collapse (distinct) — same result as the deduped graph
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "c")], "src string, dst string"
    )
    got = {r.node: (r.hub, r.auth) for r in hits(edges, iterations=2).collect()}
    want = hits_py_oracle([("a", "b"), ("b", "c")], iterations=2)
    for n in want:
        assert got[n] == pytest.approx(want[n])
    # empty edge set -> empty result (no NaNs from the zero-total guard)
    empty = spark.createDataFrame([], "src string, dst string")
    assert hits(empty, iterations=1).count() == 0
    with pytest.raises(ValueError):
        hits(edges, iterations=0)


# ------------------------------------------------------------ boilerplate --


def _bp_docs(spark):
    nav = "HOME | ABOUT | CONTACT"
    foot = "(c) example inc"
    rows = [
        ("h1", 1, f"{nav}\nunique alpha\n{foot}"),
        ("h1", 2, f"{nav}\nunique beta\n{foot}"),
        ("h1", 3, f"{nav}\nunique gamma"),
        ("h1", 4, "totally free page"),
        # other host: same nav text but only 1/2 docs -> NOT boilerplate there
        ("h2", 5, f"{nav}\nsolo page"),
        ("h2", 6, "different page"),
    ]
    return spark.createDataFrame(rows, "host string, doc_id int, text string")


def test_boilerplate_lines_threshold(spark):
    docs = _bp_docs(spark)
    bp = {
        (r.host, r.line): r.n_docs_with_line
        for r in boilerplate_lines(docs, min_frac=0.5).collect()
    }
    assert bp == {
        ("h1", "HOME | ABOUT | CONTACT"): 3,  # 3/4 docs >= 0.5
        ("h1", "(c) example inc"): 2,  # 2/4 docs == 0.5
    }


def test_strip_boilerplate_preserves_order_and_all_docs(spark):
    docs = _bp_docs(spark)
    got = {r.doc_id: r for r in strip_boilerplate(docs, min_frac=0.5).collect()}
    assert got[1].clean_text == "unique alpha"
    assert got[2].clean_text == "unique beta"
    assert got[3].clean_text == "unique gamma"
    assert got[4].clean_text == "totally free page"
    assert got[5].clean_text == "HOME | ABOUT | CONTACT\nsolo page"  # h2 keeps nav
    assert got[6].clean_text == "different page"
    assert got[1].n_stripped == 2 and got[1].n_lines == 1
    assert got[4].n_stripped == 0
    assert len(got) == 6  # no doc dropped


def test_strip_boilerplate_all_lines_stripped_and_null_text(spark):
    docs = spark.createDataFrame(
        [("h", 1, "same"), ("h", 2, "same"), ("h", 3, None)],
        "host string, doc_id int, text string",
    )
    got = {r.doc_id: r for r in strip_boilerplate(docs).collect()}
    assert got[1].clean_text == "" and got[1].n_stripped == 1
    assert got[2].clean_text == ""
    # NULL text -> kept with empty text and ZERO (not NULL) counters
    assert got[3].clean_text == "" and got[3].n_lines == 0
    assert got[3].n_stripped == 0


# -------------------------------------------------------------------- CDX --


def test_surt_key_shapes(spark):
    df = spark.createDataFrame(
        [
            ("http://Sub.Example.COM/A/b?Q=1",),
            ("http://example.com/",),
            ("http://example.com:8080/x",),
            ("https://example.com",),
        ],
        "url string",
    )
    got = [r.k for r in df.select(surt_key("url").alias("k")).collect()]
    assert got == [
        "com,example,sub)/a/b?q=1",
        "com,example)/",
        "com,example:8080)/x",
        "com,example)/",
    ]


def test_cdx_index_sorted_and_digested(spark):
    import hashlib

    pages = spark.createDataFrame(
        [
            ("http://b.com/x", bytearray(b"<html>bx</html>")),
            ("http://a.com/y", bytearray(b"<html>ay</html>")),
            ("http://a.com/a", bytearray(b"<html>aa</html>")),
        ],
        "url string, html binary",
    )
    rows = cdx_index(pages, digest="sha1").collect()
    assert [r.surt_key for r in rows] == sorted(r.surt_key for r in rows)
    assert [r.url for r in rows] == [
        "http://a.com/a",
        "http://a.com/y",
        "http://b.com/x",
    ]
    assert rows[0].digest == hashlib.sha1(b"<html>aa</html>").hexdigest()
    assert rows[0].n_bytes == 15
