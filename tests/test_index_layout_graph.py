"""postings_varint_stats (operators/index_layout.py), reciprocal_link_stats
(operators/graph_signals.py), and registered_domain (functions/urls.py)
against hand-computed oracles; the corpus-scale versions are strict-oracled
registry entries (postings_varint_size, reciprocal_link_ratio,
pld_rollup_hosts)."""

import pytest
from pyspark.sql import functions as F

from cis455crawler_spark.functions.urls import registered_domain
from cis455crawler_spark.operators.graph_signals import reciprocal_link_stats
from cis455crawler_spark.operators.index_layout import postings_varint_stats


def _varint(gap: int) -> int:
    b = 1
    while gap >= 1 << (7 * b):
        b += 1
    return b


def _oracle(pairs):
    by_word = {}
    for w, d in pairs:
        by_word.setdefault(w, set()).add(d)
    out = {}
    for w, docs in by_word.items():
        s = sorted(docs)
        gaps = [s[0] + 1] + [b - a for a, b in zip(s, s[1:])]
        bv = sum(_varint(g) for g in gaps)
        out[w] = (len(s), bv, 8 * len(s), round(8 * len(s) / bv, 6))
    return out


PAIRS = (
    # gaps straddling every varint threshold: 127 (1B), 128 (2B),
    # 16383 (2B), 16384 (3B); first-posting anchor at doc_id 0 (gap 1)
    [("t1", d) for d in [0, 127, 255, 16638, 33022, 33023]]
    # hot term: dense run so inner gaps dominate
    + [("hot", d) for d in range(200)]
    # single posting at a large doc_id (3-byte anchor gap)
    + [("solo", 2_000_000)]
)


@pytest.mark.parametrize("bucket_size", [1, 4, 64, 1 << 20])
def test_postings_varint_bucket_size_invariant(spark, bucket_size):
    """The two-phase split is pure mechanics: any bucket_size must yield
    the byte counts of the single sorted walk the Python oracle does."""
    df = spark.createDataFrame(PAIRS, "word string, doc_id long")
    got = {
        r["word"]: (r["df"], r["bytes_varint"], r["bytes_raw"], r["compression_ratio"])
        for r in postings_varint_stats(df, bucket_size=bucket_size).collect()
    }
    assert got == _oracle(PAIRS)


def test_postings_varint_thresholds_by_hand(spark):
    """Pin t1's bytes explicitly: anchor 0->1B, gaps 127->1B, 128->2B,
    16383->2B, 16384->3B, 1->1B = 10 bytes for 6 postings."""
    df = spark.createDataFrame(PAIRS, "word string, doc_id long")
    r = {x["word"]: x for x in postings_varint_stats(df, bucket_size=16).collect()}
    assert r["t1"]["bytes_varint"] == 10 and r["t1"]["df"] == 6
    assert r["solo"]["bytes_varint"] == _varint(2_000_001) == 3
    # dense run: 1 anchor byte + 199 unit gaps = 200 bytes vs 1600 raw
    assert r["hot"]["bytes_varint"] == 200
    assert r["hot"]["compression_ratio"] == 8.0


def test_reciprocal_link_stats_designed_graph(spark):
    edges = [
        # ring a<->b, a<->c: a fully reciprocated (2/2)
        ("a", "b"), ("b", "a"), ("a", "c"), ("c", "a"),
        # b->d one-way; duplicate edge must not double-count
        ("b", "d"), ("b", "d"),
        # self-loop ignored entirely
        ("d", "d"),
        # d->a one-way (a has no edge to d)
        ("d", "a"),
    ]
    out = {
        r["node"]: (r["n_out"], r["n_recip"], r["recip_ratio"])
        for r in reciprocal_link_stats(
            spark.createDataFrame(edges, "src string, dst string")
        ).collect()
    }
    assert out["a"] == (2, 2, 1.0)
    assert out["b"] == (2, 1, 0.5)
    assert out["c"] == (1, 1, 1.0)
    assert out["d"] == (1, 0, 0.0)  # self-loop dropped, d->a unreciprocated


@pytest.mark.parametrize(
    ("host", "pld"),
    [
        ("a.b.example.com", "example.com"),
        ("www.example.co.uk", "example.co.uk"),
        ("deep.sub.shop.example.co.uk", "example.co.uk"),
        ("example.com", "example.com"),
        ("s3.com.au", "s3.com.au"),  # n=3 with a 2-level suffix keeps all 3
        ("co.uk", "co.uk"),  # bare suffix passes through
        ("localhost", "localhost"),
        ("UPPER.Example.COM", "example.com"),  # lowercased
    ],
)
def test_registered_domain(spark, host, pld):
    row = (
        spark.createDataFrame([(host,)], "h string")
        .select(registered_domain("h").alias("pld"))
        .first()
    )
    assert row["pld"] == pld


def test_term_block_maxscore_designed(spark):
    from cis455crawler_spark.operators.index_layout import term_block_maxscore

    rows = [
        # word 'a': docs 1,2 in block 0; doc 70 in block 1
        (1, "a", 3.0),
        (2, "a", 5.0),
        (70, "a", 9.0),
        # word 'b': single posting
        (64, "b", 1.5),
    ]
    out = {
        (r.word, r.block_id): (r.block_max, r.block_df, r.term_max)
        for r in term_block_maxscore(
            spark.createDataFrame(rows, "doc_id long, word string, score double"),
            block_size=64,
        ).collect()
    }
    assert out[("a", 0)] == (5.0, 2, 9.0)
    assert out[("a", 1)] == (9.0, 1, 9.0)
    assert out[("b", 1)] == (1.5, 1, 1.5)


def _frontcode_py(words, bucket_chars=1):
    from collections import defaultdict

    buckets = defaultdict(list)
    for w in sorted(set(words)):
        buckets[w[:bucket_chars]].append(w)
    out = {}
    for b, ws in buckets.items():
        raw = front = 0
        prev = None
        for w in ws:
            lcp = 0
            if prev is not None:
                while (
                    lcp < min(len(w), len(prev)) and w[lcp] == prev[lcp]
                ):
                    lcp += 1
            raw += len(w) + 1
            front += 2 + len(w) - lcp
            prev = w
        out[b] = (len(ws), raw, front, round(raw / front, 6))
    return out


def test_term_dict_frontcode_vs_python(spark):
    from cis455crawler_spark.operators.index_layout import (
        term_dict_frontcode_stats,
    )

    words = [
        "alpha", "alphabet", "alpine", "al",  # 'al' is a full prefix of next
        "beta", "beta",  # duplicate collapses
        "b",  # single char, prefix of beta
        "zoo",
    ]
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {
        r.bucket: (r.n_terms, r.raw_bytes, r.front_bytes, r.compression_ratio)
        for r in term_dict_frontcode_stats(df).collect()
    }
    assert got == _frontcode_py(words)
    # 'al' sorts FIRST in its bucket (head, lcp 0); 'alpha'->'alphabet'
    # shares 5 chars; prefix-of-previous case exercised via 'b'->'beta'


def test_salsa_vs_python_oracle(spark):
    from cis455crawler_spark.operators.pagerank import salsa

    from .reference import salsa_py_oracle

    edges = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
        ("d", "c"), ("d", "b"), ("b", "c"),  # dup edge collapses
    ]
    want = salsa_py_oracle(edges, iterations=3)
    got = {
        r.node: (round(r.hub, 9), round(r.auth, 9))
        for r in salsa(
            spark.createDataFrame(edges, "src string, dst string"),
            iterations=3,
        ).collect()
    }
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n][0] - want[n][0]) < 1e-9, n
        assert abs(got[n][1] - want[n][1]) < 1e-9, n
