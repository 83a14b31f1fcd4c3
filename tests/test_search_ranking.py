"""BM25 scoring and positional phrase search vs independent Python oracles.

Both operators are beyond the reference (its Indexer.java:212-232 rank is
tf-idf with parallel-array postings and no positions); the oracles here are
written from the textbook formulas, not from the Spark code.
"""

import math
import re

from pyspark.sql import functions as F

from cis455crawler_spark.functions.text import STOPWORDS
from cis455crawler_spark.operators.indexer import bm25_postings
from cis455crawler_spark.operators.search import phrase_search, positional_postings

DOCS = [
    (1, "fast spark window fast spark spark"),
    (2, "the fast spark is a fast table"),  # stopwords vanish pre-position
    (3, "spark fast"),  # reversed — no phrase match
    (4, "fast spark fast spark fast spark"),  # overlapping repeats
    (5, "table"),
    (6, None),  # NULL text must not blow up either path
]


def _toks(text):
    return [
        t
        for t in re.split(r"[^a-z0-9]+", (text or "").lower())
        if t and t not in STOPWORDS
    ]


def _py_bm25(rows, k1=1.2, b=0.75):
    toks = {d: _toks(t) for d, t in rows}
    toks = {d: t for d, t in toks.items() if t}
    if not toks:  # no document has a token: no postings, no scores
        return {}
    n_docs = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n_docs
    df = {}
    for t in toks.values():
        for w in set(t):
            df[w] = df.get(w, 0) + 1
    out = {}
    for d, t in toks.items():
        for w in set(t):
            tf = t.count(w)
            idf = math.log(1 + (n_docs - df[w] + 0.5) / (df[w] + 0.5))
            score = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(t) / avgdl))
            out[(d, w)] = (tf, len(t), df[w], round(score, 6))
    return out


def _py_phrase(rows, phrase):
    terms = _toks(phrase)  # same analyzer as the index
    out = {}
    for d, t in rows:
        tk = _toks(t)
        n = sum(
            1
            for i in range(len(tk) - len(terms) + 1)
            if tk[i : i + len(terms)] == terms
        )
        if n:
            out[d] = n
    return out


def test_bm25_matches_py_oracle(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    got = {
        (r.doc_id, r.word): (r.tf, r.dl, r.df, round(r.score, 6))
        for r in bm25_postings(df).collect()
    }
    assert got == _py_bm25(DOCS)


def test_positional_postings_positions(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    pos = {
        (r.doc_id, r.word): r.positions for r in positional_postings(df).collect()
    }
    # doc 1: fast spark window fast spark spark -> 1-based filtered positions
    assert pos[(1, "fast")] == [1, 4]
    assert pos[(1, "spark")] == [2, 5, 6]
    assert pos[(1, "window")] == [3]
    # doc 2's stopwords (the/is/a) are removed BEFORE positions are assigned
    assert pos[(2, "fast")] == [1, 3]
    assert pos[(2, "spark")] == [2]
    assert (6, "fast") not in pos  # NULL text contributes nothing


def test_phrase_search_matches_py_oracle(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    pp = positional_postings(df)
    for phrase in ["fast spark", "fast spark fast", "spark spark", "no such"]:
        got = {r.doc_id: r.n_matches for r in phrase_search(pp, phrase).collect()}
        assert got == _py_phrase(DOCS, phrase), phrase


def test_phrase_search_stopwords_and_empty(spark):
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    pp = positional_postings(df)
    # stopwords inside the phrase are dropped, same as in the index stream:
    # 'fast the spark' degenerates to 'fast spark'
    a = {r.doc_id: r.n_matches for r in phrase_search(pp, "fast the spark").collect()}
    b = {r.doc_id: r.n_matches for r in phrase_search(pp, "fast spark").collect()}
    assert a == b
    # punctuation goes through the index analyzer: 'fast, spark!' == 'fast spark'
    c = {r.doc_id: r.n_matches for r in phrase_search(pp, "Fast, Spark!").collect()}
    assert c == b
    # an all-stopword phrase yields the typed empty result, not an error —
    # with the INPUT's doc_id type, so unions across phrases stay legal
    empty = phrase_search(pp, "the a is")
    assert empty.count() == 0
    some = phrase_search(pp, "fast spark")
    assert empty.schema["doc_id"].dataType == some.schema["doc_id"].dataType
    assert some.unionByName(empty).count() == some.count()
