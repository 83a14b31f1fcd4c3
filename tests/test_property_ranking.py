"""Property-based differential tests for the ranking operators: BM25
(operators/indexer.bm25_postings) vs the textbook Python oracle from
tests/test_search_ranking.py, and TrustRank (operators/pagerank.trustrank)
vs its driver-side oracle, over randomized corpora/graphs. Each hypothesis
example is a BATCH (one corpus/graph -> one Spark job)."""

from __future__ import annotations

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from cis455crawler_spark.operators.indexer import bm25_postings
from cis455crawler_spark.operators.pagerank import trustrank

from .reference import trustrank_py_oracle

from .test_search_ranking import _py_bm25

_word = st.sampled_from(["alpha", "beta", "g2", "the", "a", "zz"])
_text = st.one_of(st.none(), st.lists(_word, max_size=25).map(" ".join))
_docs = st.lists(
    st.tuples(st.integers(0, 999), _text), min_size=1, max_size=20,
    unique_by=lambda t: t[0],
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=_docs)
# corpora with no token at all (all stopwords / all NULL): the Spark side
# must return no rows, not raise on the zero doc count under ANSI mode
@example(docs=[(0, "the")])
@example(docs=[(0, None)])
def test_bm25_matches_oracle_batched(spark, docs):
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {
        (r.doc_id, r.word): (r.tf, r.dl, r.df, round(r.score, 6))
        for r in bm25_postings(df).collect()
    }
    assert got == _py_bm25(docs)


_node = st.integers(0, 12).map(lambda i: f"n{i}")
_edges = st.lists(st.tuples(_node, _node), min_size=1, max_size=40)
_trust = st.sets(_node, min_size=1, max_size=4)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(edge_list=_edges, trusted=_trust)
def test_trustrank_matches_oracle_batched(spark, edge_list, trusted):
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    tdf = spark.createDataFrame([(n,) for n in sorted(trusted)], "node string")
    got = {
        r.node: round(r.rank, 9)
        for r in trustrank(edges, tdf, iterations=4).collect()
    }
    want = {
        n: round(v, 9)
        for n, v in trustrank_py_oracle(edge_list, trusted, iterations=4).items()
    }
    assert got == want
