"""TrustRank (personalized PageRank over a trusted seed set) vs the
driver-side Python oracle, plus the property that makes it the link-spam
signal: a densely self-linked cluster with no inbound path from the trust
set scores exactly zero."""

from __future__ import annotations

from cis455crawler_spark.operators.pagerank import trustrank

from .reference import trustrank_py_oracle

# trusted hub t -> a, b; a -> b, c; b -> c; c -> a (a cycle reachable from t)
# spam cluster s1<->s2<->s3 densely interlinked, NO inbound edge from the
# trusted component (s1 links OUT to a — outbound spam links must not help)
EDGES = [
    ("t", "a"), ("t", "b"),
    ("a", "b"), ("a", "c"),
    ("b", "c"),
    ("c", "a"),
    ("s1", "s2"), ("s2", "s3"), ("s3", "s1"),
    ("s1", "s3"), ("s2", "s1"), ("s3", "s2"),
    ("s1", "a"),
]
TRUSTED = {"t"}


def test_trustrank_matches_py_oracle(spark):
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    trusted = spark.createDataFrame([(n,) for n in TRUSTED], "node string")
    got = {r.node: round(r.rank, 9) for r in trustrank(edges, trusted, iterations=5).collect()}
    want = {
        n: round(v, 9)
        for n, v in trustrank_py_oracle(EDGES, TRUSTED, iterations=5).items()
    }
    assert got == want


def test_trustrank_spam_cluster_scores_zero(spark):
    edges = spark.createDataFrame(EDGES, "src string, dst string")
    trusted = spark.createDataFrame([("t",)], "node string")
    got = {r.node: r.rank for r in trustrank(edges, trusted, iterations=6).collect()}
    # no trust path reaches the spam cluster: exactly zero, not merely small
    assert got["s1"] == got["s2"] == got["s3"] == 0.0
    # the trusted component carries all the mass
    assert got["t"] > 0 and got["a"] > 0 and got["b"] > 0 and got["c"] > 0


def test_trustrank_global_pagerank_contrast(spark):
    """The same spam cluster earns NONZERO global PageRank (teleport lands
    everywhere) — the demotion is specifically TrustRank's doing."""
    from cis455crawler_spark.operators.pagerank import pagerank

    edges = spark.createDataFrame(EDGES, "src string, dst string")
    pr = {r.node: r.rank for r in pagerank(edges, iterations=6).collect()}
    assert pr["s1"] > 0 and pr["s2"] > 0 and pr["s3"] > 0
