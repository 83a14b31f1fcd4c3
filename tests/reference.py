"""Reference implementations the engine's operators are checked against:
driver-side graph-rank oracles, scalar forms of the vectorized sidecar
probes, the exact brute-force cosine top-k the ANN paths are scored
against, and the rank over the streaming index's maintained term stats."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cis455crawler_spark.operators.cuckoo import _alt
from cis455crawler_spark.operators.indexer import IDF_CORPUS, W_META, W_TFIDF, W_TITLE
from cis455crawler_spark.operators.pagerank import BASE, DAMPING
from cis455crawler_spark.operators.similarity import _dot, _norm, topk_two_phase


# -- graph ranks (operators/pagerank.py) -------------------------------------


def trustrank_py_oracle(
    edge_list: list[tuple[str, str]],
    trusted: set[str],
    iterations: int = 5,
    drop_sinks: bool = True,
) -> dict[str, float]:
    """Driver-side reference for pagerank.trustrank."""
    edges = sorted(set(edge_list))
    if drop_sinks:
        sources = {s for s, _ in edges}
        edges = [(s, d) for s, d in edges if d in sources]
    adj: dict[str, list[str]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    ranks = {n: (1.0 if n in trusted else 0.0) for n in adj}
    for _ in range(iterations):
        incoming: dict[str, float] = {}
        for s, outs in adj.items():
            share = ranks[s] / len(outs)
            for d in outs:
                incoming[d] = incoming.get(d, 0.0) + share
        ranks = {
            n: (BASE if n in trusted else 0.0) + DAMPING * incoming.get(n, 0.0)
            for n in adj
        }
    return ranks


def pagerank_py_oracle(
    edge_list: list[tuple[str, str]], iterations: int = 5, drop_sinks: bool = True
) -> dict[str, float]:
    """Driver-side reference for pagerank.pagerank."""
    edges = sorted(set(edge_list))
    if drop_sinks:
        sources = {s for s, _ in edges}
        edges = [(s, d) for s, d in edges if d in sources]
    adj: dict[str, list[str]] = {}
    for s, d in edges:
        adj.setdefault(s, []).append(d)
    ranks = {n: 1.0 for n in adj}
    for _ in range(iterations):
        incoming: dict[str, float] = {}
        for s, outs in adj.items():
            share = ranks[s] / len(outs)
            for d in outs:
                incoming[d] = incoming.get(d, 0.0) + share
        ranks = {n: BASE + DAMPING * incoming[n] if n in incoming else BASE for n in adj}
    return ranks


def hits_py_oracle(
    edge_list: list[tuple[str, str]], iterations: int = 3
) -> dict[str, tuple[float, float]]:
    """Driver-side reference for pagerank.hits: {node: (hub, auth)}."""
    edges = sorted(set(edge_list))
    nodes = sorted({n for e in edges for n in e})
    hub = {n: 1.0 for n in nodes}
    auth = {n: 0.0 for n in nodes}
    for _ in range(iterations):
        auth = {n: sum(hub[s] for s, d in edges if d == n) for n in nodes}
        ta = sum(auth.values())
        auth = {n: (v / ta if ta > 0 else 0.0) for n, v in auth.items()}
        hub = {n: sum(auth[d] for s, d in edges if s == n) for n in nodes}
        th = sum(hub.values())
        hub = {n: (v / th if th > 0 else 0.0) for n, v in hub.items()}
    return {n: (hub[n], auth[n]) for n in nodes}


def salsa_py_oracle(
    edge_list: list[tuple[str, str]], iterations: int = 3
) -> dict[str, tuple[float, float]]:
    """Driver-side reference for pagerank.salsa: {node: (hub, auth)}."""
    edges = sorted(set(edge_list))
    nodes = sorted({n for e in edges for n in e})
    outdeg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    indeg = {n: sum(1 for _, d in edges if d == n) for n in nodes}
    hub = {n: 1.0 for n in nodes}
    for _ in range(iterations):
        auth = {
            n: sum(hub[s] / outdeg[s] for s, d in edges if d == n)
            for n in nodes
        }
        ta = sum(auth.values())
        auth = {n: (v / ta if ta > 0 else 0.0) for n, v in auth.items()}
        hub = {
            n: sum(auth[d] / indeg[d] for s, d in edges if s == n)
            for n in nodes
        }
        th = sum(hub.values())
        hub = {n: (v / th if th > 0 else 0.0) for n, v in hub.items()}
    return {n: (hub[n], auth[n]) for n in nodes}


# -- sidecar probes (operators/cuckoo.py) ------------------------------------


def cuckoo_contains(table: np.ndarray, fp: int, i1: int, mask: int) -> bool:
    """Scalar form of the cuckoo sidecar's membership test (either of the
    key's two candidate rows holds its fingerprint); the sidecar probes
    with the vectorized _contains_vec."""
    return bool((table[i1] == fp).any() or (table[_alt(i1, fp, mask)] == fp).any())


# -- exact nearest neighbours (operators/similarity.py) ----------------------


def cosine_topk_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "q_vec",
) -> DataFrame:
    """(q_id, vec_id, cosine, rn) — exact top-k by cosine for each query.
    Queries are broadcast (small side); the big vector table streams."""
    v = vectors.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")).withColumn(
        "nv", _norm(F.col("v"))
    )
    q = queries.select(F.col(q_id_col).alias("q_id"), F.col(q_vec_col).alias("qv")).withColumn(
        "nq", _norm(F.col("qv"))
    )
    scored = v.crossJoin(F.broadcast(q)).withColumn(
        "cosine", _dot(F.col("v"), F.col("qv")) / (F.col("nv") * F.col("nq"))
    )
    # salted two-phase: a plain per-query window would sort the WHOLE corpus
    # in one task per query — the exact baseline still must not straggle
    return topk_two_phase(
        scored, "q_id", [F.desc("cosine"), "vec_id"], k, "rn", "vec_id"
    ).select("q_id", "vec_id", "cosine", "rn")


# -- streaming index (streaming/indexing.py) ---------------------------------


def rank_from_stats(stats: DataFrame, bug_compatible: bool = True) -> DataFrame:
    """The reference's rank over the maintained stats table — identical
    arithmetic to operators/indexer.postings (Indexer.java:212-232,
    including the int-division idf quirk); df is recomputed at read time via
    a skew-proof groupBy(word)+join (never a word-keyed window — a hot term
    would serialize its postings list into one task at corpus scale)."""
    df_by_word = stats.groupBy("word").agg(F.count("*").alias("df"))
    out = stats.join(df_by_word, "word")
    if bug_compatible:
        tf_prime = 0.5 + 0.5 * F.col("tf") / F.col("max_tf")
        idf = F.log(F.floor(F.lit(IDF_CORPUS) / F.col("df")).cast("double"))
    else:
        tf_prime = 0.5 + 0.5 * (F.col("tf") / F.col("max_tf"))
        idf = F.log(F.lit(float(IDF_CORPUS)) / F.col("df"))
    return out.select(
        "doc_id",
        "word",
        "tf",
        "max_tf",
        "df",
        "is_title",
        "is_meta",
        (
            F.lit(W_TFIDF) * tf_prime * idf
            + F.lit(W_TITLE) * F.col("is_title")
            + F.lit(W_META) * F.col("is_meta")
        ).alias("rank"),
    )
