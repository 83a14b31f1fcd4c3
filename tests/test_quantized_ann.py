"""Int8-quantized ANN (operators/similarity.quantize_embeddings /
cosine_topk_quantized): candidate generation over tinyint vectors + exact
float re-rank. Invariants: quantization error bound, top-1 exactness and
recall@k vs the brute-force path on the real embeddings fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cis455crawler_spark.operators.similarity import (
    cosine_topk_quantized,
    quantize_embeddings,
)

from .reference import cosine_topk_bruteforce


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    dvec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", dvec.alias("embedding")
    ).cache()


def test_quantize_invariants(spark, emb):
    qz = quantize_embeddings(emb).join(emb, "vec_id")
    rows = qz.select(
        "vec_id",
        "scale",
        F.array_max(F.transform("qvec", lambda q: F.abs(q.cast("int")))).alias("qmax"),
        F.array_max(
            F.zip_with(
                "embedding", "qvec", lambda x, q: F.abs(x - q.cast("double") * F.col("scale"))
            )
        ).alias("max_err"),
    ).collect()
    for r in rows:
        assert r.qmax <= 127
        # symmetric int8: reconstruction error within half a step
        assert r.max_err <= r.scale / 2 + 1e-12, r.vec_id


def test_quantized_topk_recall(spark, emb):
    queries = emb.filter(F.col("vec_id").isin(1, 2, 3)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact_rows = cosine_topk_bruteforce(emb, queries, k=10).collect()
    quant_rows = cosine_topk_quantized(emb, queries, k=10, rerank=3).collect()
    e = {(r.q_id, r.rn): r.vec_id for r in exact_rows}
    g = {(r.q_id, r.rn): r.vec_id for r in quant_rows}
    # top-1 must be exact; recall@10 >= 0.9 over the 3 queries
    for q in (1, 2, 3):
        assert g[(q, 1)] == e[(q, 1)]
    e_sets = {q: {v for (qq, _), v in e.items() if qq == q} for q in (1, 2, 3)}
    g_sets = {q: {v for (qq, _), v in g.items() if qq == q} for q in (1, 2, 3)}
    recall = sum(len(e_sets[q] & g_sets[q]) for q in e_sets) / sum(
        len(e_sets[q]) for q in e_sets
    )
    assert recall >= 0.9, recall
    # the survivor set's cosines are EXACT — every reported score matches
    # the brute-force score for the same (q, vec)
    e_scores = {(r.q_id, r.vec_id): round(r.cosine, 9) for r in exact_rows}
    for r in quant_rows:
        if (r.q_id, r.vec_id) in e_scores:
            assert round(r.cosine, 9) == e_scores[(r.q_id, r.vec_id)]


def test_prequantized_input_identical(spark, emb):
    """The persisted-quantized fast path (the 4x-scan-saving contract):
    passing quantize_embeddings(vectors) explicitly yields EXACTLY the
    inline path's output."""
    queries = emb.filter(F.col("vec_id").isin(1, 2)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    qz = quantize_embeddings(emb).cache()
    inline = cosine_topk_quantized(emb, queries, k=5).collect()
    pre = cosine_topk_quantized(emb, queries, k=5, quantized=qz).collect()
    assert sorted(((r.q_id, r.rn, r.vec_id, round(r.cosine, 9)) for r in pre)) == sorted(
        ((r.q_id, r.rn, r.vec_id, round(r.cosine, 9)) for r in inline)
    )
    qz.unpersist()


def test_quantized_zero_vector(spark):
    rows = [(1, [0.0, 0.0, 0.0]), (2, [1.0, -2.0, 0.5])]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    qz = {r.vec_id: (r.scale, list(r.qvec)) for r in quantize_embeddings(df).collect()}
    assert qz[1][0] == 0.0 and qz[1][1] == [0, 0, 0]
    s, q = qz[2]
    assert q[1] == -127  # max-magnitude element hits the rail exactly
