"""Skew-shape regression guards (VERDICT r4 punch list #1-#3, #6).

Every fix in the r3/r4 skew sweep (spans, sketches, scheduler, index_layout)
eventually regressed somewhere else until a plan-shape test pinned it.  These
tests pin the round-5 fixes:

  * exact_dedup: groupBy(fp).min + semi-join — never a fingerprint window
    (one hot fingerprint = one straggler task at 10^10 docs), proven on a
    planted hot key ~10^6 rows deep.
  * indexer family df: groupBy(word)+join-back — never a word-keyed window
    (a hot term's postings list = one window task at corpus scale).
  * ANN top-k: salted two-phase — no per-query window ever sorts the corpus
    in one task.
  * seen anti-join: with BOTH sides bucket-laid-out on the join key, the
    executed plan must not reshuffle the seen side (SURVEY §4's
    storage-partitioned-join claim; Iceberg mapping documented in README).
"""

import re

import pytest
from pyspark.sql import functions as F


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _executed(df) -> str:
    return (
        df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    )


def _window_partition_keys(plan: str) -> list[str]:
    """Column names inside every windowspecdefinition(...) of an optimized
    plan — the partition keys come first, before the sort-order specs."""
    keys = []
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        head = spec.split(",")[0].strip()
        keys.append(head.split("#")[0])
    return keys


def test_exact_dedup_hot_fingerprint_no_window(spark):
    """One fingerprint repeated ~10^6x: the plan must carry NO Window node
    (the r4 spans-fix mirror), and the aggregate shape must still return the
    min-id representative exactly."""
    from cis455crawler_spark.operators.dedup_fuzzy import exact_dedup

    n, uniques = 1_000_000, 1_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") >= uniques, F.lit("boilerplate error shell"))
        .otherwise(F.concat(F.lit("unique-"), F.col("id")))
        .alias("text"),
    )
    kept = exact_dedup(docs)
    plan = _optimized(kept)
    assert "Window" not in plan, plan

    rows = kept.agg(
        F.count("*").alias("n"),
        F.min(F.when(F.col("text") == "boilerplate error shell", F.col("doc_id"))).alias(
            "hot_rep"
        ),
        F.count(F.when(F.col("text") == "boilerplate error shell", 1)).alias("n_hot"),
    ).collect()[0]
    # 1000 uniques survive; the 999_000-deep hot key keeps exactly its min id
    assert rows["n"] == uniques + 1
    assert rows["n_hot"] == 1 and rows["hot_rep"] == uniques


def test_indexer_df_never_a_word_window(spark):
    """postings/bm25_postings: the only window partition key allowed is
    doc_id (bounded per doc); df must come from groupBy(word) + join-back
    (VERDICT r4 'What's wrong' #1)."""
    from cis455crawler_spark.operators.indexer import bm25_postings, postings

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma doc{i} alpha") for i in range(50)],
        ["doc_id", "text"],
    )
    for df in (postings(docs), bm25_postings(docs)):
        keys = _window_partition_keys(_optimized(df))
        assert keys and set(keys) == {"doc_id"}, keys


@pytest.mark.parametrize("which", ["ivf", "quantized"])
def test_ann_topk_is_two_phase(spark, which):
    """IVF/quantized ANN rank: every q_id-keyed window must be either the
    salted phase-1 ((q_id, _salt) — bounded by corpus/buckets) or rank a
    phase-1-capped survivor set; the plan therefore carries `_salt`, and no
    windowspecdefinition partitions on q_id alone without a preceding salted
    phase (VERDICT r4 'What's wrong' #3)."""
    import numpy as np

    from cis455crawler_spark.operators.similarity import (
        cosine_topk_ivf,
        cosine_topk_quantized,
    )

    vectors = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("float"),
            (F.col("id") % 5 + 1).cast("float"),
            F.lit(1.0).cast("float"),
        ).alias("embedding"),
    )
    queries = spark.range(3).select(
        F.col("id").alias("q_id"),
        F.array(
            F.lit(1.0).cast("float"), F.lit(2.0).cast("float"), F.lit(1.0).cast("float")
        ).alias("q_vec"),
    )
    if which == "ivf":
        # nprobe == centroid count: every cell is probed, so top-k stays exact
        cents = np.array(
            [[1, 1, 1], [6, 1, 1], [1, 5, 1], [6, 5, 1]], dtype=np.float32
        )
        out = cosine_topk_ivf(vectors, queries, cents, k=5, nprobe=len(cents))
    else:
        out = cosine_topk_quantized(vectors, queries, k=5)
    plan = _optimized(out)
    assert "_salt" in plan, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    salted = [s for s in specs if "_salt" in s]
    assert salted, specs  # phase 1 exists
    # phases pair up: #global-rank windows == #salted phase-1 windows
    assert len(specs) == 2 * len(salted), specs

    # and the two-phase rank is still the exact top-k (lossless)
    got = {(r["q_id"], r["rn"]): r["vec_id"] for r in out.collect()}
    assert len(got) == 15  # 3 queries x k=5, dense ranks 1..5


def test_seen_anti_join_storage_partitioned(spark):
    """SURVEY §4 claim: with candidates and seen BOTH bucket-laid-out on
    url_hash (Iceberg: PARTITIONED BY bucket(N, url_hash) +
    spark.sql.sources.v2.bucketing.enabled=true), the anti-join reshuffles
    NEITHER side. Local proxy: two Hive-layout bucketed tables (session
    warehouse dir; dropped at the end), broadcast disabled so the join
    cannot degenerate, executed plan has zero Exchange."""
    n_buckets = 8
    seen = spark.range(5_000).select(F.sha1(F.col("id").cast("string")).alias("url_hash"))
    cand = spark.range(2_000, 9_000).select(
        F.sha1(F.col("id").cast("string")).alias("url_hash"),
        F.concat(F.lit("http://h/"), F.col("id")).alias("url"),
    )
    spark.sql("DROP TABLE IF EXISTS _spj_seen")
    spark.sql("DROP TABLE IF EXISTS _spj_cand")
    seen.write.bucketBy(n_buckets, "url_hash").sortBy("url_hash").saveAsTable("_spj_seen")
    cand.write.bucketBy(n_buckets, "url_hash").sortBy("url_hash").saveAsTable("_spj_cand")
    try:
        with_conf = [
            ("spark.sql.autoBroadcastJoinThreshold", "-1"),
            ("spark.sql.adaptive.enabled", "false"),
        ]
        old = {k: spark.conf.get(k) for k, _ in with_conf}
        for k, v in with_conf:
            spark.conf.set(k, v)
        try:
            new = spark.table("_spj_cand").join(
                spark.table("_spj_seen"), "url_hash", "left_anti"
            )
            plan = _executed(new)
            assert "Exchange" not in plan, plan
            assert new.count() == 4_000  # ids 5000..8999 are new
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)
    finally:
        spark.sql("DROP TABLE IF EXISTS _spj_seen")
        spark.sql("DROP TABLE IF EXISTS _spj_cand")
