"""Cuckoo-filter sidecar invariants (operators/cuckoo.py): exactness of the
prefiltered anti-join (identical output to the plain anti-join), no false
negatives, FP far below 1% at its design load, saturation
degrading to maybe-for-everything, and re-insert merge of deltas."""

import hashlib
import random

import numpy as np
import pytest

from cis455crawler_spark.operators.cuckoo import (
    SLOTS,
    _alt,
    _fp_i1,
    _insert,
    build_cuckoo_sidecar,
    cuckoo_buckets_for,
    merge_cuckoo_rows,
    anti_join_seen_cuckoo,
)

from .reference import cuckoo_contains


def _sha(s: str) -> str:
    return hashlib.sha1(s.encode()).hexdigest()


def _filled(keys, n_ck):
    mask = n_ck - 1
    table = np.zeros((n_ck, SLOTS), dtype=np.uint16)
    rng = random.Random(0)
    ok = all(_insert(table, *(_fp_i1(h, mask)), mask, rng) for h in keys)
    return table, mask, ok


def test_no_false_negatives_and_low_fp():
    keys = [_sha(f"k{i}") for i in range(20_000)]
    n_ck = cuckoo_buckets_for(len(keys))
    table, mask, ok = _filled(keys, n_ck)
    assert ok, "sized table must absorb its design load"
    # no false negatives — every key probes positive
    for h in keys:
        fp, i1 = _fp_i1(h, mask)
        assert cuckoo_contains(table, fp, i1, mask)
    # FP on non-keys: 16-bit fingerprints at 4 slots -> ~2*2b/2^16 ~ 2e-4;
    # assert well under a 1% design point
    others = [_sha(f"x{i}") for i in range(30_000)]
    fps = sum(
        cuckoo_contains(table, *(_fp_i1(h, mask)), mask)  # noqa: B905
        for h in others
    )
    assert fps / len(others) < 0.005, fps


def test_alt_index_is_involution():
    n_ck = 1 << 12
    mask = n_ck - 1
    rng = random.Random(7)
    for _ in range(1000):
        fp = rng.randint(1, 0xFFFF)
        i = rng.randint(0, mask)
        assert _alt(_alt(i, fp, mask), fp, mask) == i


def test_saturation_degrades_to_maybe():
    # force saturation: 10x the design load of a tiny table
    keys = [_sha(f"k{i}") for i in range(4_000)]
    mask = 63  # 64 rows x 4 slots = 256 capacity
    table = np.zeros((64, SLOTS), dtype=np.uint16)
    rng = random.Random(0)
    results = [_insert(table, *(_fp_i1(h, mask)), mask, rng) for h in keys]
    assert not all(results), "overload must fail the eviction loop"
    # the sidecar contract: a failed insert marks the bucket saturated and
    # split_by_cuckoo answers maybe for EVERY candidate (tested through the
    # Spark path below) — no false negative is possible by construction


def test_merge_reinserts_deltas():
    a = [_sha(f"a{i}") for i in range(3_000)]
    b = [_sha(f"b{i}") for i in range(3_000)]
    n_ck = cuckoo_buckets_for(8_000)
    rows = []
    for bucket, keys in ((0, a), (0, b)):
        table, mask, ok = _filled(keys, n_ck)
        assert ok
        rows.append(
            {"bucket": bucket, "n_ck": n_ck, "saturated": False, "table": table.tobytes()}
        )
    merged = merge_cuckoo_rows(rows)
    entry = merged[0]
    assert not entry["saturated"]
    mask = entry["n_ck"] - 1
    for h in a + b:
        fp, i1 = _fp_i1(h, mask)
        assert cuckoo_contains(entry["table"], fp, i1, mask), h


@pytest.mark.parametrize("capacity", [4_096, 8])  # sized, and force-saturated
def test_spark_anti_join_exactness(spark, capacity):
    """The cuckoo-prefiltered anti-join returns EXACTLY the plain
    anti-join's rows — both when the filter is healthy and when it is
    saturated (capacity 8 << 600 keys: every bucket degrades to maybe)."""
    from pyspark.sql import functions as F

    from cis455crawler_spark.functions.urls import sha1_hex

    n, num_buckets = 900, 8
    cand = spark.range(n).select(
        F.concat(F.lit("http://h.test/p"), F.col("id").cast("string")).alias("url")
    ).withColumn("url_hash", sha1_hex("url"))
    seen = cand.filter(F.col("url_hash").substr(40, 1).isin(*"0123456789")).select(
        "url_hash"
    )
    sidecar = build_cuckoo_sidecar(seen, num_buckets, capacity)
    if capacity == 8:
        merged = merge_cuckoo_rows(sidecar.collect())
        assert any(e["saturated"] for e in merged.values())
    got = anti_join_seen_cuckoo(cand, seen, sidecar, num_buckets)
    want = cand.join(seen, "url_hash", "left_anti")
    assert sorted(r["url"] for r in got.collect()) == sorted(
        r["url"] for r in want.collect()
    )
