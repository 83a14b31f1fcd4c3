"""Scale-design guarantees of the bloom/cuckoo seen-set sidecars
(VERDICT r3 #1/#2/#8): the probe path is partition-local and vectorized
(no full-sidecar collect or broadcast, no per-row Python), the vectorized
kernels are bit-identical to their scalar reference forms, the sizing
holds its FP target at a scale-representative per-bucket load, and a
num_buckets change heals instead of answering false-negative."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cis455crawler_spark.functions.urls import sha1_hex
from cis455crawler_spark.operators.dedup import (
    _bloom_probe_vec,
    bloom_bits_for,
    build_bloom_sidecar,
    or_merge_sidecar,
    split_by_bloom,
)
from cis455crawler_spark.operators.cuckoo import (
    _contains_vec,
    _fp_i1,
    _fp_i1_vec,
    SLOTS,
)

from .reference import cuckoo_contains, probe_positions


def _shas(tag: str, n: int) -> list[str]:
    return [hashlib.sha1(f"{tag}{i}".encode()).hexdigest() for i in range(n)]


def test_bloom_vectorized_probe_matches_scalar():
    """_bloom_probe_vec (the partition-local numpy path) must agree with the
    scalar probe_positions form (tests/reference.py) on every key —
    members AND non-members."""
    n_bits = bloom_bits_for(5_000)
    keys = _shas("k", 5_000)
    bits = np.zeros(n_bits, dtype=bool)
    for h in keys:
        for p in probe_positions(h, n_bits):
            bits[p] = True
    packed = np.packbits(bits)

    probes = keys[:1_000] + _shas("x", 5_000)
    want = np.array(
        [all(bits[p] for p in probe_positions(h, n_bits)) for h in probes]
    )
    got = _bloom_probe_vec(packed, pd.Series(probes), n_bits)
    assert (got == want).all()
    assert got[:1_000].all()  # no false negatives by construction


def test_cuckoo_vectorized_probe_matches_scalar():
    import random

    from cis455crawler_spark.operators.cuckoo import _insert, cuckoo_buckets_for

    keys = _shas("k", 8_000)
    n_ck = cuckoo_buckets_for(len(keys))
    mask = n_ck - 1
    table = np.zeros((n_ck, SLOTS), dtype=np.uint16)
    rng = random.Random(0)
    for h in keys:
        assert _insert(table, *(_fp_i1(h, mask)), mask, rng)

    probes = keys[:1_000] + _shas("x", 5_000)
    fp, i1 = _fp_i1_vec(pd.Series(probes), mask)
    for j, h in enumerate(probes[:50]):  # spot-check the hash decomposition
        sf, si = _fp_i1(h, mask)
        assert (int(fp[j]), int(i1[j])) == (sf, si)
    got = _contains_vec(table, fp, i1, mask)
    want = np.array([cuckoo_contains(table, *(_fp_i1(h, mask)), mask) for h in probes])
    assert (got == want).all()
    assert got[:1_000].all()


def test_sized_sidecar_holds_fp_at_bucket_scale(spark):
    """North-rule sizing end-to-end through the REAL distributed build+probe:
    1M keys over 8 buckets (125k keys/bucket — the regime where num_buckets
    at 10^10 URLs is sized to land), bitmap derived from expected totals,
    measured maybe-rate on disjoint probes stays near the 1% design FP.
    Also pins the per-bucket bitmap to a few MB — the unit a probe task
    loads, independent of total corpus size."""
    n_keys, num_buckets = 1_000_000, 8
    n_bits = bloom_bits_for(n_keys // num_buckets, target_fp=0.01)
    assert n_bits * num_buckets // 8 < 32 << 20  # whole sidecar a few MB/bucket

    seen = spark.range(n_keys).select(
        sha1_hex(F.concat(F.lit("seen"), F.col("id").cast("string"))).alias("url_hash")
    )
    sidecar = build_bloom_sidecar(seen, num_buckets, n_bits).cache()
    assert sidecar.count() == num_buckets

    cand = spark.range(100_000).select(
        sha1_hex(F.concat(F.lit("new"), F.col("id").cast("string"))).alias("url_hash")
    )
    new, maybe = split_by_bloom(cand, sidecar, num_buckets)
    n_maybe = maybe.count()
    assert n_maybe / 100_000 < 0.02, n_maybe  # 2x headroom on the 1% target
    # and zero false negatives on actual members
    members = seen.limit(20_000)
    new_m, maybe_m = split_by_bloom(members, sidecar, num_buckets)
    assert new_m.count() == 0
    sidecar.unpersist()


def test_or_merge_preserves_membership(spark):
    """Compaction (or_merge_sidecar) ORs delta rows per bucket without the
    driver: membership after merge == union of the deltas' keys."""
    a = spark.createDataFrame([(h,) for h in _shas("a", 400)], "url_hash string")
    b = spark.createDataFrame([(h,) for h in _shas("b", 400)], "url_hash string")
    nb, n_bits = 4, bloom_bits_for(500)
    deltas = build_bloom_sidecar(a, nb, n_bits).unionByName(
        build_bloom_sidecar(b, nb, n_bits)
    )
    merged = or_merge_sidecar(deltas).cache()
    assert merged.count() == nb  # one row per bucket
    both = a.unionByName(b)
    new, maybe = split_by_bloom(both, merged, nb)
    assert new.count() == 0  # every inserted key still probes positive
    merged.unpersist()


def test_bloom_round_never_materializes_sidecar(spark, tmp_path, monkeypatch):
    """The VERDICT r3 #1 regression guard: a bloom-enabled crawl — including
    a HEAL round (bloom_bucket_bits change) and in-loop compaction — must
    never collect() or toPandas() any DataFrame carrying a bitmap column,
    and never ship numpy bitmaps through a SparkContext broadcast. The
    1-row stats/size aggregates are exempt by construction (no bitmap
    column in their schemas)."""
    from pyspark import SparkContext
    from pyspark.sql import DataFrame

    from cis455crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from cis455crawler_spark.sources.corpus import (
        CorpusSpec,
        pages_spark_df,
        seed_urls,
    )

    orig_collect = DataFrame.collect
    orig_topandas = DataFrame.toPandas
    orig_bcast = SparkContext.broadcast

    def g_collect(self, *a, **k):
        assert "bitmap" not in self.columns, "sidecar bitmap collected to driver"
        return orig_collect(self, *a, **k)

    def g_topandas(self, *a, **k):
        assert "bitmap" not in self.columns, "sidecar bitmap toPandas'd to driver"
        return orig_topandas(self, *a, **k)

    def g_bcast(self, value):
        leaked = isinstance(value, dict) and any(
            isinstance(v, (tuple, dict, np.ndarray)) for v in value.values()
        )
        assert not leaked, "sidecar-shaped payload broadcast from driver"
        return orig_bcast(self, value)

    monkeypatch.setattr(DataFrame, "collect", g_collect)
    monkeypatch.setattr(DataFrame, "toPandas", g_topandas)
    monkeypatch.setattr(SparkContext, "broadcast", g_bcast)

    spec = CorpusSpec(hosts=6, pages_per_host=12)
    pages = pages_spark_df(spark, spec)
    state = str(tmp_path / "state_guard")
    store, m1 = run_crawl(
        spark, pages, seed_urls(spec), state,
        CrawlConfig(max_rounds=3, use_bloom=True, num_buckets=4,
                    bloom_bucket_bits=1 << 14, compact_every=2),
    )
    # resume with different sizing -> heal round, still under the guards
    store, m2 = run_crawl(
        spark, pages, seed_urls(spec), state,
        CrawlConfig(max_rounds=5, use_bloom=True, num_buckets=4,
                    bloom_bucket_bits=1 << 15, compact_every=0),
        resume=True,
    )
    assert sum(m["scheduled"] for m in m1) > 0


def test_bloom_heals_on_num_buckets_change(spark, tmp_path):
    """Changing num_buckets re-maps candidate bucket ids; probing the OLD
    sidecar would answer definitely-new for re-mapped buckets (a false
    negative that re-crawls seen URLs). The crawl must detect the recorded
    num_buckets mismatch and heal — final seen set identical to a crawl
    that never changed bucketing."""
    from cis455crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from cis455crawler_spark.sources.corpus import (
        CorpusSpec,
        pages_spark_df,
        seed_urls,
    )

    spec = CorpusSpec(hosts=6, pages_per_host=12)
    pages = pages_spark_df(spark, spec)

    def crawl(state, *cfgs):
        store = None
        for i, cfg in enumerate(cfgs):
            store, _ = run_crawl(
                spark, pages, seed_urls(spec), state, cfg, resume=(i > 0)
            )
        return {r["url_hash"] for r in store.read("seen").select("url_hash").collect()}

    changed = crawl(
        str(tmp_path / "s_changed"),
        CrawlConfig(max_rounds=3, use_bloom=True, num_buckets=4, compact_every=0),
        CrawlConfig(max_rounds=8, use_bloom=True, num_buckets=8, compact_every=0),
    )
    stable = crawl(
        str(tmp_path / "s_stable"),
        CrawlConfig(max_rounds=8, use_bloom=True, num_buckets=8, compact_every=0),
    )
    assert changed == stable
