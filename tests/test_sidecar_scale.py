"""Seen-set scale guarantees: the cuckoo sidecar's vectorized probe
(the partition-local numpy path the seen_anti_join_cuckoo entry runs) is
bit-identical to its scalar reference form, and a crawl resumed under a
different num_buckets ends with the same seen set as one that never
changed bucketing."""

import hashlib

import numpy as np
import pandas as pd

from cis455crawler_spark.operators.cuckoo import (
    _contains_vec,
    _fp_i1,
    _fp_i1_vec,
    SLOTS,
)

from .reference import cuckoo_contains


def _shas(tag: str, n: int) -> list[str]:
    return [hashlib.sha1(f"{tag}{i}".encode()).hexdigest() for i in range(n)]


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


def test_num_buckets_change_keeps_seen_set(spark, tmp_path):
    """Changing num_buckets on resume re-maps every bucket id, so the seen
    table then holds bucket dirs of two layouts. Dedup keys on url_hash
    alone, so the final seen set must equal that of a crawl that never
    changed bucketing."""
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
        CrawlConfig(max_rounds=3, num_buckets=4, compact_every=0),
        CrawlConfig(max_rounds=8, num_buckets=8, compact_every=0),
    )
    stable = crawl(
        str(tmp_path / "s_stable"),
        CrawlConfig(max_rounds=8, num_buckets=8, compact_every=0),
    )
    assert changed == stable
