"""Workload definitions, seeded input generation and the oracle gate.

Inputs (the pages corpus as parquet) and the Python oracle's expected
result are built before any Spark session starts and cached on disk per
(workload, seed, corpus.GENERATOR_VERSION), so neither ever sits inside a
timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass

from cis455crawler_spark.plans.crawl import CrawlConfig
from cis455crawler_spark.sources import corpus

# oracle metric keys compared round by round against run_crawl's metrics
ROUND_KEYS = (
    "urls_in", "robots_denied", "politeness_deferred", "scheduled",
    "fetch_hits", "parsed_pages", "redirects", "not_modified",
    "mime_rejected", "size_rejected",
)
# preloaded seen keys live under this path segment, which the corpus
# generator never emits (its paths are /pN.html, /dirN/, /docN, /robots.txt
# and hrefs resolved against them)
PRELOAD_SEGMENT = "crawlbench-preload"
PRELOAD_FORMAT = "http://%s/" + PRELOAD_SEGMENT + "/k%d.html"  # (host, key number)
# run seed s crawls corpus seed s % CORPORA: a campaign of many runs then
# generates each workload's inputs at most CORPORA times and serves the
# rest from the cache, which keeps input generation out of most runs' wall
CORPORA = 5
# every workload crawls two rounds and compacts the seen table after each,
# so maintenance is on the timed path (the harness times the second round)
ROUNDS = 2
COMPACT_EVERY = 1


@dataclass(frozen=True)
class Workload:
    name: str
    hosts: int
    pages_per_host: int
    hot_factor: int = 1
    round_duration_s: int = 60
    preload_factor: int = 0  # seen preload = factor x largest round's candidates

    def spec(self, seed: int) -> corpus.CorpusSpec:
        return corpus.CorpusSpec(
            hosts=self.hosts,
            pages_per_host=self.pages_per_host,
            hot_factor=self.hot_factor,
            seed=seed % CORPORA,
        )

    def seeds(self, seed: int) -> list[str]:
        # every host seeded, as in bench.py's headline crawl
        return corpus.seed_urls(self.spec(seed), n_seeds=self.hosts)

    def config(self, rounds: int | None = None) -> CrawlConfig:
        return CrawlConfig(
            max_rounds=rounds or ROUNDS,
            round_duration_s=self.round_duration_s,
            compact_every=COMPACT_EVERY,
        )


WORKLOADS = {
    w.name: w
    for w in (
        # the headline's shape scaled to this box: every host seeded, host-0
        # ten times larger, rounds of ~4k then ~6.5k URLs; floor, hot-host
        # pop and link resolution show while parse stays cheap
        Workload(
            name="bfs_gen1",
            hosts=4000,
            pages_per_host=15,
            hot_factor=10,
        ),
        # a resumed crawl over a seen set 100x any round's batch, and a tight
        # politeness budget that defers URLs every round. At this size
        # (~265k keys) the round floor and link resolution still outweigh
        # the seen anti-join
        Workload(
            name="deep_seen_polite",
            hosts=1500,
            pages_per_host=20,
            round_duration_s=10,  # resumed crawl: rounds 2 and 3
            preload_factor=100,
        ),
    )
}


# -- inputs ---------------------------------------------------------------

def seen_digest(url_hashes) -> str:
    return hashlib.sha256("\n".join(sorted(url_hashes)).encode()).hexdigest()


def _summarize(res) -> dict:
    rounds = []
    for m in res.metrics:
        fresh = m["robots_denied"] + m["politeness_deferred"] + m["scheduled"]
        rounds.append({**{k: m[k] for k in ROUND_KEYS}, "deduped": m["urls_in"] - fresh})
    return {"rounds": rounds, "seen_sha256": seen_digest(res.seen)}


def preload_count(w: Workload, expected: dict) -> int:
    if not w.preload_factor:
        return 0
    largest = max(r["urls_in"] for r in expected["gen1"]["rounds"])
    return w.preload_factor * largest


def preload_url(host: str, k: int) -> str:
    return PRELOAD_FORMAT % (host, k)


@dataclass(frozen=True)
class Inputs:
    pages: str  # corpus parquet
    expected: dict  # the oracle's answer
    preload_store: str  # cached preloaded state dir, built once (harness)


def prepare_inputs(w: Workload, seed: int, cache_dir: str, root: str) -> Inputs:
    """Corpus and oracle answer for one workload and seed, generated once
    and then served from the cache."""
    # the workload's shape is part of the key: resizing a workload must
    # never reuse another shape's corpus or oracle answer
    shape = hashlib.sha1(repr((w, ROUNDS, PRELOAD_SEGMENT)).encode()).hexdigest()[:10]
    tag = f"{w.name}_s{seed % CORPORA}_g{corpus.GENERATOR_VERSION}_{shape}"
    pq_path = os.path.join(cache_dir, tag + ".parquet")
    exp_path = os.path.join(cache_dir, tag + ".oracle.json")
    preload_store = os.path.join(cache_dir, tag + ".preload")
    if os.path.exists(pq_path) and os.path.exists(exp_path):
        with open(exp_path) as f:
            return Inputs(pq_path, json.load(f), preload_store)

    import importlib
    import sys

    import pyarrow.parquet as pq

    if root not in sys.path:
        sys.path.insert(0, root)
    oracle = importlib.import_module("tests.oracle")

    os.makedirs(cache_dir, exist_ok=True)
    spec = w.spec(seed)
    tmp = pq_path + ".tmp"
    corpus.write_pages_parquet(spec, tmp)
    os.replace(tmp, pq_path)
    table = pq.read_table(pq_path, columns=["url", "html"])
    pages = dict(zip(table.column("url").to_pylist(), table.column("html").to_pylist()))
    cfg = w.config()
    kw = dict(
        max_rounds=cfg.max_rounds,
        max_pages=cfg.max_pages,
        round_duration_s=cfg.round_duration_s,
        max_content_bytes=cfg.max_content_bytes,
    )
    res1 = oracle.oracle_crawl(pages, w.seeds(seed), **kw)
    expected = {"gen1": _summarize(res1)}
    if w.preload_factor:
        n = preload_count(w, expected)
        hosts = [corpus.host_name(i) for i in range(w.hosts)]
        clash = sum(
            1
            for k in range(n)
            if oracle.o_sha1(preload_url(hosts[k % len(hosts)], k)) in res1.seen
        )
        if clash:
            raise ValueError(f"{clash} preload keys collide with the crawl's seen set")
        expected["preload"] = n
    tmp = exp_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(expected, f)
    os.replace(tmp, exp_path)
    return Inputs(pq_path, expected, preload_store)


# -- the gate -------------------------------------------------------------

def check_generation(metrics: list[dict], want: dict, seen_hashes) -> list[str]:
    """Compare one run_crawl generation with the oracle, round by round in
    order. Returns "crawl round k: ..." lines; a wrong final seen set fails
    every round. seen_hashes=None skips the seen-set check."""
    bad: list[str] = []
    want_rounds = want["rounds"]
    for k in range(max(len(metrics), len(want_rounds))):
        if k >= len(metrics) or k >= len(want_rounds):
            bad.append(
                f"crawl round {k + 1}: engine ran {len(metrics)} rounds, "
                f"oracle {len(want_rounds)}"
            )
            continue
        got, exp = metrics[k], want_rounds[k]
        diff = [f"{c} {got[c]} != {exp[c]}" for c in (*ROUND_KEYS, "deduped") if got[c] != exp[c]]
        if diff:
            bad.append(f"crawl round {k + 1}: " + ", ".join(diff))
    if seen_hashes is not None and seen_digest(seen_hashes) != want["seen_sha256"]:
        bad.extend(
            f"crawl round {k + 1}: final seen set differs from the oracle's"
            for k in range(len(metrics))
        )
    return bad
