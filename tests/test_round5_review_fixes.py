"""Round-5 continuation review fixes, each pinned:

  * resolve_href_standard lowercases the HOST of absolute/protocol-relative
    references (RFC 3986 §6.2.2.1) — case-variant hosts must land on ONE
    seen-set key (userinfo and path keep case)
  * exact_dedup no longer clobbers a caller's existing 'fp' column
    (collision-free internal names via operators/bucketed.internal_tag)
  * the trap_filter / demote_soft404 gates read incrementally-maintained
    rollups (trap_counts / soft404_counts + the trap pair sets), never a
    per-round aggregate over the whole accumulated log — the rollups must
    stay value-identical to the full-log aggregates they replaced
  * trustrank(eager_release=True) (the crawl loop's per-round invocation)
    unpersists every cache the power iteration created
  * a crawl with every opt-in gate on leaves no CacheManager entries behind
"""

from __future__ import annotations

import hashlib
from datetime import datetime

from pyspark.sql import functions as F

from cis455crawler_spark.plans.crawl import CrawlConfig, run_crawl

from .oracle import o_resolve_standard

TS = datetime(2013, 3, 1)


# -- RFC 3986 host-case normalization ----------------------------------------


def test_standard_resolver_lowercases_host(spark):
    from cis455crawler_spark.functions.urls import resolve_href_standard

    cases = [
        # (page, href, expected)
        ("http://h.test/p/", "http://Example.COM/A/./b", "http://example.com/A/b"),
        ("http://h.test/p/", "HTTP://EXAMPLE.com:8080/x", "http://example.com:8080/x"),
        # userinfo keeps case; only the host after the last '@' lowers
        ("http://h.test/", "http://User@Example.com/x", "http://User@example.com/x"),
        # protocol-relative inherits the page scheme, host still lowers
        ("https://h.test/", "//CDN.Example.COM/lib.js", "https://cdn.example.com/lib.js"),
        # path/query case is untouched
        ("http://h.test/", "http://A.B/Path?Q=V", "http://a.b/Path?Q=V"),
        # the PAGE host normalizes too: relative/root-relative/query-only
        # links from an uppercase-host page must land on the same seen-set
        # key as lowercase absolute inlinks (second-pass review finding)
        ("http://Seed.EXAMPLE/dir/p.html", "a.html", "http://seed.example/dir/a.html"),
        ("http://Seed.EXAMPLE/dir/", "/root.html", "http://seed.example/root.html"),
        ("http://Seed.EXAMPLE/dir/p", "?q=1", "http://seed.example/dir/p?q=1"),
    ]
    df = spark.createDataFrame(cases, "url string, href string, want string")
    got = df.select(
        "url",
        "href",
        "want",
        resolve_href_standard("url", "href").alias("got"),
    ).collect()
    for r in got:
        assert r.got == r.want, (r.url, r.href, r.got, r.want)
        # the python oracle mirror must agree (hypothesis differential
        # coverage rides on this staying in lock-step)
        assert o_resolve_standard(r.url, r.href) == r.want


# -- exact_dedup fp-column preservation --------------------------------------


def test_exact_dedup_preserves_caller_fp_column(spark):
    from cis455crawler_spark.operators.dedup_fuzzy import exact_dedup

    rows = [
        (1, "same text", "mine-1"),
        (2, "same text", "mine-2"),  # dup of 1 -> dropped (min id wins)
        (3, "other text", "mine-3"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, fp string")
    out = exact_dedup(df).orderBy("doc_id").collect()
    assert [r.doc_id for r in out] == [1, 3]
    # the caller's fp column came back verbatim, not fingerprint64 hashes
    assert [r.fp for r in out] == ["mine-1", "mine-3"]
    assert out[0].__fields__ == ["doc_id", "text", "fp"]


# -- trap / soft404 rollups == full-log aggregates ---------------------------


def _routes_ok(url: str) -> bool:
    h = hashlib.md5(url.encode()).hexdigest()
    return h[0] not in "01" and h[1] not in "012"


def _pick_name(host: str, prefix: str) -> str:
    for n in range(1000):
        name = f"{prefix}{n:03d}.html"
        if _routes_ok(f"http://{host}/{name}"):
            return name
    raise AssertionError("no routable name")


def test_trap_soft404_rollups_match_log_aggregates(spark, tmp_path):
    """Multi-round crawl with BOTH evidence knobs on: after the final
    commit, the incrementally-merged rollups must equal the aggregates over
    the full evidence logs they replaced (the exactness contract of the
    r5 incremental-gate rewrite)."""
    from cis455crawler_spark.operators.traps import path_depth

    trap_h, bad_h = "rtrap.test", "rbad.test"
    us = [f"http://{trap_h}/" + _pick_name(trap_h, f"u{i}") for i in range(6)]
    seed_t = f"http://{trap_h}/" + _pick_name(trap_h, "a")
    seed_b = f"http://{bad_h}/" + _pick_name(bad_h, "a")
    bs = [f"http://{bad_h}/" + _pick_name(bad_h, f"b{i}") for i in range(5)]

    def page(url, hrefs, title="A Page", body="ordinary content of a page"):
        links = "".join(f'<a href="{h}">x</a>' for h in hrefs)
        html = f"<html><head><title>{title}</title></head><body>{body}{links}</body></html>"
        return (url, TS, bytearray(html.encode()), "", "en")

    def robots(host, extra=""):
        return (
            f"http://{host}/robots.txt",
            TS,
            bytearray(f"User-agent: *\nDisallow: /private\n{extra}".encode()),
            "",
            "en",
        )

    rows = [robots(trap_h, "Crawl-delay: 30\n"), robots(bad_h)]
    rows.append(page(seed_t, [u.rsplit("/", 1)[1] for u in us]))
    shell = page(us[0], [], body="the one true shell")
    for u in us:
        rows.append((u, TS, shell[2], "", "en"))  # byte-identical bodies
    rows.append(page(seed_b, [b.rsplit("/", 1)[1] for b in bs], title="Welcome"))
    for i, b in enumerate(bs):
        rows.append(page(b, [], title="404 Not Found", body=f"shell {i}"))
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    cfg = CrawlConfig(
        max_rounds=10,
        trap_filter=True,
        trap_ratio_threshold=3.0,
        demote_soft404=True,
    )
    store, metrics = run_crawl(
        spark, pages, [seed_t, seed_b], str(tmp_path / "r"), cfg
    )
    assert len(metrics) > 2  # multiple merge rounds actually happened

    from cis455crawler_spark.functions.urls import host_of

    tlog = store.read("trap_log")
    want_counts = {
        r.host: (r.n_urls, r.n_content, r.max_depth)
        for r in tlog.groupBy(host_of(F.col("url")).alias("host"))
        .agg(
            F.countDistinct("url").alias("n_urls"),
            F.countDistinct("digest").alias("n_content"),
            F.max(path_depth(F.col("url"))).cast("long").alias("max_depth"),
        )
        .collect()
    }
    got_counts = {
        r.host: (r.n_urls, r.n_content, r.max_depth)
        for r in store.read("trap_counts").collect()
    }
    assert got_counts == want_counts

    want_u = {
        (r.host, r.url)
        for r in tlog.select(host_of(F.col("url")).alias("host"), "url")
        .distinct()
        .collect()
    }
    got_u = {(r.host, r.url) for r in store.read("trap_url_pairs").collect()}
    assert got_u == want_u
    want_d = {
        (r.host, r.digest)
        for r in tlog.filter(F.col("digest").isNotNull())
        .select(host_of(F.col("url")).alias("host"), "digest")
        .distinct()
        .collect()
    }
    got_d = {(r.host, r.digest) for r in store.read("trap_digest_pairs").collect()}
    assert got_d == want_d

    slog = store.read("soft404_log")
    want_s = {
        r.host: (r.n, r.s)
        for r in slog.groupBy("host")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("soft404").cast("long").alias("s"))
        .collect()
    }
    got_s = {r.host: (r.n, r.s) for r in store.read("soft404_counts").collect()}
    assert got_s == want_s


# -- trustrank eager_release cache discipline --------------------------------


def test_trustrank_eager_release_frees_caches(spark):
    from cis455crawler_spark.operators.pagerank import trustrank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], "src string, dst string"
    )
    trusted = spark.createDataFrame([("a",)], "node string")

    jsc = spark.sparkContext._jsc.sc()
    base = jsc.getPersistentRDDs().size()
    plain = {
        r.node: r.rank
        for r in trustrank(edges, trusted, iterations=2).collect()
    }
    # the default path pins its caches (standalone callers may reuse them
    # within one query); clear them so the release path starts clean
    spark.catalog.clearCache()

    released = {
        r.node: r.rank
        for r in trustrank(
            edges, trusted, iterations=2, eager_release=True
        ).collect()
    }
    assert released == plain  # release changes lifecycle, never values
    after = jsc.getPersistentRDDs().size()
    # at most the final localCheckpoint RDD remains — the three power-
    # iteration caches (edges/outdeg/nodes) must all be gone
    assert after - base <= 1, (base, after)


# -- every opt-in gate on: per-round caches are freed -------------------------


def test_all_gates_crawl_frees_round_caches(spark, tmp_path):
    """A crawl with every opt-in gate on, then a resume of it: after each
    run_crawl call the JVM CacheManager holds no entries — per-round caches
    are released, so they cannot accumulate with rounds."""
    from cis455crawler_spark.sources.corpus import (
        CorpusSpec,
        generate_pages_pdf,
        seed_urls,
    )

    spec = CorpusSpec(hosts=4, pages_per_host=15, seed=7, hot_factor=3)
    pages = spark.createDataFrame(
        generate_pages_pdf(spec),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    state = str(tmp_path / "g")

    def cfg(rounds: int) -> CrawlConfig:
        return CrawlConfig(
            max_rounds=rounds,
            compact_every=2,
            trap_filter=True,
            max_urls_per_host=12,
            demote_soft404=True,
            content_dedup=True,
            follow_redirects=True,
            priority="trust",
            resolve_mode="standard",
        )

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()  # entries other tests left behind
    store, m1 = run_crawl(spark, pages, seed_urls(spec), state, cfg(3))
    assert len(m1) == 3 and m1[-1]["frontier_next"] > 0
    assert cache_manager.isEmpty()
    # the committed contract the gates must keep: exactly these tables and,
    # every round, exactly these metric keys
    manifest = store.manifest()
    assert set(manifest["tables"]) == {
        "frontier", "seed_hosts", "seen", "parsed", "metrics", "lineage",
        "host_counts", "trap_log", "trap_url_pairs",
        "trap_digest_pairs", "trap_counts", "soft404_log", "soft404_counts",
        "content_seen", "host_edges",
    }
    keys = {
        "round", "urls_in", "deduped", "robots_denied", "politeness_deferred",
        "scheduled", "fetch_hits", "fetch_misses", "parsed_pages", "redirects",
        "not_modified", "mime_rejected", "size_rejected", "frontier_next",
        "trap_dropped", "quota_dropped", "soft404_hosts", "content_dup",
        "host_counts_delta",
    }
    rounds = [h for h in manifest["history"] if "scheduled" in h]
    assert len(rounds) == 3 and all(set(h) == keys for h in rounds)
    assert set(store.read("metrics").columns) == keys

    store, m2 = run_crawl(spark, pages, seed_urls(spec), state, cfg(5), resume=True)
    assert len(m2) > len(m1)
    assert cache_manager.isEmpty()
    # the trust ledger's appends are anti-joined, so it stays a set
    led = store.read("host_edges")
    assert led.count() == led.distinct().count() > 0
