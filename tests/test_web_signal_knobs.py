"""Round-5 crawl knobs (VERDICT r4 punch #4): the web-signal operators now
DRIVE the crawl loop, opt-in and default-off for reference parity.

  * trap_filter     — Mercator trap containment: flagged hosts (infinite-URL/
                      finite-content ratio, or absurd path depth, over the
                      trap_log evidence table) stop admitting candidates
  * demote_soft404  — hosts serving mostly error shells clamp to 1 url/round
  * resolve_mode    — "standard" RFC-style href resolution (absolute links
                      survive, the web graph stays connected)

trap/soft404/resolve verify against the knob-aware Python oracle
(tests/oracle.py); priority="trust" has its own designed-corpus test in
tests/test_priority_crawl.py."""

from __future__ import annotations

import hashlib
from datetime import datetime

import pytest

from cis455crawler_spark.plans.crawl import CrawlConfig, parsed_latest, run_crawl

from .oracle import o_resolve_standard, o_sha1, oracle_crawl

TS = datetime(2013, 3, 1)


def _routes_ok(url: str) -> bool:
    h = hashlib.md5(url.encode()).hexdigest()
    return h[0] not in "01" and h[1] not in "012"


def _pick_name(host: str, prefix: str, suffix: str = ".html") -> str:
    for n in range(1000):
        name = f"{prefix}{n:03d}{suffix}"
        if _routes_ok(f"http://{host}/{name}"):
            return name
    raise AssertionError("no routable name found")


def _page(url: str, hrefs: list[str], title: str = "A Page", body: str = "") -> tuple:
    links = "".join(f'<a href="{h}">x</a>' for h in hrefs)
    body = body or "perfectly ordinary page content long enough to not look tiny at all"
    html = f"<html><head><title>{title}</title></head><body>{body}{links}</body></html>"
    return (url, TS, bytearray(html.encode()), "", "en")


def _robots(host: str, extra: str = "") -> tuple:
    # the quirk predicate denies a record with no Disallow entries
    body = f"User-agent: *\nDisallow: /private\n{extra}"
    return (f"http://{host}/robots.txt", TS, bytearray(body.encode()), "", "en")


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )


def _seen(store):
    return {r.url_hash for r in store.read("seen").select("url_hash").collect()}


def _sched_rounds(metrics):
    return [m["scheduled"] for m in metrics]


def test_trap_filter_depth_signal_matches_oracle(spark, tmp_path):
    """htrap serves an ever-deepening directory chain; once a parsed url
    reaches depth >= threshold the host flags and the chain stops. hgood's
    chain is untouched. Exact oracle equality on seen + per-round schedule."""
    trap_h, good_h = "htrap.test", "hgood.test"
    # directory chain: each page url ends '/' so the quirk resolver appends
    segs = []
    base = f"http://{trap_h}/"
    while len(segs) < 8:
        for n in range(1000):
            cand = base + f"d{n:02d}/"
            if _routes_ok(cand):
                segs.append(cand)
                base = cand
                break
    g = [f"http://{good_h}/" + _pick_name(good_h, f"g{i}") for i in range(4)]
    t_seed = f"http://{trap_h}/" + _pick_name(trap_h, "s")

    rows = [_robots(trap_h), _robots(good_h)]
    # seed page links the first directory level (root-relative would drop in
    # quirk mode; page ends .html -> proto+host+'/'+href)
    rows.append(_page(t_seed, [segs[0].split("/", 3)[3]]))
    for i, u in enumerate(segs):
        nxt = segs[i + 1][len(u):] if i + 1 < len(segs) else None
        rows.append(_page(u, [nxt] if nxt else [], body=f"level {i} content"))
    for i, u in enumerate(g):
        nxt = g[i + 1].rsplit("/", 1)[1] if i + 1 < len(g) else None
        rows.append(_page(u, [nxt] if nxt else [], body=f"good {i}"))

    pages = _df(spark, rows)
    page_map = {u: bytes(h) for u, _, h, _, _ in rows}
    seeds = [t_seed, g[0]]
    cfg = CrawlConfig(max_rounds=12, trap_filter=True, trap_depth_threshold=4)
    store, metrics = run_crawl(spark, pages, seeds, str(tmp_path / "t"), cfg)
    want = oracle_crawl(
        page_map, seeds, max_rounds=12, trap_filter=True, trap_depth_threshold=4
    )
    assert _seen(store) == want.seen
    assert _sched_rounds(metrics) == [m["scheduled"] for m in want.metrics]
    assert sum(m.get("trap_dropped", 0) for m in metrics) > 0
    parsed_urls = {r.url for r in parsed_latest(store).select("url").collect()}
    # the chain stopped past the threshold; the good chain completed
    assert segs[-1] not in parsed_urls
    assert g[-1] in parsed_urls
    # default-off: the unfiltered crawl walks the whole chain
    plain = oracle_crawl(page_map, seeds, max_rounds=12)
    assert o_sha1(segs[-1]) in plain.seen


def test_trap_filter_ratio_signal_matches_oracle(spark, tmp_path):
    """htrap hides one byte-identical shell behind many URLs: the
    urls-per-content ratio flags the host and its pending discoveries are
    dropped, never marked seen."""
    h = "htrap2.test"
    us = [f"http://{h}/" + _pick_name(h, f"u{i}") for i in range(6)]
    vs = [f"http://{h}/" + _pick_name(h, f"v{i}") for i in range(2)]
    seed = f"http://{h}/" + _pick_name(h, "a")
    shell_hrefs = [v.rsplit("/", 1)[1] for v in vs]
    rows = [_robots(h, "Crawl-delay: 30\n")]  # budget 2/round
    rows.append(_page(seed, [u.rsplit("/", 1)[1] for u in us]))
    shell = _page(us[0], shell_hrefs, body="the one true shell")
    for u in us:
        rows.append((u, TS, shell[2], "", "en"))  # byte-identical bodies
    for v in vs:
        rows.append(_page(v, [], body="victim page"))
    pages = _df(spark, rows)
    page_map = {u: bytes(b) for u, _, b, _, _ in rows}
    cfg = CrawlConfig(max_rounds=12, trap_filter=True, trap_ratio_threshold=3.0)
    store, metrics = run_crawl(spark, pages, [seed], str(tmp_path / "r"), cfg)
    want = oracle_crawl(
        page_map, [seed], max_rounds=12, trap_filter=True, trap_ratio_threshold=3.0
    )
    assert _seen(store) == want.seen
    assert _sched_rounds(metrics) == [m["scheduled"] for m in want.metrics]
    assert sum(m.get("trap_dropped", 0) for m in metrics) > 0
    # the victims behind the shells were never admitted
    for v in vs:
        assert o_sha1(v) not in _seen(store)


def test_trap_filter_with_content_dedup_matches_oracle(spark, tmp_path):
    """trap_filter + content_dedup together: duplicate-body rows become
    'content_dup' BEFORE the evidence append, so the trap log must include
    them — logging only the per-digest claim winners would pin the host's
    urls-per-content ratio at ~1 and the ratio trigger could never fire
    (the r5 review interaction bug). Same corpus as the ratio test; the
    host must still get flagged and the victims never admitted."""
    h = "htrap3.test"
    us = [f"http://{h}/" + _pick_name(h, f"cu{i}") for i in range(6)]
    vs = [f"http://{h}/" + _pick_name(h, f"cv{i}") for i in range(2)]
    seed = f"http://{h}/" + _pick_name(h, "ca")
    shell_hrefs = [v.rsplit("/", 1)[1] for v in vs]
    rows = [_robots(h, "Crawl-delay: 30\n")]  # budget 2/round
    rows.append(_page(seed, [u.rsplit("/", 1)[1] for u in us]))
    shell = _page(us[0], shell_hrefs, body="the one true shell")
    for u in us:
        rows.append((u, TS, shell[2], "", "en"))  # byte-identical bodies
    for v in vs:
        rows.append(_page(v, [], body="victim page"))
    pages = _df(spark, rows)
    page_map = {u: bytes(b) for u, _, b, _, _ in rows}
    cfg = CrawlConfig(
        max_rounds=12,
        trap_filter=True,
        trap_ratio_threshold=3.0,
        content_dedup=True,
    )
    store, metrics = run_crawl(spark, pages, [seed], str(tmp_path / "tc"), cfg)
    want = oracle_crawl(
        page_map,
        [seed],
        max_rounds=12,
        trap_filter=True,
        trap_ratio_threshold=3.0,
        content_dedup=True,
    )
    assert _seen(store) == want.seen
    assert _sched_rounds(metrics) == [m["scheduled"] for m in want.metrics]
    # the ratio trigger fired even though all but one shell was content_dup
    assert sum(m.get("trap_dropped", 0) for m in metrics) > 0
    for v in vs:
        assert o_sha1(v) not in _seen(store)


def test_demote_soft404_matches_oracle(spark, tmp_path):
    """hbad's pages are error shells (decisive '404 Not Found' titles): after
    min_pages observations at >= rate the host's politeness budget clamps to
    1 url/round — demoted, not banned."""
    h = "hbad.test"
    seed = f"http://{h}/" + _pick_name(h, "a")
    bs = [f"http://{h}/" + _pick_name(h, f"b{i}") for i in range(6)]
    cs = [f"http://{h}/" + _pick_name(h, f"c{i}") for i in range(4)]
    rows = [_robots(h)]
    rows.append(_page(seed, [b.rsplit("/", 1)[1] for b in bs], title="Welcome"))
    for i, b in enumerate(bs):
        # every shell links the same next-wave pages; distinct bodies
        rows.append(
            _page(
                b,
                [c.rsplit("/", 1)[1] for c in cs],
                title="404 Not Found",
                body=f"shell {i}",
            )
        )
    for i, c in enumerate(cs):
        rows.append(_page(c, [], title="404 Not Found", body=f"late shell {i}"))
    pages = _df(spark, rows)
    page_map = {u: bytes(b) for u, _, b, _, _ in rows}
    shells = set(bs) | set(cs)
    cfg = CrawlConfig(max_rounds=12, demote_soft404=True)
    store, metrics = run_crawl(spark, pages, [seed], str(tmp_path / "s"), cfg)
    want = oracle_crawl(
        page_map,
        [seed],
        max_rounds=12,
        soft404_urls=shells,
        soft404_min_pages=3,
        soft404_rate_threshold=0.5,
    )
    assert _seen(store) == want.seen
    assert _sched_rounds(metrics) == [m["scheduled"] for m in want.metrics]
    # demotion bites: the c-wave dribbles in at 1/round (4 rounds), while the
    # undemoted crawl takes them all in one round
    plain = oracle_crawl(page_map, [seed], max_rounds=12)
    assert len(want.metrics) > len(plain.metrics)
    assert max(m["scheduled"] for m in want.metrics[2:]) == 1
    # coverage unchanged — demoted, not banned
    assert want.seen == plain.seen


def test_resolve_standard_matches_oracle(spark, tmp_path):
    """resolve_mode='standard': absolute / protocol-relative / root-relative
    hrefs survive (the web graph stays connected), non-http schemes drop,
    dot segments collapse — vs the o_resolve_standard oracle mirror."""
    ha, hb, hc = "ha.test", "hb.test", "hc.test"
    seed = f"http://{ha}/" + _pick_name(ha, "a")
    b1 = f"http://{hb}/" + _pick_name(hb, "x")
    b2 = f"http://{hb}/" + _pick_name(hb, "z")  # linked as HTTP:// (RFC 3986 case-insensitive scheme)
    c1 = f"http://{hc}/" + _pick_name(hc, "y")
    r1 = f"http://{ha}/" + _pick_name(ha, "r")
    w1 = f"http://{ha}/" + _pick_name(ha, "w")  # linked wrapped in \n / \t whitespace
    # via dot-segment href; md5 routing must hold for the RESOLVED url
    deep = next(
        u
        for n in range(1000)
        if _routes_ok(u := f"http://{ha}/sub/d{n:03d}.html")
    )
    rows = [_robots(ha), _robots(hb), _robots(hc)]
    rows.append(
        _page(
            seed,
            [
                b1,  # absolute cross-host: kept in standard, dropped in quirk
                "HTTP://" + hb + "/" + b2.rsplit("/", 1)[1],  # uppercase scheme -> kept, lowercased
                "//" + hc + "/" + c1.rsplit("/", 1)[1],  # protocol-relative
                "/" + r1.rsplit("/", 1)[1],  # root-relative
                "\n\t/" + w1.rsplit("/", 1)[1] + " ",  # whitespace-wrapped root-relative
                "mailto:x@y.z",  # non-http scheme -> NULL
                "javascript:void(0)",  # -> NULL
                "sub/extra/../" + deep.rsplit("/", 1)[1],  # dot segments
            ],
        )
    )
    for u in (b1, b2, c1, r1, w1, deep):
        rows.append(_page(u, []))
    pages = _df(spark, rows)
    page_map = {u: bytes(b) for u, _, b, _, _ in rows}
    cfg = CrawlConfig(max_rounds=6, resolve_mode="standard")
    store, metrics = run_crawl(spark, pages, [seed], str(tmp_path / "std"), cfg)
    want = oracle_crawl(
        page_map, [seed], max_rounds=6, resolve_fn=o_resolve_standard
    )
    assert _seen(store) == want.seen
    assert _sched_rounds(metrics) == [m["scheduled"] for m in want.metrics]
    parsed_urls = {r.url for r in parsed_latest(store).select("url").collect()}
    # all resolution shapes hit, incl. uppercase-scheme and whitespace-wrapped
    assert {b1, b2, c1, r1, w1, deep} <= parsed_urls
    # quirk mode on the same corpus never leaves the seed page's own links
    plainq = oracle_crawl(page_map, [seed], max_rounds=6)
    assert o_sha1(b1) not in plainq.seen


def test_knob_validation():
    # every bad value fails at construction, before any Spark job runs
    for bad in (
        {"resolve_mode": "rfc"},
        {"robots_mode": "rfc"},
        {"num_buckets": 0},
        {"salt_buckets": 0},
    ):
        with pytest.raises(ValueError):
            CrawlConfig(**bad)
