"""RFC 9309 standards-mode robots vs an independently written Python oracle
(different group-walk and different wildcard-regex construction), over
hand-picked spec cases plus a seeded randomized differential batch."""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from cis455crawler_spark.functions.robots import build_robots_df
from cis455crawler_spark.functions.robots_standard import (
    allowed_standard,
    parse_robots_standard,
    url_path_of,
)


# -- independent oracle ------------------------------------------------------

def _o_match(rule: str, path: str) -> bool:
    end = rule.endswith("$")
    body = rule[:-1] if end else rule
    pat = ".*".join(re.escape(seg) for seg in body.split("*"))
    return re.match(pat + ("$" if end else ""), path) is not None


def o_allowed(body: str | None, path: str, agent: str = "cis455crawler") -> bool:
    if body is None:
        return True
    groups, agents, rules, collecting = [], None, None, False
    for raw in body.splitlines():
        line = raw.split("#")[0]
        if ":" not in line:
            continue
        k, v = line.split(":", 1)
        k, v = k.strip().lower(), v.strip()
        if k == "user-agent":
            if not collecting:
                agents, rules = set(), []
                groups.append((agents, rules))
            collecting = True
            agents.add(v.lower())
        else:
            collecting = False
            if k in ("allow", "disallow") and v and rules is not None:
                rules.append((k == "allow", v))
    mine = [r for a, r in groups if agent.lower() in a]
    if not mine:
        mine = [r for a, r in groups if "*" in a]
    verdict, best_len = True, -1
    for rules in mine:
        for is_allow, rule in rules:
            if _o_match(rule, path):
                if len(rule) > best_len or (len(rule) == best_len and is_allow):
                    verdict, best_len = is_allow, len(rule)
    return verdict


CASES = [
    # (robots body or None, path, expected oracle check happens anyway)
    ("User-agent: *\nDisallow: /private*\nAllow: /private/ok$\n", "/private/x"),
    ("User-agent: *\nDisallow: /private*\nAllow: /private/ok$\n", "/private/ok"),
    ("User-agent: *\nAllow: /p\nDisallow: /p\n", "/p"),  # tie -> allow
    ("User-agent: *\nDisallow:\n", "/anything"),  # empty rule: no-op
    ("User-agent: *\nDisallow: /*.pdf$\n", "/doc.pdf"),
    ("User-agent: *\nDisallow: /*.pdf$\n", "/doc.pdfz"),
    ("User-agent: *\nDisallow: /search?q=\n", "/search?q=1"),
    ("User-agent: cis455crawler\nAllow: /\nUser-agent: *\nDisallow: /\n", "/x"),
    ("User-agent: other\nUser-agent: cis455crawler\nDisallow: /a\n", "/a/b"),
    ("Disallow: /orphan\nUser-agent: *\nDisallow: /b\n", "/orphan"),  # pre-UA ignored
    ("User-agent: *\nDisallow: /b # comment\n", "/b"),
    ("User-agent: CIS455Crawler\nDisallow: /c\n", "/c"),  # agent case-insensitive
    (None, "/x"),
]


def test_standards_mode_matches_oracle(spark):
    rows = [
        (f"h{i}.test", body, path) for i, (body, path) in enumerate(CASES)
    ]
    # randomized differential: seeded rule/path soup
    rng = random.Random(9309)
    frags = ["/a", "/ab", "/a/b", "/*.x$", "/q?k=", "/*mid*", "/deep/*/end$", "/"]
    for i in range(60):
        n = rng.randint(1, 5)
        body = "User-agent: *\n" + "".join(
            f"{'Allow' if rng.random() < 0.5 else 'Disallow'}: {rng.choice(frags)}\n"
            for _ in range(n)
        )
        path = rng.choice(["/a", "/ab/c", "/q?k=1", "/deep/z/end", "/m.x", "/amidb"])
        rows.append((f"r{i}.test", body, path))

    robots_pages = spark.createDataFrame(
        [
            (f"http://{h}/robots.txt", body.encode())
            for h, body, _ in rows
            if body is not None
        ],
        "url string, html binary",
    )
    rules_df = build_robots_df(spark, robots_pages, with_standard=True)

    urls = spark.createDataFrame(
        [(h, f"http://{h}{p}") for h, _, p in rows], "host string, url string"
    )
    got = {
        r["host"]: r["ok"]
        for r in urls.join(F.broadcast(rules_df), "host", "left")
        .select(
            "host", allowed_standard(url_path_of("url"), F.col("std_rules")).alias("ok")
        )
        .collect()
    }
    for h, body, path in rows:
        assert got[h] == o_allowed(body, path), (h, body, path)


def test_parse_robots_standard_group_merge():
    body = (
        "User-agent: cis455crawler\nDisallow: /one\n"
        "Crawl-delay: 3\n"
        "User-agent: cis455crawler\nDisallow: /two\n"
    )
    rules = parse_robots_standard(body)
    # both specific groups merge (RFC: combine groups matching the same UA)
    assert sorted(r[1] for r in rules) == [4, 4]
    assert all(not allow for _, _, allow in rules)


def test_url_path_of(spark):
    df = spark.createDataFrame(
        [
            ("http://h.test/a/b?q=1",),
            ("https://h.test",),
            ("http://h.test:8080/p",),
            # query with no path slash: path defaults '/', query KEPT so
            # a Disallow: /*?a=1 rule can match (ADVICE r3)
            ("http://h.test?a=1",),
            ("https://h.test:8080?x=2&y=3",),
        ],
        "url string",
    )
    got = [r["p"] for r in df.select(url_path_of("url").alias("p")).collect()]
    assert got == ["/a/b?q=1", "/", "/p", "/?a=1", "/?x=2&y=3"]


def test_crawl_standard_mode_matches_oracle(spark, tmp_path):
    """CrawlConfig(robots_mode='standard') end-to-end: the engine's seen set
    equals an oracle BFS whose permission predicate is the independent RFC
    9309 oracle — and differs from the quirk-mode crawl on this corpus
    (quirk deny-by-default hosts are standard-allowed), so the flag
    demonstrably changes verdicts."""
    from cis455crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from cis455crawler_spark.sources.corpus import (
        CorpusSpec,
        generate_pages_pdf,
        seed_urls,
    )

    from .oracle import oracle_crawl

    spec = CorpusSpec(hosts=8, pages_per_host=15, seed=11)
    pdf = generate_pages_pdf(spec)
    pages = spark.createDataFrame(
        pdf, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )
    page_map = dict(zip(pdf["url"], pdf["html"]))

    def std_fn(url: str, body: str | None) -> bool:
        rest = url.split("://", 1)[-1]
        cut = min((i for i in (rest.find("/"), rest.find("?")) if i >= 0), default=-1)
        path = rest[cut:] if cut >= 0 else "/"
        if path.startswith("?"):
            path = "/" + path
        return o_allowed(body, path)

    store, metrics = run_crawl(
        spark, pages, seed_urls(spec), str(tmp_path / "std"),
        CrawlConfig(max_rounds=8, compact_every=0, robots_mode="standard"),
    )
    engine_seen = {
        r["url_hash"] for r in store.read("seen").select("url_hash").collect()
    }
    want = oracle_crawl(page_map, seed_urls(spec), max_rounds=8, allowed_fn=std_fn)
    assert engine_seen == want.seen

    quirk = oracle_crawl(page_map, seed_urls(spec), max_rounds=8)
    assert want.seen != quirk.seen  # the mode genuinely flips verdicts here
