"""Freshness-driven recrawl prioritization vs a pandas oracle, plus an
integration over a REAL two-generation crawl store (the estimator must see
re-parsed pages as multi-version and 304-reused pages as single-version)."""

from __future__ import annotations

from datetime import datetime, timedelta

import pandas as pd

from cis455crawler_spark.operators.recrawl import recrawl_priority


def _oracle(rows: list[tuple[str, datetime]], as_of: datetime) -> pd.DataFrame:
    df = pd.DataFrame(rows, columns=["url", "warc_ts"])
    g = df.groupby("url")["warc_ts"].agg(["nunique", "min", "max"]).reset_index()
    span_d = (g["max"] - g["min"]).dt.total_seconds() / 86400.0
    g["rate"] = ((g["nunique"] - 1) / span_d).where(span_d >= 1 / 86400.0, 0.0)
    g["stale"] = ((as_of - g["max"]).dt.total_seconds() / 86400.0).clip(lower=0.0)
    g["priority"] = g["rate"] * g["stale"]
    return g


def test_recrawl_priority_matches_oracle(spark):
    t0 = datetime(2013, 3, 1)
    rows = []
    # hot: 4 versions over 3 days; warm: 2 versions over 10 days;
    # cold: 1 version long ago; fresh: re-parsed this morning
    for d in (0, 1, 2, 3):
        rows.append(("http://h/hot", t0 + timedelta(days=d)))
    rows += [("http://h/warm", t0), ("http://h/warm", t0 + timedelta(days=10))]
    rows += [("http://h/cold", t0)]
    rows += [("http://h/fresh", t0), ("http://h/fresh", t0 + timedelta(days=19))]
    as_of = t0 + timedelta(days=20)

    parsed = spark.createDataFrame(
        [(u, u, ts) for u, ts in rows], "url_hash string, url string, warc_ts timestamp"
    )
    got = recrawl_priority(parsed, as_of).toPandas().set_index("url")
    want = _oracle(rows, as_of).set_index("url")
    for u in want.index:
        assert got.loc[u, "n_versions"] == want.loc[u, "nunique"]
        assert abs(got.loc[u, "change_rate_per_day"] - want.loc[u, "rate"]) < 1e-9
        assert abs(got.loc[u, "priority"] - want.loc[u, "priority"]) < 1e-9

    # ordering: hot (1/day x 17d stale = 17) > warm (0.1/day x 10d = 1.0)
    # > fresh (1/19 per day x 1d ~ 0.05 — just updated, little staleness)
    # > cold (rate 0)
    order = list(
        got.sort_values(
            ["priority", "staleness_days"], ascending=False, kind="stable"
        ).index
    )
    assert order == [
        "http://h/hot", "http://h/warm", "http://h/fresh", "http://h/cold"
    ]


def test_recrawl_priority_from_real_store(spark, tmp_path):
    """Two crawl generations over a corpus where ~half the pages changed:
    changed pages must surface with n_versions == 2 and positive rate,
    304-reused pages with n_versions == 1 and rate 0."""
    import pandas as pd

    from cis455crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from cis455crawler_spark.sources.corpus import (
        CorpusSpec,
        generate_pages_pdf,
        seed_urls,
    )
    from .oracle import o_md5

    spec = CorpusSpec(hosts=6, pages_per_host=12, seed=5)
    pdf = generate_pages_pdf(spec)
    pages = spark.createDataFrame(
        pdf, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )
    state = str(tmp_path / "st")
    cfg = CrawlConfig(max_rounds=6, compact_every=0)
    run_crawl(spark, pages, seed_urls(spec), state, cfg)

    pdf2 = pdf.copy()
    changed = pdf2["url"].map(lambda u: o_md5(u)[2] in "01234567")
    pdf2.loc[changed, "warc_ts"] = pdf2.loc[changed, "warc_ts"] + pd.Timedelta(days=1)
    pages2 = spark.createDataFrame(
        pdf2, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )
    store, m2 = run_crawl(spark, pages2, seed_urls(spec), state, cfg, recrawl=True)
    assert sum(m["parsed_pages"] for m in m2) > 0  # some pages DID change

    parsed = store.read("parsed").select("url_hash", "url", "warc_ts")
    prio = recrawl_priority(parsed, datetime(2013, 4, 1)).toPandas()
    multi = prio[prio["n_versions"] >= 2]
    single = prio[prio["n_versions"] == 1]
    assert len(multi) > 0 and len(single) > 0
    assert set(multi["url"]).issubset(set(pdf2.loc[changed, "url"]))
    assert (multi["change_rate_per_day"] > 0).all()
    assert (single["change_rate_per_day"] == 0).all()
    assert (multi["priority"] > 0).all()
