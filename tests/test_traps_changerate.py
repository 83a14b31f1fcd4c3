"""Crawler-trap detection (operators/traps.py) and the Cho–Garcia-Molina
Poisson change-rate estimator (operators/recrawl.change_rate_poisson)
against hand-computed oracles on designed fixtures. The corpus-scale
versions of both are strict-oracled registry entries (crawl_trap_hosts,
change_rate_poisson_urls); these tests pin the edge semantics the
synthesized entries can't guarantee to exercise at every SF."""

import math

import pytest
from pyspark.sql import functions as F

from cis455crawler_spark.operators.recrawl import change_rate_poisson
from cis455crawler_spark.operators.traps import path_depth, trap_host_stats


@pytest.mark.parametrize(
    ("url", "depth"),
    [
        ("http://h.test/a/b/c", 3),
        ("http://h.test/a/b/c?d=1/e", 3),  # query slashes don't count
        ("http://h.test/a/b/#frag/x", 2),  # fragment slashes don't count
        ("http://h.test/", 0),
        ("http://h.test", 0),
        ("https://h.test:8080/a//b/", 2),  # empty segments collapse
        ("http://h.test/page?session=9", 1),
    ],
)
def test_path_depth(spark, url, depth):
    row = spark.createDataFrame([(url,)], "url string").select(
        path_depth("url").alias("d")
    ).first()
    assert row["d"] == depth


def test_trap_host_stats_flags_both_signals(spark):
    rows = (
        # session trap: 10 distinct URLs, ONE content blob -> ratio 10 >= 5
        [(f"http://trap-sess.test/page?s={i}", "samecontent") for i in range(10)]
        # calendar trap: unique content but a 13-deep path -> depth >= 12
        + [
            ("http://trap-cal.test/" + "d/" * 12 + "p", "c0"),
            ("http://trap-cal.test/a", "c1"),
        ]
        # healthy: 4 URLs, 4 contents, shallow, no query
        + [(f"http://ok.test/p/{i}", f"ok{i}") for i in range(4)]
    )
    log = spark.createDataFrame(rows, "url string, content_fp string")
    out = {r["host"]: r.asDict() for r in trap_host_stats(log).collect()}

    sess = out["trap-sess.test"]
    assert (sess["n_urls"], sess["n_content"], sess["is_trap"]) == (10, 1, 1)
    assert sess["urls_per_content"] == 10.0
    assert sess["query_frac"] == 1.0 and sess["max_depth"] == 1

    cal = out["trap-cal.test"]
    assert cal["is_trap"] == 1 and cal["max_depth"] == 13
    assert cal["urls_per_content"] == 1.0  # flagged by depth alone

    ok = out["ok.test"]
    assert ok["is_trap"] == 0
    assert (ok["n_urls"], ok["n_content"], ok["query_frac"]) == (4, 4, 0.0)


def _lam(n: int, x: int, dt_days: float) -> float:
    return -math.log((n - x + 0.5) / (n + 0.5)) / dt_days


def test_change_rate_poisson_vs_hand_oracle(spark):
    day = 86400.0
    rows = []
    # u-static: 5 daily captures, never changes -> lambda 0
    rows += [("u-static", i * day, "fp0") for i in range(5)]
    # u-daily: 4 daily captures, changes every interval -> x = n = 3
    rows += [("u-daily", i * day, f"fp{i}") for i in range(4)]
    # u-slow: captures at day 0,2,4,6; changed only in the first interval
    rows += [
        ("u-slow", 0 * day, "a"),
        ("u-slow", 2 * day, "b"),
        ("u-slow", 4 * day, "b"),
        ("u-slow", 6 * day, "b"),
    ]
    # u-once: single capture -> no interval evidence
    rows += [("u-once", 0.0, "z")]
    caps = spark.createDataFrame(rows, "url string, ts double, content_fp string")
    out = {r["url"]: r.asDict() for r in change_rate_poisson(caps).collect()}

    st = out["u-static"]
    assert (st["n_intervals"], st["n_changes"]) == (4, 0)
    assert st["dt_days"] == 1.0 and st["lambda_per_day"] == 0.0

    dl = out["u-daily"]
    assert (dl["n_intervals"], dl["n_changes"]) == (3, 3)
    assert dl["lambda_per_day"] == pytest.approx(_lam(3, 3, 1.0), abs=1e-6)

    sl = out["u-slow"]
    assert (sl["n_intervals"], sl["n_changes"]) == (3, 1)
    assert sl["dt_days"] == 2.0
    assert sl["lambda_per_day"] == pytest.approx(_lam(3, 1, 2.0), abs=1e-6)

    on = out["u-once"]
    assert on["n_intervals"] == 0 and on["n_changes"] == 0
    assert on["dt_days"] is None and on["lambda_per_day"] is None

    # estimator ordering: the faster-changing page gets the larger rate
    assert dl["lambda_per_day"] > sl["lambda_per_day"] > st["lambda_per_day"]


def test_change_rate_unordered_input_and_dup_fp_runs(spark):
    """Captures arrive shuffled; lag must order by ts, not arrival. A fp
    that REVERTS to an earlier value (a<-b<-a) still counts both flips."""
    day = 86400.0
    rows = [
        ("u", 2 * day, "a"),
        ("u", 0 * day, "a"),
        ("u", 1 * day, "b"),
        ("u", 3 * day, "a"),
    ]
    caps = spark.createDataFrame(rows, "url string, ts double, content_fp string")
    r = change_rate_poisson(caps).collect()[0]
    # ordered fps: a b a a -> changes at intervals 1 and 2
    assert (r["n_intervals"], r["n_changes"]) == (3, 2)
    assert r["lambda_per_day"] == pytest.approx(_lam(3, 2, 1.0), abs=1e-6)
