"""Plan-property regression guard: the scale properties PLANS.md documents
(no cartesian products, no row-at-a-time Python, broadcasts where expected)
asserted as tests over the headline queries' physical plans — a perf
regression that flips a broadcast to a shuffle-of-the-big-side or sneaks a
BatchEvalPython into a hot path fails CI, not just the next manual audit."""

import pytest

# lazy-plannable entries only (no eager jobs during planning): iterative /
# streaming / driver-collecting entries are audited by tools/explain_audit.py
LAZY_ENTRIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "seen_anti_join",
    "host_budget_window",
    "robots_substring_filter",
    "tfidf_postings",
    "term_search_top100",
    "meta_title_rank",
    "dedup_exact_docs",
    "asof_last_click",
    "window_suite_orders",
    "fetch_routing_crawl",
    "stratified_sample_docs",
    "curate_corpus_e2e",
    "embedding_cosine_topk",
]


def _plan(df) -> str:
    # AQE's toString appends an "== Initial Plan ==" copy of the whole tree;
    # keep only the current plan or every node double-counts
    return df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]


def _formatted(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    return {name: _plan(qs[name](spark, sf_dir)) for name in LAZY_ENTRIES}


def test_no_cartesian_products(plans):
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name


def test_no_row_at_a_time_python(plans):
    # ArrowEvalPython (vectorized) is allowed; BatchEvalPython (row-at-a-time
    # pickling) is the banned slow path (SURVEY §2.10)
    for name, plan in plans.items():
        assert "BatchEvalPython" not in plan, name


def test_expected_broadcasts(plans):
    # small dims must broadcast — a flip to SortMergeJoin here means the big
    # side starts shuffling at scale
    for name in ("q3_shipping_priority", "q5_revenue_by_nation", "embedding_cosine_topk"):
        assert "BroadcastHashJoin" in plans[name] or "BroadcastNestedLoopJoin" in plans[name], name


def test_scan_pruning_reaches_parquet(spark, sf_dir):
    # q1 reads a 6-column slice of lineitem, never the full row (ReadSchema
    # only prints in formatted explain)
    import re

    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["q1_pricing_summary"](spark, sf_dir)
    reads = re.findall(r"ReadSchema: struct<([^>]*)>", _formatted(df))
    assert reads, "no parquet scan found in q1 plan"
    assert all(r.count(",") + 1 <= 8 for r in reads), reads


def _parse_evals(df) -> int:
    # distinct parse-UDF eval nodes: the formatted plan lists a cached
    # relation's build plan once, however often the relation is scanned
    return _formatted(df).count("Arguments: [parse_page_udf")


def test_crawl_round_dag_properties(spark):
    """The crawl round's own DAG: plan_round's next-frontier frame for round
    2 of a real crawl (the frame tools/explain_audit.py writes to PLANS.md),
    default and content_dedup configs: joins broadcast, one Arrow parse per
    page, no cartesian, no row-at-a-time Python."""
    import os
    import re
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from explain_audit import second_round_plan

    # one parse node in `parsed`'s build plan with either config:
    # ContentDedup keeps every row on one join path
    for knobs in ({}, {"content_dedup": True}):
        with second_round_plan(spark, **knobs) as rp:
            plan = _formatted(rp.frontier)
            assert "CartesianProduct" not in plan, knobs
            assert "BatchEvalPython" not in plan, knobs
            # seen anti-join, robots, fetch join at least
            assert len(re.findall(r"^\(\d+\) BroadcastHashJoin", plan, re.M)) >= 3, knobs
            # one parse per page: the links explode and the seen append scan
            # the cached `parsed`, so the round adds no eval of its own
            assert _parse_evals(rp.parsed) == 1, knobs
            assert _parse_evals(rp.frontier) == 1, knobs

            # KNOWN CATALYST SHAPE: explode over a UDF-derived array splits
            # into a size>0 Filter + Generate pair and EACH gets its own UDF
            # eval in an uncached chain — this is why plan_round caches
            # `parsed`. Assert the hazard on the same frame uncached, so a
            # Spark upgrade that fixes it surfaces here.
            rp.release()
            links = rp.parsed.select(F.explode("out_links").alias("url"))
            assert _parse_evals(links) == 2, knobs


def _sql_executions(spark) -> set[int]:
    """Ids of the SQL executions in Spark's status store, once the listener
    bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {executions.apply(i).executionId() for i in range(executions.size())}


def _parse_rows(spark, executions: set[int]) -> int:
    """Rows the crawl's Arrow parse node emitted across `executions`: a
    page parsed twice (a cache recomputed, or raced and filled twice)
    counts twice."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    for eid in executions:
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes()
        for j in range(nodes.size()):
            node = nodes.apply(j)
            if node.name() != "ArrowEvalPython" or "parse_page_udf" not in node.desc():
                continue
            metrics = node.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                v = values.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    total += int(str(v.get()).replace(",", ""))
    return total


def test_crawl_round_parses_each_page_once(spark, tmp_path):
    """The commit's writes are the round's action, and they race the stats
    job to fill the round's caches. The Arrow parse still runs once per
    scheduled page: its output rows, summed over every SQL execution of a
    round, equal the round's `scheduled`."""
    from cis455crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from cis455crawler_spark.sources.corpus import CorpusSpec, pages_spark_df, seed_urls

    spec = CorpusSpec(hosts=20, pages_per_host=10)
    pages = pages_spark_df(spark, spec)
    state = str(tmp_path / "state")
    run_crawl(spark, pages, seed_urls(spec), state, CrawlConfig(max_rounds=1))
    before = _sql_executions(spark)
    _, metrics = run_crawl(
        spark, pages, seed_urls(spec), state, CrawlConfig(max_rounds=2), resume=True
    )
    assert metrics[-1]["round"] == 2 and metrics[-1]["scheduled"] > 0
    assert _parse_rows(spark, _sql_executions(spark) - before) == metrics[-1]["scheduled"]
