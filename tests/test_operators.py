"""Operator-family tests: scheduler, pagerank, indexer, search, resume."""

import math

import pytest
from pyspark.sql import functions as F

from cis455crawler_spark.operators.pagerank import pagerank
from cis455crawler_spark.operators.indexer import postings
from cis455crawler_spark.operators.scheduler import host_budget, pop_host_batches
from cis455crawler_spark.operators.search import search

from .reference import pagerank_py_oracle


def test_pop_host_batches_exact_topk(spark):
    rows = []
    for h, n, budget in [("a.test", 20, 3), ("b.test", 5, None), ("c.test", 7, 7)]:
        for i in range(n):
            rows.append((f"http://{h}/p{i:03d}", h, budget))
    df = spark.createDataFrame(rows, "url string, host string, budget int")
    scheduled, deferred = pop_host_batches(df, salt_buckets=4)
    sched = sorted(r["url"] for r in scheduled.collect())
    defr = sorted(r["url"] for r in deferred.collect())
    want_sched = sorted(
        [f"http://a.test/p{i:03d}" for i in range(3)]
        + [f"http://b.test/p{i:03d}" for i in range(5)]
        + [f"http://c.test/p{i:03d}" for i in range(7)]
    )
    assert sched == want_sched
    assert defr == [f"http://a.test/p{i:03d}" for i in range(3, 20)]


def test_host_budget_semantics(spark):
    df = spark.createDataFrame([(0,), (1,), (2,), (5,), (90,), (None,)], "delay int")
    got = df.select(host_budget(F.col("delay"), 60).alias("b")).collect()
    assert [r["b"] for r in got] == [None, 60, 30, 12, 1, None]


def test_pagerank_matches_py_oracle(spark):
    edge_list = [
        ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"), ("c", "sink"),
    ]
    edges = spark.createDataFrame(edge_list, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=5).collect()}
    want = pagerank_py_oracle(edge_list, iterations=5)
    assert set(got) == set(want)
    for n in want:
        assert math.isclose(got[n], want[n], rel_tol=1e-9), n


DOCS = [
    (1, "apple banana apple cherry", "apple pie", "fruit"),
    (2, "banana banana banana", "banana", ""),
    (3, "cherry apple", "other", "cherry jam"),
    (4, "the and of to is", "stop", ""),  # all stopwords
]


def test_postings_rank_bug_compatible(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string, title string, meta string")
    p = postings(docs, title_col="title", meta_col="meta", bug_compatible=True)
    rows = {(r["doc_id"], r["word"]): r for r in p.collect()}
    # doc 4 contributes nothing (all stopwords)
    assert not any(d == 4 for d, _ in rows)
    r = rows[(1, "apple")]
    assert r["tf"] == 2 and r["max_tf"] == 2 and r["df"] == 2
    # bug-compatible (Indexer.java:218-221): tf' = 0.5 + 0.5*tf/maxFreq with
    # REAL division (0.5*int promotes to double); idf = ln(100000 DIV df)
    want_rank = 0.5 * 1.0 * math.log(50000) + 0.3 * 1 + 0.2 * 0
    assert math.isclose(r["rank"], want_rank, rel_tol=1e-12)
    # tf=1 < max_tf=2 -> tf' = 0.5 + 0.5*(1/2) = 0.75 (no title hit)
    r2 = rows[(1, "banana")]
    assert math.isclose(r2["rank"], 0.5 * 0.75 * math.log(50000), rel_tol=1e-12)


def test_lemma_lite_postings(spark):
    """O-X8 approximation: lemma_lite folds regular inflections so 'jumps',
    'jumping', 'jumped' count into one 'jump' term (the reference lemmatizes
    with CoreNLP; this is the documented rule-based stand-in)."""
    docs = spark.createDataFrame(
        [
            (1, "dogs jumped over boxes while jumping dogs jump", "jumping dogs", ""),
            (2, "cities and berries", "", ""),
        ],
        "doc_id long, text string, title string, meta string",
    )
    p = postings(docs, title_col="title", meta_col="meta", lemmatize=True)
    rows = {(r["doc_id"], r["word"]): r for r in p.collect()}
    assert rows[(1, "jump")]["tf"] == 3  # jumped + jumping + jump
    assert rows[(1, "dog")]["tf"] == 2
    assert (1, "jumps") not in rows and (1, "dogs") not in rows
    # title membership is lemma-consistent: title 'jumping dogs' hits 'jump'
    assert rows[(1, "jump")]["is_title"] == 1
    assert rows[(1, "dog")]["is_title"] == 1
    assert rows[(2, "city")]["tf"] == 1
    assert rows[(2, "berry")]["tf"] == 1
    # default path unchanged (no lemmatization)
    p0 = postings(docs)
    words0 = {r["word"] for r in p0.collect() if r["doc_id"] == 1}
    assert "dogs" in words0 and "jumping" in words0


def test_inverted_index_rank_desc(spark, sf_dir):
    """The inverted-index assembly the driver entry ships (postings_assembly,
    O-A4): per word, "doc:tf" postings ordered tf-descending with doc_id
    breaking ties, df = list length, and every tf equal to a Python count
    over the same documents."""
    import re
    from collections import Counter

    import __spark_entry__ as entry_mod
    from cis455crawler_spark.functions.text import STOPWORDS

    want: dict[str, dict[int, int]] = {}
    for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        toks = [t for t in re.split("[^a-z0-9]+", (r["text"] or "").lower())
                if t and t not in STOPWORDS]
        for w, n in Counter(toks).items():
            want.setdefault(w, {})[r["doc_id"]] = n

    rows = entry_mod.queries()["postings_assembly"](spark, sf_dir).collect()
    assert {r["word"] for r in rows} == set(want)
    for r in rows:
        pairs = [tuple(map(int, p.split(":"))) for p in r["postings"].split(" ")]
        assert r["df"] == len(pairs)
        assert pairs == sorted(pairs, key=lambda p: (-p[1], p[0])), r["word"]
        assert dict(pairs) == want[r["word"]], r["word"]


def test_search_intersection_bonus(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string, title string, meta string")
    p = postings(docs, title_col="title", meta_col="meta")
    res = {r["doc_id"]: r["score"] for r in search(p, "apple cherry").collect()}
    # docs 1 and 3 contain both terms -> +100; doc 2 has neither
    assert res[1] == 2 + 100 and res[3] == 2 + 100
    assert 2 not in res


def test_resume_no_refetch(spark, tmp_path):
    """Kill after round k, resume: final state identical, rounds <= k not
    re-run (FIXTURES invariant 4)."""
    from cis455crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from cis455crawler_spark.sources.corpus import CorpusSpec, pages_spark_df, seed_urls

    spec = CorpusSpec(hosts=6, pages_per_host=12)
    pages = pages_spark_df(spark, spec)
    cfg_short = CrawlConfig(max_rounds=2, compact_every=0)
    cfg_full = CrawlConfig(max_rounds=10, compact_every=0)

    state = str(tmp_path / "resume_state")
    store1, m1 = run_crawl(spark, pages, seed_urls(spec), state, cfg_short)
    rounds_before = [h["round"] for h in store1.manifest()["history"]]
    # resume to completion
    store2, m2 = run_crawl(spark, pages, seed_urls(spec), state, cfg_full, resume=True)
    hist = store2.manifest()["history"]
    # earlier rounds were not re-executed (history strictly extends)
    assert [h["round"] for h in hist][: len(rounds_before)] == rounds_before

    # equals a never-killed run
    ref_store, _ = run_crawl(
        spark, pages, seed_urls(spec), str(tmp_path / "ref_state"), cfg_full
    )
    seen_a = {r["url_hash"] for r in store2.read("seen").collect()}
    seen_b = {r["url_hash"] for r in ref_store.read("seen").collect()}
    assert seen_a == seen_b


def test_snapshot_compact_and_lineage(spark, tmp_path):
    """compact() folds delta dirs into one without changing table contents;
    per-round lineage bucket counts sum to the round's scheduled metric."""
    import os

    from cis455crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from cis455crawler_spark.sources.corpus import CorpusSpec, pages_spark_df, seed_urls

    spec = CorpusSpec(hosts=8, pages_per_host=15)
    pages = pages_spark_df(spark, spec)
    state = str(tmp_path / "compact_state")
    cfg = CrawlConfig(max_rounds=4, round_duration_s=3600, compact_every=0)
    store, metrics = run_crawl(spark, pages, seed_urls(spec, 8), state, cfg)

    # lineage: per-bucket scheduled counts must reconcile with metrics
    lineage = store.read("lineage")
    by_round = {
        r["round"]: r["s"]
        for r in lineage.groupBy("round").agg(F.sum("scheduled").alias("s")).collect()
    }
    for m in metrics:
        assert by_round.get(m["round"], 0) == m["scheduled"]

    seen_before = sorted(r["url_hash"] for r in store.read("seen").collect())
    n_dirs_before = len(store.manifest()["tables"]["seen"])
    assert n_dirs_before == len(metrics)  # one delta dir per round

    store.compact("seen")
    assert len(store.manifest()["tables"]["seen"]) == 1
    seen_after = sorted(r["url_hash"] for r in store.read("seen").collect())
    assert seen_after == seen_before
    # old delta dirs physically removed
    assert len(os.listdir(os.path.join(state, "seen"))) == 1


def test_parsed_compaction_in_crawl_loop(spark, tmp_path):
    """CrawlConfig(compact_parsed_every=2) folds the parsed ledger's
    per-round dirs during the crawl without changing parsed_latest()."""
    from cis455crawler_spark.plans.crawl import CrawlConfig, parsed_latest, run_crawl
    from cis455crawler_spark.sources.corpus import CorpusSpec, pages_spark_df, seed_urls

    spec = CorpusSpec(hosts=8, pages_per_host=15)
    pages = pages_spark_df(spark, spec)

    base_cfg = CrawlConfig(max_rounds=4, round_duration_s=3600, compact_every=0)
    plain, _ = run_crawl(
        spark, pages, seed_urls(spec, 8), str(tmp_path / "plain"), base_cfg
    )
    cfg = CrawlConfig(
        max_rounds=4, round_duration_s=3600, compact_every=0,
        compact_parsed_every=2,
    )
    compacted, metrics = run_crawl(
        spark, pages, seed_urls(spec, 8), str(tmp_path / "cmp"), cfg
    )
    # fewer parsed dirs than rounds (each compaction folds the prefix)
    assert len(compacted.manifest()["tables"]["parsed"]) < len(metrics)
    want = sorted(
        (r.url, r.round) for r in parsed_latest(plain).select("url", "round").collect()
    )
    got = sorted(
        (r.url, r.round)
        for r in parsed_latest(compacted).select("url", "round").collect()
    )
    assert got == want


def test_title_meta_ranking_end_to_end(spark, tmp_path):
    """Build the inverted index from CRAWLED parsed output with the title
    flag wired (Indexer.java:222-224: rank = 0.5*tf'*idf + 0.3*isTitle +
    0.2*isMeta) and verify every rank against a Python oracle. Titles AND
    meta both come from the crawl plan's parsed table — meta is extracted
    from the pages' real <meta name="description" content=...> tags by
    extract_meta_py (Indexer.java:102-140), not synthesized."""
    import re

    from pyspark.sql import functions as F

    from cis455crawler_spark.functions.text import STOPWORDS
    from cis455crawler_spark.plans.crawl import CrawlConfig, parsed_latest, run_crawl
    from cis455crawler_spark.sources.corpus import CorpusSpec, pages_spark_df, seed_urls

    spec = CorpusSpec(hosts=6, pages_per_host=15)
    pages = pages_spark_df(spark, spec)
    store, _ = run_crawl(
        spark,
        pages,
        seed_urls(spec, 6),
        str(tmp_path / "idx_state"),
        CrawlConfig(max_rounds=4, round_duration_s=3600, compact_every=0),
    )
    docs = parsed_latest(store).filter("fetched").select("url", "text", "title", "meta")
    idx = postings(docs, doc_col="url", text_col="text", title_col="title", meta_col="meta")
    got = {(r["doc_id"], r["word"]): r for r in idx.collect()}
    assert got

    def tok(s):
        return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]

    pdf = docs.toPandas()
    tfs, titles, metas = {}, {}, {}
    for row in pdf.itertuples():
        cnt: dict[str, int] = {}
        for w in tok(row.text):
            if w not in STOPWORDS:
                cnt[w] = cnt.get(w, 0) + 1
        tfs[row.url] = cnt
        titles[row.url] = set(tok(row.title))
        metas[row.url] = set(tok(row.meta))
    dfc: dict[str, int] = {}
    for cnt in tfs.values():
        for w in cnt:
            dfc[w] = dfc.get(w, 0) + 1

    assert len(got) == sum(len(c) for c in tfs.values())
    n_title = n_meta = 0
    for u, cnt in tfs.items():
        mx = max(cnt.values())
        for w, tf in cnt.items():
            it = 1 if w in titles[u] else 0
            im = 1 if w in metas[u] else 0
            n_title += it
            n_meta += im
            want = (
                0.5 * (0.5 + 0.5 * tf / mx) * math.log(100000 // dfc[w])
                + 0.3 * it
                + 0.2 * im
            )
            r = got[(u, w)]
            assert (r["is_title"], r["is_meta"]) == (it, im), (u, w)
            assert math.isclose(r["rank"], want, rel_tol=1e-12), (u, w)
    # the +0.3 and +0.2 weights must actually fire on crawled titles
    assert n_title > 0 and n_meta > 0


def test_pagerank_over_crawled_graph(spark, tmp_path):
    """North-star path: crawl -> the parsed table's out_links exploded to
    (src, dst) edges -> iterative PageRank, checked against the driver-side
    Python oracle on the same edge list."""
    from cis455crawler_spark.operators.pagerank import pagerank
    from cis455crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from cis455crawler_spark.sources.corpus import CorpusSpec, pages_spark_df, seed_urls

    spec = CorpusSpec(hosts=6, pages_per_host=20)
    pages = pages_spark_df(spark, spec)
    store, _ = run_crawl(
        spark,
        pages,
        seed_urls(spec, 6),
        str(tmp_path / "pr_state"),
        CrawlConfig(max_rounds=5, round_duration_s=3600, compact_every=0),
    )
    edges = store.read("parsed").select(
        F.col("url").alias("src"), F.explode("out_links").alias("dst")
    )
    edge_list = [(r["src"], r["dst"]) for r in edges.collect()]
    assert len(edge_list) > 0

    got = {r["node"]: r["rank"] for r in pagerank(edges, iterations=4).collect()}
    want = pagerank_py_oracle(edge_list, iterations=4)
    assert set(got) == set(want)
    for n, w in want.items():
        assert abs(got[n] - w) < 1e-9, (n, got[n], w)


def test_serve_over_crawled_index(spark, tmp_path):
    """The COMPLETE reference pipeline on one corpus, crawl to serve
    (Crawler -> Indexer -> Ranker -> SearchEngine): crawl, build postings
    from the parsed table (title+meta from the real parse), run a two-term
    search, top-k, PageRank re-order over the crawled link graph, snippet —
    verified against a chained pure-Python oracle end to end."""
    import re

    from cis455crawler_spark.functions.text import STOPWORDS
    from cis455crawler_spark.operators.search import INTERSECTION_BONUS, snippet
    from cis455crawler_spark.plans.crawl import (
        CrawlConfig,
        parsed_latest,
        run_crawl,
    )
    from cis455crawler_spark.sources.corpus import CorpusSpec, pages_spark_df, seed_urls

    spec = CorpusSpec(hosts=6, pages_per_host=20)
    pages = pages_spark_df(spark, spec)
    store, _ = run_crawl(
        spark,
        pages,
        seed_urls(spec, 6),
        str(tmp_path / "serve_state"),
        CrawlConfig(max_rounds=5, round_duration_s=3600, compact_every=0),
    )
    docs = parsed_latest(store).filter("fetched").select("url", "text", "title", "meta")
    idx = postings(docs, doc_col="url", text_col="text", title_col="title", meta_col="meta")

    query = "title word1"
    hits = search(idx, query, top_k=10)
    graph = store.read("parsed").select(
        F.col("url").alias("src"), F.explode("out_links").alias("dst")
    )
    pr = pagerank(graph, iterations=3)
    served = (
        hits.join(pr, hits.doc_id == pr.node, "left")
        .join(docs.select(F.col("url").alias("doc_id"), "text", "title"), "doc_id")
        .select(
            "doc_id",
            "score",
            F.round(F.coalesce("rank", F.lit(0.15)), 9).alias("pr"),
            "title",
            snippet(F.col("text"), query).alias("snip"),
        )
        .orderBy(F.desc("pr"), "doc_id")
    )
    got = served.collect()
    assert got

    # ---- chained python oracle ----
    def tok(s):
        return [t for t in re.split(r"[^a-z0-9]+", s.lower()) if t]

    pdf = docs.toPandas()
    terms = [t for t in query.split() if t not in STOPWORDS]
    scores = {}
    for row in pdf.itertuples():
        toks = [t for t in tok(row.text) if t not in STOPWORDS]
        # search() scores over POSTINGS rows (one per doc-word), so each
        # present term contributes 1 regardless of its tf (Ext.java's
        # per-posting +1 collapses to term presence in the relational index)
        n_words = sum(1 for t in terms if t in toks)
        if n_words:
            scores[row.url] = n_words + (
                INTERSECTION_BONUS if n_words == len(terms) else 0
            )
    top = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    edges = [(r["src"], r["dst"]) for r in graph.collect()]
    ranks = pagerank_py_oracle(edges, iterations=3)
    want = sorted(
        ((u, s, round(ranks.get(u, 0.15), 9)) for u, s in top),
        key=lambda t: (-t[2], t[0]),
    )
    assert [(r["doc_id"], r["score"], r["pr"]) for r in got] == want
    # snippets contain a query term for every doc that matched in body text
    texts = dict(zip(pdf["url"], pdf["text"]))
    for r in got:
        low = texts[r["doc_id"]].lower()
        if any(t in low for t in terms):
            assert r["snip"] and any(t in r["snip"].lower() for t in terms)
