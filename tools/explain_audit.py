"""Physical-plan audit: .explain("formatted") for the headline queries plus
the crawl round's own DAG (plans/crawl.py plan_round), grepping the
properties that matter at 100 TB — PushedFilters (predicate pushdown
reached the scan), ReadSchema (column pruning), BroadcastHashJoin (small
dims broadcast), WholeStageCodegen spans (JVM-side execution), and flagging
CartesianProduct / row-at-a-time Python.

Writes PLANS.md. Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
import tempfile
from contextlib import contextmanager, redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDIT_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "seen_anti_join",
    "host_budget_window",
    "tfidf_postings",
    "meta_title_rank",
    "search_serve_e2e",
    "pagerank_5iter",
    "asof_last_click",
    "embedding_cosine_topk",
    "embedding_near_dups_lsh",
    "dedup_exact_docs",
    "dup_span_stats",
    "decontaminate_ngram",
    "dedup_clusters",
    "curate_corpus_e2e",
    "stratified_sample_docs",
    "minhash_lsh_dups",
    "ann_ivf_topk",
    "lm_bigram_quality",
    "anchor_text_postings",
    "hits_hubs_auth",
    "boilerplate_strip",
    "cdx_capture_index",
    "bm25_postings_score",
    "phrase_search_adjacent",
    "chunk_documents_windows",
    "pack_token_spans_gpt",
    "training_pipeline_e2e",
    "ann_quantized_topk",
    "trustrank_seeds",
    "semantic_dedup_docs",
    "crawl_trap_hosts",
    "change_rate_poisson_urls",
    "token_zipf_coverage",
    "shard_shuffle_train",
    "postings_varint_size",
    "reciprocal_link_ratio",
    "pld_rollup_hosts",
    "paragraph_dedup_corpus",
    "line_dedup_docs",
    "text_normalize_nfc",
    "soft404_detect",
    "url_template_mine",
    "cache_ttl_recrawl",
    "wand_block_maxscore",
    "term_dict_frontcode",
    "salsa_hub_auth",
    "mirror_host_detect",
    "containment_dups",
    "bpe_pair_stats",
    "redirect_chains",
    "index_shard_plan16",
    "term_cooccur_pmi",
    "kmv_distinct_hosts",
    "cocitation_pairs_graph",
    "spam_mass_graph",
    "more_like_this_docs",
    "ndcg_eval",
    "robots_delay_budget",
    "degree_assortativity_graph",
    "weighted_sample_docs",
    "script_mix_docs",
    "budget_allocation_hosts",
    "robots_compliance_audit",
    "snapshot_diff_hosts",
    "event_burstiness_types",
    "data_mix_report",
    "url_structure_stats",
    "anchor_consensus_graph",
]

GOOD = {
    "PushedFilters: \\[[^]]": "predicate pushdown reached the parquet scan",
    "BroadcastHashJoin": "small side broadcast (no shuffle of the big side)",
    "WholeStageCodegen": "JVM whole-stage codegen",
}
BAD = {
    "CartesianProduct": "cartesian product (O(n*m) — only acceptable on tiny×broadcast)",
    "BatchEvalPython": "row-at-a-time Python UDF in plan",
}


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@contextmanager
def second_round_plan(spark, **knobs):
    """plan_round's lazy DAG for round 2 of a real crawl of a tiny corpus
    (round 1 committed, so the seen set is non-empty), under
    CrawlConfig(**knobs). The round's caches are released on exit."""
    from cis455crawler_spark.functions.robots import build_robots_df
    from cis455crawler_spark.plans.crawl import CrawlConfig, plan_round, run_crawl
    from cis455crawler_spark.sources.corpus import CorpusSpec, pages_spark_df, seed_urls

    spec = CorpusSpec(hosts=6, pages_per_host=10)
    cfg = CrawlConfig(max_rounds=1, **knobs)
    pages = pages_spark_df(spark, spec)
    with tempfile.TemporaryDirectory() as state_dir:
        store, _ = run_crawl(spark, pages, seed_urls(spec), state_dir, cfg)
        robots = build_robots_df(spark, pages).cache()  # cached, as run_crawl does
        plan = plan_round(spark, store, pages, robots, cfg, 2)
        try:
            yield plan
        finally:
            plan.release()
            robots.unpersist()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import __spark_entry__ as entry_mod
    from cis455crawler_spark.session import get_spark

    spark = get_spark(cores=8, app_name="explain_audit")
    qs = entry_mod.queries()

    out = [
        "# PLANS — physical-plan audit\n",
        f"`.explain(\"formatted\")` over {sf_dir}, auto-generated by "
        "`tools/explain_audit.py`. For each headline query: the scan/join/codegen "
        "properties that decide whether the plan survives a 100x scale-up. The two "
        "`crawl_round_*` sections are the next-frontier frame `plan_round` returns "
        "for round 2 of a real crawl of a tiny corpus (default config, then "
        "`content_dedup=True`): the round's DAG up to its one action.\n",
    ]

    def section(name: str, df) -> None:
        plan = plan_of(df)
        notes = []
        for pat, why in GOOD.items():
            n = len(re.findall(pat, plan))
            if n:
                notes.append(f"+ {why} (x{n})")
        for pat, why in BAD.items():
            n = len(re.findall(pat, plan))
            if n:
                notes.append(f"! {why} (x{n})")
        # scans reading few columns = pruning worked
        reads = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        for r in reads[:4]:
            ncols = 0 if not r.strip() else r.count(",") + 1
            notes.append(f"+ scan reads {ncols} column(s)")
        out.append(f"\n## {name}\n")
        out.append("\n".join(f"- `{n}`" for n in notes))
        out.append("\n\n<details><summary>full plan</summary>\n\n```\n")
        out.append(plan.strip()[:6000])
        out.append("\n```\n</details>\n")

    for name in AUDIT_QUERIES:
        section(name, qs[name](spark, sf_dir))
    for name, knobs in (
        ("crawl_round_pass", {}),
        ("crawl_round_content_dedup", {"content_dedup": True}),
    ):
        with second_round_plan(spark, **knobs) as rp:
            section(name, rp.frontier)

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
