"""Physical-plan audit: .explain("formatted") for the headline queries plus
one crawl round, grepping the properties that matter at 100 TB —
PushedFilters (predicate pushdown reached the scan), ReadSchema (column
pruning), BroadcastHashJoin (small dims broadcast), WholeStageCodegen spans
(JVM-side execution), and flagging CartesianProduct / row-at-a-time Python.

Writes PLANS.md. Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

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
        "properties that decide whether the plan survives a 100x scale-up.\n",
    ]
    def crawl_round_plan(spark, _sf, content_dedup: bool = False):
        """One full frontier-scheduling pass as a single lazy DAG — the
        exact operator chain run_round executes per round (canonicalize ->
        anti-join -> robots broadcast -> salted politeness pop -> fetch
        join -> status/MIME/size route -> [content-seen test] -> Arrow
        parse -> links)."""
        from pyspark.sql import functions as F

        from cis455crawler_spark.functions.fetch import route_fetch
        from cis455crawler_spark.functions.html import parse_page_udf
        from cis455crawler_spark.functions.robots import build_robots_df, crawl_allowed
        from cis455crawler_spark.functions.text import bind_once
        from cis455crawler_spark.functions.urls import resolve_base_parts, resolve_href
        from cis455crawler_spark.operators.dedup import anti_join_seen
        from cis455crawler_spark.operators.scheduler import host_budget, pop_host_batches
        from cis455crawler_spark.plans.crawl import _with_url_cols
        from cis455crawler_spark.sources.corpus import CorpusSpec, pages_spark_df

        pages = pages_spark_df(spark, CorpusSpec(hosts=6, pages_per_host=10))
        robots = build_robots_df(spark, pages)
        frontier = pages.select("url").withColumn("depth", F.lit(0))
        seen = pages.sample(0.3, seed=1).select(F.sha1("url").alias("url_hash"))
        raw = _with_url_cols(frontier.groupBy("url").agg(F.min("depth").alias("depth")), 32)
        cand = (
            anti_join_seen(raw, seen)
            .join(F.broadcast(robots), "host", "left")
            .withColumn("allowed", crawl_allowed(F.col("url"), F.col("has_robots"), F.col("disallow")))
        )
        ok = cand.filter("allowed").withColumn("budget", host_budget(F.col("crawl_delay"), 60))
        sched, _ = pop_host_batches(
            ok.select("url", "url_hash", "host", "bucket", "depth", "budget")
        )
        routed = sched.join(pages.select("url", "warc_ts", "html"), "url", "left").withColumn(
            "action", route_fetch("html", "url")
        )
        if content_dedup:
            # the crawl's content-seen test, in its round-5 shape: md5
            # digest on parse rows, NULL-digest rows split OUT of the digest
            # shuffle, left join against the claimed-digest table, and the
            # in-batch claim as a min-URL aggregate + join-back (NEVER a
            # digest window — plans/gates.py ContentDedup.route)
            cs = pages.sample(0.2, seed=2).select(F.md5("html").alias("digest"))
            routed = routed.withColumn(
                "digest",
                F.when(F.col("action") == "parse", F.md5(F.col("html"))),
            )
            with_dig = routed.filter(F.col("digest").isNotNull()).join(
                cs.withColumn("_dup_known", F.lit(True)), "digest", "left"
            )
            no_dig = routed.filter(F.col("digest").isNull()).withColumn(
                "_dup_known", F.lit(None).cast("boolean")
            )
            claims = with_dig.groupBy("digest").agg(F.min("url").alias("_claim_url"))
            with_dig = (
                with_dig.join(claims, "digest")
                .withColumn(
                    "action",
                    F.when(
                        F.coalesce(F.col("_dup_known"), F.lit(False))
                        | (F.col("url") > F.col("_claim_url")),
                        F.lit("content_dup"),
                    ).otherwise(F.col("action")),
                )
                .drop("_claim_url")
            )
            routed = with_dig.unionByName(no_dig).drop("_dup_known")
        # page-URL parts bind ONCE per row (functions/text.bind_once), the
        # round-5 product shape — HOF lambda bodies get no subexpression
        # elimination, so the unbound form re-runs the base-part regex
        # chains per extracted HREF (the bind_once link resolution in
        # plans/crawl.py _parse)
        parsed = routed.withColumn(
            "_p", parse_page_udf(F.when(F.col("action") == "parse", F.col("html")))
        ).withColumn(
            "out_links",
            bind_once(
                resolve_base_parts(F.col("url")),
                lambda rb: F.filter(
                    F.transform(
                        F.col("_p.hrefs"),
                        lambda h: resolve_href(F.col("url"), h, parts=rb),
                    ),
                    lambda x: x.isNotNull(),
                ),
            ),
        )
        return parsed.select(F.explode("out_links").alias("url")).groupBy("url").count()

    for name, fn in [
        *[(n, qs[n]) for n in AUDIT_QUERIES],
        ("crawl_round_pass", crawl_round_plan),
        (
            "crawl_round_content_dedup",
            lambda s, sf: crawl_round_plan(s, sf, content_dedup=True),
        ),
    ]:
        df = fn(spark, sf_dir)
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

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("".join(out))
    print("wrote PLANS.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
