"""Two-parallelism scaling evidence (sandbox proxy for the north_rule's
N -> 4N executor criterion): run the same jobs at two local[k] parallelism
levels on identical input and report throughput at both + scaling efficiency
= (thr_hi / thr_lo) / (hi / lo).

A single VM cannot emulate an N -> 4N EXECUTOR scale-out: adding executors
multiplies memory bandwidth, disks, and GC capacity along with the cores,
while local[k] multiplies only threads over one shared memory/disk/JVM. So
this harness measures CONTROLS alongside the engine:

  control_cpu   pure-compute job (sha1 over a range) — proves the vCPUs scale
  control_scan  bare JVM parquet scan of the html column — the single-VM
                memory/decode ceiling that bounds EVERY data-bearing job here
  dataplane     one full frontier-scheduling pass (canonicalize -> sha1 ->
                seen anti-join -> robots -> salted politeness pop -> fetch
                join -> Arrow parse) over ~48M candidate URLs, ONE action —
                the north-star "URLs scheduled+deduped" operation
  e2e           the 6-round crawl loop (round-commit latency included)

The engine's verdict is dataplane efficiency RELATIVE to control_scan: if the
scheduling pass scales as well as a bare scan of the same bytes, the plans
add no scaling penalty beyond the substrate, and executor scale-out (which
does multiply the substrate) is bounded by cluster I/O, not by these plans.

Defaults: lo=4, hi=16 (hi=32 shares SMT/bandwidth on this 32-vCPU VM; see
BENCH.md). Corpus 2000 hosts x 2000 pages (~4M pages), built distributed,
cached in /tmp. Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

from bench import corpus_parquet, crawl_throughput  # noqa: E402

FIXED_CONF = {
    # identical split/partition behavior at both parallelisms — partition
    # counts must not scale with cores or the comparison measures task-size
    # effects, not scaling
    "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    "spark.sql.adaptive.enabled": "false",
}
SHUFFLE = 64


def _new_session(cores: int, name: str):
    from pyspark.sql import SparkSession

    from cis455crawler_spark.session import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    return get_spark(
        cores=cores, app_name=name, shuffle_partitions=SHUFFLE, extra_conf=FIXED_CONF
    )


def control_cpu(spark) -> dict:
    from pyspark.sql import functions as F

    df = spark.range(0, 100_000_000, 1, 128)
    t0 = time.time()
    df.select(F.sha1(F.col("id").cast("string")).alias("h")).filter(
        F.col("h").startswith("00")
    ).count()
    w = time.time() - t0
    return {"wall_s": round(w, 2), "rows_per_s": round(1e8 / w, 1)}


def control_scan(spark, pages) -> dict:
    from pyspark.sql import functions as F

    t0 = time.time()
    out = pages.select(F.sum(F.length("html")).alias("b")).collect()[0]
    w = time.time() - t0
    return {"wall_s": round(w, 2), "MB_per_s": round(out["b"] / w / 1e6, 1)}


def dataplane(spark, pages, dup: int = 11) -> dict:
    from pyspark.sql import functions as F

    from cis455crawler_spark.functions.html import parse_page_udf
    from cis455crawler_spark.functions.robots import build_robots_df, crawl_allowed
    from cis455crawler_spark.functions.text import bind_once
    from cis455crawler_spark.functions.urls import resolve_base_parts, resolve_href
    from cis455crawler_spark.operators.dedup import anti_join_seen
    from cis455crawler_spark.operators.scheduler import host_budget, pop_host_batches
    from cis455crawler_spark.plans.crawl import _with_url_cols

    urls = pages.select("url")
    cand = urls
    for s in range(dup):
        cand = cand.unionAll(urls.sample(1.0, seed=s))
    cand = cand.withColumn("depth", F.lit(0))
    n_cand = cand.count()
    # deterministic hash-mod membership, NOT df.sample: sample() seeds per
    # PARTITION, and file-split packing scales with default parallelism, so
    # a sampled seen set differs between local[lo] and local[hi] — the two
    # levels would schedule slightly different workloads (measured: 1 304
    # rows apart at 1.6M scheduled). md5-prefix selection is identical at
    # any parallelism.
    seen = urls.filter(F.substring(F.md5("url"), 1, 2) < "4d").select(
        F.sha1("url").alias("url_hash")
    )
    robots = build_robots_df(spark, pages).cache()
    robots.count()
    # warmup: spin up every python worker before timing — noop sink, a
    # count() would let Catalyst prune the UDF projection (ADVICE r2)
    pages.limit(50_000).select(parse_page_udf("html")).write.format("noop").mode(
        "overwrite"
    ).save()

    t0 = time.time()
    c = _with_url_cols(cand.groupBy("url").agg(F.min("depth").alias("depth")), 32)
    c = anti_join_seen(c, seen)
    c = c.join(F.broadcast(robots), "host", "left").withColumn(
        "allowed", crawl_allowed(F.col("url"), F.col("has_robots"), F.col("disallow"))
    )
    ok = c.filter(F.col("allowed")).withColumn(
        "budget", host_budget(F.col("crawl_delay"), 36_000)
    )
    sched, _ = pop_host_batches(
        ok.select("url", "url_hash", "host", "bucket", "depth", "budget")
    )
    parsed = (
        sched.join(pages.select("url", "html"), "url", "left")
        .withColumn("_p", parse_page_udf("html"))
        .withColumn(
            "out_links",
            # the round-5 product shape (the bind_once link resolution in
            # plans/crawl.py _parse): page-URL parts bind once per row;
            # unbound, the base-part regex chains re-run per extracted HREF
            # inside the HOF lambda
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
    )
    out = parsed.select(
        F.count("*").alias("n"), F.sum(F.size("out_links")).alias("links")
    ).collect()[0]
    w = time.time() - t0
    robots.unpersist()
    return {
        "candidates": n_cand,
        "scheduled": out["n"],
        "links": out["links"],
        "wall_s": round(w, 2),
        "cand_per_s": round(n_cand / w, 1),
    }


def _best(reps: int, fn, key: str) -> dict:
    """Best-of-N (max throughput): damps one-sided co-tenant VM noise."""
    results = [fn() for _ in range(reps)]
    return max(results, key=lambda r: r[key])


def run_at(cores: int, rounds: int, hosts: int, pages_n: int, hot: int, reps: int) -> dict:
    spark = _new_session(cores, f"bench_scaling_{cores}")
    pages = spark.read.parquet(corpus_parquet(hosts, pages_n, hot, spark=spark))
    res = {
        "control_cpu": _best(reps, lambda: control_cpu(spark), "rows_per_s"),
        "control_scan": _best(reps, lambda: control_scan(spark, pages), "MB_per_s"),
        "dataplane": _best(reps, lambda: dataplane(spark, pages), "cand_per_s"),
        "e2e": _best(
            reps,
            # gen-1 only: the scaling comparison wants one fixed job shape
            lambda: crawl_throughput(spark, rounds, hosts, pages_n, hot, recrawl=False)[0],
            "throughput_per_s",
        ),
    }
    spark.stop()
    return res


def main() -> None:
    hosts = int(os.environ.get("BENCH_HOSTS", "2000"))
    pages_n = int(os.environ.get("BENCH_PAGES", "2000"))
    hot = int(os.environ.get("BENCH_HOT", "10"))
    rounds = int(os.environ.get("BENCH_ROUNDS", "6"))
    lo = int(os.environ.get("BENCH_CORES_LO", "4"))
    hi = int(os.environ.get("BENCH_CORES_HI", "16"))

    # build the shared corpus once, distributed, before timing anything
    gen = _new_session(16, "bench_scaling_corpusgen")
    corpus_parquet(hosts, pages_n, hot, spark=gen)
    gen.stop()

    # ABBA order: machine-load drift over the ~30 min run hits both sides
    # symmetrically instead of biasing whichever side ran last
    keys = {
        "control_cpu": "rows_per_s",
        "control_scan": "MB_per_s",
        "dataplane": "cand_per_s",
        "e2e": "throughput_per_s",
    }

    def best(a: dict, b: dict) -> dict:
        return {m: max(a[m], b[m], key=lambda r: r[keys[m]]) for m in keys}

    r_lo = run_at(lo, rounds, hosts, pages_n, hot, 1)
    r_hi1 = run_at(hi, rounds, hosts, pages_n, hot, 1)
    r_hi = best(r_hi1, run_at(hi, rounds, hosts, pages_n, hot, 1))
    r_lo = best(r_lo, run_at(lo, rounds, hosts, pages_n, hot, 1))

    k = hi / lo

    def eff(metric_lo: float, metric_hi: float) -> float:
        return round((metric_hi / metric_lo) / k, 3)

    summary = {
        "cores_lo": lo,
        "cores_hi": hi,
        "shuffle_partitions": SHUFFLE,
        "efficiency": {
            "control_cpu": eff(
                r_lo["control_cpu"]["rows_per_s"], r_hi["control_cpu"]["rows_per_s"]
            ),
            "control_scan": eff(
                r_lo["control_scan"]["MB_per_s"], r_hi["control_scan"]["MB_per_s"]
            ),
            "dataplane": eff(
                r_lo["dataplane"]["cand_per_s"], r_hi["dataplane"]["cand_per_s"]
            ),
            "e2e": eff(
                r_lo["e2e"]["throughput_per_s"], r_hi["e2e"]["throughput_per_s"]
            ),
        },
        "dataplane_vs_scan_ceiling": round(
            (r_hi["dataplane"]["cand_per_s"] / r_lo["dataplane"]["cand_per_s"])
            / (r_hi["control_scan"]["MB_per_s"] / r_lo["control_scan"]["MB_per_s"]),
            3,
        ),
        "lo": r_lo,
        "hi": r_hi,
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
