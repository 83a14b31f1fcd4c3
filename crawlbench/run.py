"""Crawl-loop benchmark: one closed-loop crawl per workload.

    python3 crawlbench/run.py --workload bfs_gen1 --seed 1 --seconds 15 --trace 0

Run from the repository root. The corpus for (workload, seed) and the
Python oracle's answer are generated before the Spark session starts and
cached under .crawlbench/cache; the crawl itself goes through the package's
public API (plans.crawl.run_crawl, sources.tables.SnapshotStore) on a
local[nproc // 2] session, and every pass is checked against tests/oracle.py.

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics of a separate traced run (trace.py). The last stdout line is one
JSON object {"correct", "attempted", "failed", "metrics"}; the line before
it stamps the environment. The exit code is 0 only when every round
matched the oracle.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from crawlbench import harness  # noqa: E402
from crawlbench.workloads import WORKLOADS, prepare_inputs  # noqa: E402


def untraced_run(w, inputs, seeds, work, cores, seconds, outside_s) -> dict:
    t0 = time.time()
    spark = harness.start_session(work, cores)
    try:
        session_s = time.time() - t0
        t1 = time.time()
        pages = harness.load_pages(spark, inputs.pages, cores)
        load_s = time.time() - t1
        t2 = time.time()
        harness.build_preload(spark, w, seeds, inputs)
        outside_s += time.time() - t2
        with harness.RssSampler() as rss:
            passes = harness.measure(spark, w, pages, seeds, inputs, work, seconds)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        spark.stop()
    done = [p for p in passes if p["metrics"]]
    walls = [m["wall_s"] for p in done for m in p["timed"]]
    metrics = {}
    if done:
        # process start -> the first timed run_crawl call, less input
        # generation, the oracle and the seen preload: imports, session,
        # pages persist and the first pass's warm-up round
        setup_s = done[0]["t_timed"] - T_PROCESS - outside_s
        metrics = {
            "crawl_urls_per_s": (
                statistics.median(harness.throughput(p) for p in done), "URLs/s"),
            "round_s_p50": (statistics.median(walls), "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss.peak / 1e6, "MB"),
            "state_mb": (statistics.median(p["state_bytes"] for p in done) / 1e6, "MB"),
        }
    return {
        "passes": passes,
        "metrics": metrics,
        "env": {
            "java": java,
            "session_s": session_s,
            "load_s": load_s,
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    w = WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    # a task slot runs a JVM task thread and, in every Python UDF stage, a
    # Python worker beside it: nproc // 2 slots keep about nproc processes
    # busy. On a 4-vCPU box local[4] ran rounds slower than local[2] and
    # its run-to-run spread was about twice as wide
    cores = max(1, nproc // 2)
    base = os.path.join(ROOT, ".crawlbench")
    work = os.path.join(base, f"work_{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's Python workers import the package from the checkout; every
    # temp file stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    load_before = os.getloadavg()[0]
    steal_before = harness.cpu_ticks()

    try:
        t_in = time.time()
        inputs = prepare_inputs(w, args.seed, os.path.join(base, "cache"), ROOT)
        inputs_s = time.time() - t_in
        seeds = w.seeds(args.seed)
        if args.trace:
            from crawlbench.trace import traced_run

            res = traced_run(w, inputs, seeds, work, cores)
        else:
            res = untraced_run(w, inputs, seeds, work, cores, args.seconds, inputs_s)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    import pyspark

    steal_after = harness.cpu_ticks()
    passes = res["passes"]
    bad = [b for p in passes for b in p["bad"]]
    failed = sum(p["failed"] for p in passes)
    env = {
        "workload": w.name,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": nproc,
        "session_cores": cores,
        "load1_before": load_before,
        "load1_after": os.getloadavg()[0],
        "load_above_cores": load_before > nproc,
        # a share of a few per cent marks a run slowed by the host
        "cpu_steal_share": (steal_after[0] - steal_before[0])
        / max(steal_after[1] - steal_before[1], 1),
        "pyspark": pyspark.__version__,
        "git_commit": harness.git_commit(ROOT),
        "inputs_s": inputs_s,
        "rounds": [
            [(m["round"], m["urls_in"], m["scheduled"], m.get("wall_s")) for m in p["metrics"]]
            for p in passes
        ],
        **res["env"],
    }
    for b in bad:
        print(f"oracle mismatch: {b}", file=sys.stderr)
    ok = not bad and bool(res["metrics"])
    print(json.dumps({"env": env}))
    print(
        json.dumps(
            {
                "correct": ok,
                "attempted": max(sum(p["attempted"] for p in passes), 1),
                "failed": failed,
                "metrics": {
                    k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()
                },
            }
        )
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
