"""The traced run: per-layer metrics, measured from outside the package.

Three sources, none of which changes what the crawl computes:

* spans from wrappers around plans.crawl.run_round, build_robots_df and the
  SnapshotStore calls a round makes (begin_commit, finish_commit, read,
  compact);
* Spark's own event log, switched on in the traced session's config and
  assigned to rounds by the round spans' timestamps;
* a replay of the largest round's inputs, read back by time travel from a
  hard-linked copy of the store taken at the round's entry, through each
  layer's public operator, forced by a noop sink.

A warm-up round, the traced pass, the replay and an untraced pass (the
baseline for the tracing overhead and the n-core throughput) share one
session; the same crawl's first round then runs at local[1] in a second
session on the same, now warm, JVM, for the scaling efficiency.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

from crawlbench import harness


# -- spans ----------------------------------------------------------------

class Spans:
    """Wraps the crawl's layer calls and records one span dict per round.

    Phases of a round (they tile the run_round call):
      pipeline     round entry -> begin_commit return (begin_commit only
                   launches the table writes on background threads)
      stats        begin_commit return -> finish_commit entry
      commit_wait  the finish_commit call (waits for the writes, swaps
                   the manifest)
      tail         finish_commit return -> round return
    """

    def __init__(self, keep_dir: str):
        self.keep_dir = keep_dir  # hard-linked store copy at each round's entry
        self.rounds: list[dict] = []
        self.maintenance_s: list[float] = []  # compact calls
        self.robots_build_s: list[float] = []
        self._cur: dict | None = None
        self._saved: list[tuple[object, str, object]] = []

    def _patch(self, owner, name, make):
        orig = getattr(owner, name)
        self._saved.append((owner, name, orig))
        setattr(owner, name, make(orig))

    def install(self) -> None:
        from cis455crawler_spark.plans import crawl
        from cis455crawler_spark.sources.tables import SnapshotStore

        spans = self

        def run_round(orig):
            def wrapped(spark, store, pages, robots, cfg, round_no, *a, **kw):
                cur = {"round": round_no, "read_s": 0.0, "t0": time.time()}
                spans._cur = cur
                # the replay reads this round's inputs from the copy: the
                # crawl's own maintenance may delete their dirs later
                shutil.copytree(store.root, spans.kept(round_no), copy_function=os.link)
                try:
                    return orig(spark, store, pages, robots, cfg, round_no, *a, **kw)
                finally:
                    cur["t_end"] = time.time()
                    spans._cur = None
                    spans.rounds.append(cur)
            return wrapped

        def begin_commit(orig):
            def wrapped(store, round_no, *a, **kw):
                out = orig(store, round_no, *a, **kw)
                if spans._cur is not None:
                    spans._cur["t_begin"] = time.time()
                return out
            return wrapped

        def finish_commit(orig):
            def wrapped(store, handle, *a, **kw):
                cur = spans._cur
                if cur is not None:
                    cur["t_finish_in"] = time.time()
                out = orig(store, handle, *a, **kw)
                if cur is not None:
                    cur["t_finish_out"] = time.time()
                    # files this commit wrote: the round's new dirs
                    # (counted inside the tail phase, so phases still tile)
                    cur["write_files"], cur["write_bytes"] = _round_dirs_size(
                        store, cur["round"])
                return out
            return wrapped

        def read(orig):
            def wrapped(store, *a, **kw):
                t0 = time.time()
                try:
                    return orig(store, *a, **kw)
                finally:
                    if spans._cur is not None:
                        spans._cur["read_s"] += time.time() - t0
            return wrapped

        def maintenance(orig):
            def wrapped(store, *a, **kw):
                t0 = time.time()
                try:
                    return orig(store, *a, **kw)
                finally:
                    spans.maintenance_s.append(time.time() - t0)
            return wrapped

        def build_robots(orig):
            # run_crawl caches and counts the rules table right after this
            # call; doing both here puts the work inside the span (the later
            # cache()/count() then hit the cache)
            def wrapped(*a, **kw):
                t0 = time.time()
                df = orig(*a, **kw).cache()
                df.count()
                spans.robots_build_s.append(time.time() - t0)
                return df
            return wrapped

        self._patch(crawl, "run_round", run_round)
        self._patch(crawl, "build_robots_df", build_robots)
        self._patch(SnapshotStore, "begin_commit", begin_commit)
        self._patch(SnapshotStore, "finish_commit", finish_commit)
        self._patch(SnapshotStore, "read", read)
        self._patch(SnapshotStore, "compact", maintenance)

    def uninstall(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)

    def kept(self, round_no: int) -> str:
        return os.path.join(self.keep_dir, f"r{round_no}")

    def phases(self, r: dict) -> dict:
        return {
            "pipeline_s": r["t_begin"] - r["t0"],
            "stats_s": r["t_finish_in"] - r["t_begin"],
            "commit_wait_s": r["t_finish_out"] - r["t_finish_in"],
            "tail_s": r["t_end"] - r["t_finish_out"],
        }


def _round_dirs_size(store, round_no: int) -> tuple[int, int]:
    files = size = 0
    prefix = f"r{round_no}_"
    for dirs in store.manifest()["tables"].values():
        for rel in dirs:
            if rel.split("/", 1)[1].startswith(prefix):
                for d, _, names in os.walk(os.path.join(store.root, rel)):
                    for n in names:
                        if not n.startswith((".", "_")):
                            files += 1
                            size += os.path.getsize(os.path.join(d, n))
    return files, size


# -- event log ------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every (possibly rolled) log file under log_dir."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            events.extend(json.loads(line) for line in f if line.strip())
    return events


# SQL metric the Arrow/pandas UDF operators record per task
PYTHON_TIME_METRICS = ("time to run Python workers",)


def spark_per_round(events: list[dict], rounds: list[dict], cores: int) -> list[dict]:
    """Jobs, stages, tasks, executor and Python-worker time, shuffle bytes,
    task skew and busy share of each round span."""
    jobs, stages, tasks = [], [], []
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append(e["Submission Time"] / 1000)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            if "Submission Time" in si and "Completion Time" in si:
                stages.append(
                    (si["Submission Time"] / 1000, si["Completion Time"] / 1000,
                     (si["Stage ID"], si["Stage Attempt ID"]))
                )
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            py_ms = sum(
                int(a.get("Update", 0))
                for a in ti.get("Accumulables", [])
                if a.get("Name") in PYTHON_TIME_METRICS
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            tasks.append(
                {
                    "launch": ti["Launch Time"] / 1000,
                    "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1000,
                    "stage": (e["Stage ID"], e["Stage Attempt ID"]),
                    "run_s": tm.get("Executor Run Time", 0) / 1000,
                    "py_s": py_ms / 1000,
                    "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                }
            )
    out = []
    for r in rounds:
        lo, hi = r["t0"], r["t_end"]
        wall = hi - lo
        rt = [t for t in tasks if lo <= t["launch"] <= hi]
        rs = [s for s in stages if lo <= s[0] <= hi]
        skew = 1.0
        if rs:
            longest = max(rs, key=lambda s: s[1] - s[0])[2]
            durs = [t["dur"] for t in rt if t["stage"] == longest]
            med = statistics.median(durs) if durs else 0
            if med > 0:
                skew = max(durs) / med
        executor_s = sum(t["run_s"] for t in rt)
        out.append(
            {
                "jobs": sum(1 for j in jobs if lo <= j <= hi),
                "stages": len(rs),
                "tasks": len(rt),
                "executor_s": executor_s,
                "python_worker_s": sum(t["py_s"] for t in rt),
                "shuffle_mb": sum(t["shuffle_b"] for t in rt) / 1e6,
                "task_skew": skew,
                "busy_share": executor_s / (wall * cores),
            }
        )
    return out


# -- layer replay ---------------------------------------------------------

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(make_df) -> float:
    t0 = time.time()
    _noop(make_df())
    return time.time() - t0


def replay(state_dir: str, kept: str, pages, cfg, metrics: list[dict]) -> tuple[dict, list[str]]:
    """Replay the largest round of a finished crawl through each layer's
    public operator. The round's frontier and seen set are read by time
    travel from `kept` (the store as the round found it), the seen set after
    it from the finished store; each layer's input is materialized untimed
    and only the operator itself is timed."""
    from pyspark.sql import functions as F

    from cis455crawler_spark.functions.fetch import route_fetch
    from cis455crawler_spark.functions.html import parse_page_udf
    from cis455crawler_spark.functions.robots import build_robots_df, crawl_allowed
    from cis455crawler_spark.functions.text import bind_once
    from cis455crawler_spark.functions.urls import (
        host_of,
        resolve_base_parts,
        resolve_href,
        sha1_hex,
        url_hash_bucket,
    )
    from cis455crawler_spark.operators.dedup import anti_join_seen
    from cis455crawler_spark.operators.scheduler import host_budget, pop_host_batches
    from cis455crawler_spark.sources.tables import SnapshotStore

    def url_cols(df):
        df = df.withColumn("url_hash", sha1_hex("url")).withColumn("host", host_of("url"))
        return df.withColumn("bucket", url_hash_bucket("url_hash", cfg.num_buckets))

    big = max(metrics, key=lambda m: m["urls_in"])
    r = big["round"]
    k = metrics.index(big) + 1  # the round's place in the pass, as the gate names it
    spark = pages.sparkSession
    before = SnapshotStore(spark, kept(r))
    frontier = before.read("frontier", as_of_round=r - 1)
    seen_before = before.read("seen", as_of_round=r - 1)
    seen_after = SnapshotStore(spark, state_dir).read("seen", as_of_round=r)
    if frontier is None or seen_after is None or (seen_before is None and r > 1):
        raise RuntimeError(f"round {r}'s inputs are no longer time-travel-readable")
    robots = build_robots_df(spark, pages).cache()
    robots.count()
    caches = [robots]

    def held(df):
        """Cache and count a layer's input, untimed."""
        df = df.cache()
        caches.append(df)
        return df, df.count()

    out: dict[str, float] = {}
    raw, n_raw = held(url_cols(frontier.groupBy("url").agg(F.min("depth").alias("depth"))))

    # operators.dedup: the seen anti-join
    out["dedup.replay_s"] = _timed(lambda: anti_join_seen(raw, seen_before))
    fresh, n_fresh = held(anti_join_seen(raw, seen_before))
    out["dedup.seen_rows"] = seen_before.count() if seen_before is not None else 0
    out["dedup.fresh_ratio"] = n_fresh / max(n_raw, 1)

    # functions.robots: broadcast rules join + quirk predicate (the rules
    # table is the cached one the set-up built)

    def robots_gate():
        return fresh.join(F.broadcast(robots), "host", "left").withColumn(
            "allowed", crawl_allowed(F.col("url"), F.col("has_robots"), F.col("disallow"))
        )

    out["robots.replay_s"] = _timed(robots_gate)
    cand, _ = held(robots_gate())
    ok, n_ok = held(
        cand.filter(F.col("allowed"))
        .withColumn("budget", host_budget(F.col("crawl_delay"), cfg.round_duration_s))
        .select("url", "url_hash", "host", "bucket", "depth", "budget")
    )
    n_denied = n_fresh - n_ok
    out["robots.denied_ratio"] = n_denied / max(n_fresh, 1)

    # operators.scheduler: the salted per-host politeness pop
    def pop():
        sched, deferred = pop_host_batches(ok, budget_col="budget", salt_buckets=cfg.salt_buckets)
        return sched.select("url", F.lit(True).alias("s")).unionByName(
            deferred.select("url", F.lit(False).alias("s")))

    out["pop.replay_s"] = _timed(pop)
    scheduled, n_sched = held(
        pop_host_batches(ok, budget_col="budget", salt_buckets=cfg.salt_buckets)[0].drop("budget"))
    out["pop.scheduled_ratio"] = n_sched / max(n_ok, 1)

    # functions.fetch: the pages join + status/MIME/size routing
    def fetch():
        return scheduled.join(
            pages.select("url", "warc_ts", "html", "lang"), "url", "left"
        ).withColumn("action", route_fetch("html", "url", max_content_bytes=cfg.max_content_bytes))

    out["fetch.replay_s"] = _timed(fetch)
    routed, _ = held(fetch())
    hits = routed.agg(
        F.count("html").alias("n"),
        F.sum(F.length("html")).alias("b"),
        F.sum(F.when(F.col("action") == "parse", F.length("html"))).alias("pb"),
    ).first()
    out["fetch.hit_ratio"] = hits["n"] / max(n_sched, 1)
    out["fetch.html_mb"] = (hits["b"] or 0) / 1e6

    # functions.html: the Arrow parse kernel over the parse-routed bodies
    to_parse, parse_n = held(
        routed.filter(F.col("action") == "parse").select("url", "depth", "html"))
    out["parse.replay_s"] = _timed(lambda: to_parse.select(parse_page_udf("html")))
    out["parse.pages"] = parse_n
    out["parse.mb_per_s"] = (hits["pb"] or 0) / 1e6 / out["parse.replay_s"]

    # functions.urls: href resolution + explode + dedup + anti-join
    hrefs, _ = held(
        to_parse.select("url", "depth", parse_page_udf("html")["hrefs"].alias("hrefs")))

    def links():
        resolved = bind_once(
            resolve_base_parts(F.col("url")),
            lambda rb: F.filter(
                F.transform(F.col("hrefs"), lambda h: resolve_href(F.col("url"), h, parts=rb)),
                lambda x: x.isNotNull(),
            ),
        )
        exploded = hrefs.select(
            F.explode(resolved).alias("url"), (F.col("depth") + 1).alias("depth"))
        grouped = url_cols(exploded.groupBy("url").agg(F.min("depth").alias("depth")))
        return anti_join_seen(grouped, seen_after)

    out["links.replay_s"] = _timed(links)
    extracted = hrefs.select(F.sum(F.size("hrefs"))).first()[0] or 0
    out["links.per_page"] = extracted / max(parse_n, 1)
    out["links.fresh_ratio"] = links().count() / max(extracted, 1)

    for df in caches:
        df.unpersist()

    # the replay recomputes the round: its counts must be the round's own
    bad = []
    for name, got, want in (
        ("scheduled", n_sched, big["scheduled"]),
        ("robots_denied", n_denied, big["robots_denied"]),
        ("parsed_pages", parse_n, big["parsed_pages"]),
    ):
        if got != want:
            bad.append(f"crawl round {k}: replay {name} {got} != {want} (engine round {r})")
    return out, bad


# -- the traced run -------------------------------------------------------

def _median_of(rows: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in rows)


def traced_run(w, inputs, seeds, work, cores) -> dict:
    """Warm-up round, traced pass, replay and an untraced pass in one
    session with the event log on, then the crawl's first round at
    local[1]."""
    log_dir = os.path.join(work, "eventlog")
    state = os.path.join(work, "traced")
    spans = Spans(os.path.join(work, "kept"))
    stage_s: dict[str, float] = {}
    t_stage = time.time()
    spark = harness.start_session(work, cores, event_log=log_dir)
    try:
        pages = harness.load_pages(spark, inputs.pages, cores)
        harness.build_preload(spark, w, seeds, inputs)
        warm = harness.warm_up(spark, w, pages, seeds, inputs, work)
        spans.install()
        try:
            traced = harness.run_pass(spark, w, pages, seeds, inputs, state)
        finally:
            spans.uninstall()
        stage_s["traced"] = time.time() - t_stage
        t_stage = time.time()
        layers: dict[str, float] = {}
        if traced["metrics"]:
            layers, replay_bad = replay(
                state, spans.kept, pages, w.config(), traced["metrics"])
            traced["bad"].extend(replay_bad)
        stage_s["replay"] = time.time() - t_stage
        t_stage = time.time()
        base = harness.run_pass(
            spark, w, pages, seeds, inputs, os.path.join(work, "base"), rounds=1)
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    finally:
        spark.stop()
    stage_s["untraced"] = time.time() - t_stage
    t_stage = time.time()

    spark = harness.start_session(work, 1)
    try:
        pages = harness.load_pages(spark, inputs.pages, 1)
        one = harness.run_pass(spark, w, pages, seeds, inputs, os.path.join(work, "one"), rounds=1)
    finally:
        spark.stop()
    stage_s["one_core"] = time.time() - t_stage

    passes = [warm, base, traced, one]
    metrics: dict[str, tuple[float, str]] = {}
    if all(p["metrics"] for p in passes):
        rounds = spans.rounds
        phase_rows = [spans.phases(r) for r in rounds]
        for k, (m, ph) in enumerate(zip(traced["metrics"], phase_rows), 1):
            if abs(sum(ph.values()) - m["wall_s"]) > 0.05 + 0.02 * m["wall_s"]:
                traced["bad"].append(
                    f"crawl round {k}: phase spans sum {sum(ph.values()):.3f} s "
                    f"!= wall_s {m['wall_s']:.3f} s (engine round {m['round']})")
        for k in ("pipeline_s", "stats_s", "commit_wait_s", "tail_s"):
            metrics[f"round.{k}"] = (_median_of(phase_rows, k), "s")
        metrics["round.maintenance_s"] = (
            sum(spans.maintenance_s) / len(rounds), "s")

        sp = spark_per_round(read_event_log(log_dir), rounds, cores)
        for k, unit in (
            ("jobs", "count"), ("stages", "count"), ("tasks", "count"),
            ("executor_s", "s"), ("python_worker_s", "s"), ("shuffle_mb", "MB"),
            ("task_skew", "ratio"), ("busy_share", "ratio"),
        ):
            metrics[f"spark.{k}"] = (_median_of(sp, k), unit)

        metrics["store.read_s"] = (_median_of(rounds, "read_s"), "s")
        metrics["store.write_files"] = (_median_of(rounds, "write_files"), "count")
        metrics["store.write_mb"] = (_median_of(rounds, "write_bytes") / 1e6, "MB")
        metrics["robots.build_s"] = (statistics.median(spans.robots_build_s), "s")

        units = {"mb_per_s": "MB/s", "_s": "s", "_rows": "count", "_ratio": "ratio",
                 "_mb": "MB", "pages": "count", "per_page": "count"}
        for k, v in layers.items():
            metrics[k] = (v, next(u for suf, u in units.items() if k.endswith(suf)))

        # every pass runs after the warm-up round and schedules the same
        # URLs per round (the oracle gate checked that), so throughput
        # ratios are wall ratios; the untraced and one-core passes run
        # only the first round, so all three compare on that round
        base_s = base["metrics"][0]["wall_s"]
        metrics["spark.scaling_eff_1_to_n"] = (
            one["metrics"][0]["wall_s"] / base_s / cores, "ratio")
        metrics["trace.overhead_share"] = (
            traced["metrics"][0]["wall_s"] / base_s - 1, "ratio")
    # replay and phase mismatches fail the traced pass's rounds they name
    if traced["metrics"]:
        traced["failed"] = harness.failed_rounds(traced["bad"])
    return {
        "passes": passes,
        "metrics": metrics,
        "env": {
            "java": java,
            "stage_s": stage_s,
            "pass_wall_s": {"untraced": base.get("wall_s"), "traced": traced.get("wall_s"),
                            "one_core": one.get("wall_s")},
        },
    }
