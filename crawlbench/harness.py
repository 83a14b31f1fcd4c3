"""Session, set-up and one crawl pass: the pieces the untraced and the
traced runs share."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time
import traceback

from crawlbench.workloads import PRELOAD_FORMAT, PRELOAD_SEGMENT, check_generation

# -- environment ----------------------------------------------------------

def git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs since boot, from /proc/stat.
    Steal is time a virtual CPU was ready but the host ran something
    else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of every descendant of root_pid (the Spark JVM and
    the Python workers it forks), read from /proc.

    The JVM starts every child (Hadoop's chmod calls, the Python daemon)
    with posix_spawn, whose child shares the JVM's memory until it execs
    and so shows the JVM's whole resident set a second time. A child still
    running the JVM's own executable is such a child and is skipped."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(pid, root_pid) for pid in children.get(root_pid, [])]
    while todo:
        pid, ppid = todo.pop()
        exe = _exe(pid)
        if exe is not None and exe.endswith("/java") and exe == _exe(ppid):
            continue
        todo.extend((c, pid) for c in children.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Background sampler of the peak resident memory of this process's
    descendants."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- session and set-up ---------------------------------------------------

def start_session(work: str, cores: int, event_log: str | None = None):
    from cis455crawler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keeps get_spark's collector and moves the temp dir into the
        # checkout; the heap starts at its full size, so the collector's
        # adaptive resizing does not differ from run to run
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Xms3g -Djava.io.tmpdir={tmp}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log,
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(cores=cores, app_name="crawlbench", extra_conf=conf)


def stop_jvm() -> None:
    """End the gateway JVM that the sessions ran on and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def load_pages(spark, pq_path: str, cores: int):
    """Pages read + persist, before run_crawl is called (run_crawl builds
    its own robots table inside the crawl's wall)."""
    from pyspark import StorageLevel

    # pre-partitioned on the join key and DISK_ONLY, as bench.py does
    pages = spark.read.parquet(pq_path).repartition(2 * cores, "url").persist(
        StorageLevel.DISK_ONLY
    )
    pages.count()
    return pages


# -- one pass of a workload -----------------------------------------------

def commit_preload(spark, store, w, n: int, num_buckets: int) -> None:
    """Commit n synthetic seen keys as round 1, through the store's own
    commit path, before the crawl resumes. Key k sits on corpus host
    k % hosts (workloads.preload_url)."""
    from pyspark.sql import functions as F

    from cis455crawler_spark.functions.urls import sha1_hex, url_hash_bucket
    from cis455crawler_spark.sources.corpus import host_name

    hosts = F.array(*[F.lit(host_name(i)) for i in range(w.hosts)])
    host = F.element_at(hosts, (F.col("id") % w.hosts + 1).cast("int"))
    url = F.format_string(PRELOAD_FORMAT, host, F.col("id"))
    keys = (
        spark.range(n)
        .select(url.alias("url"))
        .select(sha1_hex("url").alias("url_hash"), "url")
        .withColumn("bucket", url_hash_bucket("url_hash", num_buckets))
    )
    store.commit_round(
        1,
        appends={"seen": keys.repartition(num_buckets, "bucket")},
        partition_by={"seen": ["bucket"]},
        extra={"phase": "preload"},
    )


def _seen_hashes(store) -> list[str]:
    from pyspark.sql import functions as F

    seen = store.read("seen")
    if seen is None:
        return []
    seen = seen.filter(~F.col("url").contains(PRELOAD_SEGMENT))
    return [r[0] for r in seen.select("url_hash").collect()]


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def build_preload(spark, w, seeds, inputs) -> None:
    """Commit the round-0 seeds and the seen preload into the store that
    every pass of a preload workload copies. It is an input: built once
    per corpus seed into the input cache, outside every timing."""
    from cis455crawler_spark.plans.crawl import init_crawl
    from cis455crawler_spark.sources.tables import SnapshotStore

    if not w.preload_factor or os.path.exists(inputs.preload_store):
        return
    cfg = w.config()
    tmp = f"{inputs.preload_store}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    store = SnapshotStore(spark, tmp)
    init_crawl(spark, store, seeds, cfg)
    commit_preload(spark, store, w, inputs.expected["preload"], cfg.num_buckets)
    os.replace(tmp, inputs.preload_store)


def run_pass(spark, w, pages, seeds, inputs, state_dir, rounds=None, warm=False) -> dict:
    """One gen-1 crawl (resumed over the seen preload, for preload
    workloads) and its oracle verdict. Only one run_crawl call is timed:
    its rounds are "timed", its wall "wall_s" and its start "t_timed".
    With warm=True the crawl first runs its first round alone, untimed,
    and the timed call resumes it for the remaining rounds."""
    from cis455crawler_spark.plans.crawl import run_crawl

    cfg = w.config(rounds)
    resume = bool(w.preload_factor)
    if resume:
        shutil.copytree(inputs.preload_store, state_dir)
    want = inputs.expected["gen1"]
    n_want = len(want["rounds"]) if rounds is None else rounds
    try:
        if warm:
            run_crawl(spark, pages, seeds, state_dir, w.config(1), resume=resume)
            resume = True
        t0 = time.time()
        store, metrics = run_crawl(spark, pages, seeds, state_dir, cfg, resume=resume)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return {"metrics": [], "attempted": n_want, "failed": n_want,
                "bad": [f"run_crawl raised ({n_want} rounds)"]}
    wall = time.time() - t0
    if rounds is None:
        bad = check_generation(metrics, want, _seen_hashes(store))
    else:  # a truncated crawl: only its rounds can be compared
        bad = check_generation(metrics, {**want, "rounds": want["rounds"][:rounds]}, None)
    return {
        "metrics": metrics,
        # a resumed run_crawl also returns the rounds committed before it
        "timed": metrics[1:] if warm else metrics,
        "t_timed": t0,
        "wall_s": wall,
        "attempted": max(len(metrics), n_want),
        "failed": failed_rounds(bad),
        "bad": bad,
        "state_bytes": _dir_bytes(state_dir),
    }


def failed_rounds(bad: list[str]) -> int:
    """Distinct rounds named by "crawl round k: ..." mismatch lines."""
    return len({b.split(":")[0] for b in bad})


def throughput(p: dict) -> float:
    return sum(m["scheduled"] + m["deduped"] for m in p["timed"]) / p["wall_s"]


def warm_up(spark, w, pages, seeds, inputs, work: str) -> dict:
    """One untimed single-round pass before the traced ones. The first
    round of a session pays one-time costs (class loading, code generation,
    JIT compilation, the Python workers' start): on a 4-vCPU box it took
    about twice as long as a warm round, and it was the noisiest part of a
    run."""
    state = os.path.join(work, "warm_up")
    try:
        return run_pass(spark, w, pages, seeds, inputs, state, rounds=1)
    finally:
        shutil.rmtree(state, ignore_errors=True)


def measure(spark, w, pages, seeds, inputs, work: str, seconds: float) -> list[dict]:
    """Closed loop: passes run back to back, each in a fresh state dir,
    until the next one would overrun `seconds` (at least one pass). Each
    pass runs its first round as an untimed warm-up (see warm_up), so a
    pass times the rounds after the first."""
    passes: list[dict] = []
    t_start = time.time()
    while True:
        state = os.path.join(work, f"state_{len(passes)}")
        passes.append(run_pass(spark, w, pages, seeds, inputs, state, warm=True))
        shutil.rmtree(state, ignore_errors=True)
        per_pass = (time.time() - t_start) / len(passes)
        if time.time() - t_start + per_pass > seconds or not passes[-1]["metrics"]:
            break
    return passes
