"""SnapshotStore — versioned, atomically-committed state tables on parquet.

This is the sandbox stand-in for Iceberg tables (no Iceberg runtime jars are
available in this container). Semantics mirror what the design maps to on a
real cluster:

  * every crawl round commits ONE new snapshot: appended delta dirs for
    append-tables (seen/parsed/metrics) and a replacement dir for the
    frontier, then a manifest JSON swapped in atomically via os.replace —
    readers only ever see fully-committed rounds (Iceberg snapshot isolation).
  * resume = read the latest manifest; orphan dirs from a crashed round are
    simply unreferenced (Iceberg's uncommitted data files).
  * every committed round's table state is retained in the manifest
    (`snapshots`), so `read(table, as_of_round=k)` time-travels to any
    still-retained round (Iceberg `VERSION AS OF`); `expire_snapshots`
    prunes old snapshot entries and deletes data dirs no retained snapshot
    references (Iceberg expire_snapshots + remove_orphan_files — and the
    only mechanism that reclaims replaced frontier dirs and dropped tables,
    e.g. the seen set a recrawl resets; a retain-all store keeps time
    travel into the previous generation).
  * the crawl writes every table as plain files; seen carries its url-hash
    bucket id as a data column, not as `bucket=` dirs. A caller may still
    write a dir hive-partitioned (`partition_by`); reads take each dir with
    its own basePath and union them, so plain and partitioned dirs of one
    table read as one frame. The frontier anti-join sees no layout: Spark
    broadcasts the seen keys below autoBroadcastJoinThreshold and shuffles
    both sides above it (ROADMAP item 4).

It replaces the reference's checkpoint spool machinery
(/root/reference/Crawler/src/com/datformers/servlets/WorkerServlet.java:389-473
and XPathCrawler.java:82-110) — the whole HTTP pushdata path collapses into
snapshot commit + read.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def _walk_files(root: str):
    for _, _, files in os.walk(root):
        yield from files


class SnapshotStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.root, "manifest.json")

    def manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"round": -1, "tables": {}, "history": []}
        with open(self._manifest_path) as f:
            return json.load(f)

    def current_round(self) -> int:
        return self.manifest()["round"]

    # -- reads ------------------------------------------------------------
    def read(self, table: str, as_of_round: int | None = None) -> DataFrame | None:
        """Read a table at the current snapshot, or — with `as_of_round` —
        at the newest retained snapshot whose round <= as_of_round (Iceberg
        `VERSION AS OF`). Returns None when the table doesn't exist at that
        snapshot or the snapshot has been expired/compacted away."""
        if as_of_round is None:
            dirs = self.manifest()["tables"].get(table, [])
        else:
            dirs = self._dirs_as_of(table, as_of_round) or []
        return self._read_dirs(dirs)

    def _read_dirs(self, dirs: list[str]) -> DataFrame | None:
        paths = [os.path.join(self.root, d) for d in dirs]
        paths = [p for p in paths if os.path.exists(p)]
        # a 0-row write can leave a dir with only _SUCCESS (no part files,
        # no schema) — treat it as an empty table, not a read error
        paths = [
            p
            for p in paths
            if any(not f.startswith(("_", ".")) for f in _walk_files(p))
        ]
        if not paths:
            return None
        if len(paths) == 1:
            return self.spark.read.parquet(paths[0])
        # delta dirs may be hive-partitioned individually; read each with its
        # own basePath and union (Iceberg resolves this via its own manifests)
        dfs = [self.spark.read.option("basePath", p).parquet(p) for p in paths]
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _dirs_as_of(self, table: str, round_no: int) -> list[str] | None:
        """Table dir list at the newest retained snapshot <= round_no. None
        when no snapshot that old is retained OR the table has no entry in
        it (never created yet, or scrubbed by a later compact())."""
        snaps = self.manifest().get("snapshots", {})
        eligible = [int(r) for r in snaps if int(r) <= round_no]
        if not eligible:
            return None
        return snaps[str(max(eligible))].get(table)

    # -- commit -----------------------------------------------------------
    def begin_commit(
        self,
        round_no: int,
        appends: dict[str, DataFrame] | None = None,
        replaces: dict[str, DataFrame | None] | None = None,
        partition_by: dict[str, list[str]] | None = None,
    ):
        """Phase 1 of a two-phase commit: kick off every Spark table write
        on background driver threads and return a handle. Nothing becomes
        visible until finish_commit swaps the manifest — callers use the
        overlap to run driver-side work (e.g. the metrics aggregate)
        concurrently with the writes. A `replaces` entry of None drops that
        table from the new snapshot (its dirs stay until expire_snapshots)."""
        from concurrent.futures import ThreadPoolExecutor

        partition_by = partition_by or {}
        pool = ThreadPoolExecutor(max_workers=4)
        attempted: list[str] = []  # every dir a write ever targeted, for
        # failure cleanup — only the manifest makes data visible, so any of
        # these can be rmtree'd if the commit aborts

        def _write(table: str, df: DataFrame | None) -> str | None:
            if df is None:
                return None
            rel = f"{table}/r{round_no}_{uuid.uuid4().hex[:8]}"
            attempted.append(rel)
            writer = df.write.mode("overwrite")
            if table in partition_by:
                writer = writer.partitionBy(*partition_by[table])
            writer.parquet(os.path.join(self.root, rel))
            return rel

        afuts = [(t, pool.submit(_write, t, df)) for t, df in (appends or {}).items()]
        rfuts = [(t, pool.submit(_write, t, df)) for t, df in (replaces or {}).items()]
        return (pool, round_no, afuts, rfuts, attempted)

    def rows_written(self, handle, table: str) -> int:
        """Wait for `table`'s phase-1 write and return its row count, summed
        from the parquet footers of the files it wrote (no Spark job; a
        0-row write that left only _SUCCESS counts 0). Iceberg's analogue
        is the snapshot summary's added-records count."""
        import pyarrow.parquet as pq

        _, _, afuts, rfuts, _ = handle
        rel = next(f for t, f in afuts + rfuts if t == table).result()
        if rel is None:
            return 0
        return sum(
            pq.read_metadata(os.path.join(d, f)).num_rows
            for d, _, files in os.walk(os.path.join(self.root, rel))
            for f in files
            if not f.startswith(("_", "."))
        )

    def finish_commit(
        self,
        handle,
        small_appends: dict | None = None,
        extra: dict | None = None,
    ) -> None:
        """Phase 2: wait for the writes, write driver-side small tables,
        then swap the manifest atomically.

        If any background write fails: cancel the not-yet-started siblings,
        WAIT for the in-flight ones (can't delete under a running Spark
        write), remove every dir this commit attempted, and re-raise — no
        orphan data dirs accumulate (only the manifest is authoritative, so
        this is cleanup, not correctness)."""
        pool, round_no, afuts, rfuts, attempted = handle
        try:
            append_rels = [(t, f.result()) for t, f in afuts]
            replace_rels = [(t, f.result()) for t, f in rfuts]
        except BaseException:
            for _, f in afuts + rfuts:
                f.cancel()
            pool.shutdown(wait=True)
            for rel in attempted:
                shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
            raise
        else:
            pool.shutdown(wait=False)

        m = self.manifest()
        tables = dict(m["tables"])
        for table, rel in append_rels:
            tables.setdefault(table, []).append(rel)
        for table, pdf in (small_appends or {}).items():
            tables.setdefault(table, []).append(self._write_small_dir(round_no, table, pdf))
        for table, rel in replace_rels:
            if rel is None:
                tables.pop(table, None)
            else:
                tables[table] = [rel]

        new_manifest = {
            "round": round_no,
            "tables": tables,
            "history": m.get("history", []) + [{"round": round_no, **(extra or {})}],
            # per-round table states for time-travel reads; pruned by
            # expire_snapshots (manifest growth is O(rounds x tables) dir
            # names — the Iceberg metadata-tree analogue, not data)
            "snapshots": {**m.get("snapshots", {}), str(round_no): tables},
        }
        self._write_manifest(new_manifest)

    def _write_manifest(self, m: dict) -> None:
        """The one commit point: write a temp file, then os.replace it over
        manifest.json (atomic on POSIX) — readers see the old manifest or
        the new one, never a partial file."""
        tmp = self._manifest_path + f".tmp.{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path)

    def _write_small_dir(self, round_no: int, table: str, pdf) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rel = f"{table}/r{round_no}_{uuid.uuid4().hex[:8]}"
        d = os.path.join(self.root, rel)
        os.makedirs(d, exist_ok=True)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(d, "part-0.parquet"),
        )
        return rel

    def commit_round(
        self,
        round_no: int,
        appends: dict[str, DataFrame] | None = None,
        replaces: dict[str, DataFrame | None] | None = None,
        partition_by: dict[str, list[str]] | None = None,
        extra: dict | None = None,
        small_appends: dict | None = None,
    ) -> None:
        """Write data dirs first (Spark writes concurrent across driver
        threads), swap the manifest last (atomic commit).

        small_appends: {table: pandas.DataFrame} — metrics-sized tables
        written driver-side with pyarrow (no Spark job per tiny table).
        """
        handle = self.begin_commit(round_no, appends, replaces, partition_by)
        self.finish_commit(handle, small_appends=small_appends, extra=extra)

    # -- maintenance ------------------------------------------------------
    def _swap_tables(self, tables: dict, old_dirs: list[str]) -> None:
        m = self.manifest()
        # maintenance deletes dirs immediately, so scrub any retained
        # snapshot that referenced them: a table whose dir-list loses a
        # member would time-travel to PARTIAL data — drop that table from
        # the affected snapshot instead (like Iceberg, compaction trades
        # pre-compaction time-travel for reclaimed space)
        gone = set(old_dirs)
        snapshots = {
            r: {t: ds for t, ds in snap.items() if not (set(ds) & gone)}
            for r, snap in m.get("snapshots", {}).items()
        }
        # the current state stays travel-able under its own round number
        snapshots[str(m["round"])] = tables
        new_manifest = {**m, "tables": tables, "snapshots": snapshots}
        self._write_manifest(new_manifest)
        for d in old_dirs:
            shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Retain only the newest `keep_last` snapshot entries (the current
        round's state is always kept) and delete every data dir that no
        retained snapshot references — Iceberg expire_snapshots +
        remove_orphan_files. This is what reclaims replaced frontier dirs,
        dropped tables and pre-compaction seen/parsed deltas. Returns the
        deleted dirs.

        Must not run concurrently with an in-flight begin_commit: phase-1
        write dirs are on disk but not yet in any manifest, so they would
        look orphaned. The crawl loop calls this between rounds."""
        m = self.manifest()
        snaps = m.get("snapshots", {})
        keep_rounds = sorted((int(r) for r in snaps), reverse=True)[: max(keep_last, 1)]
        kept = {str(r): snaps[str(r)] for r in keep_rounds}
        kept[str(m["round"])] = m["tables"]
        referenced = {d for snap in kept.values() for ds in snap.values() for d in ds}
        # candidate dirs: every child dir on disk (<root>/<table>/<dir>) of
        # every table any snapshot named before pruning, dropped ones too
        doomed: list[str] = []
        for table in sorted({t for snap in [*snaps.values(), m["tables"]] for t in snap}):
            tdir = os.path.join(self.root, table)
            if not os.path.isdir(tdir):
                continue
            for child in sorted(os.listdir(tdir)):
                rel = f"{table}/{child}"
                if rel not in referenced:
                    doomed.append(rel)
        new_manifest = {**m, "snapshots": kept}
        self._write_manifest(new_manifest)
        for rel in doomed:
            shutil.rmtree(os.path.join(self.root, rel), ignore_errors=True)
        return doomed

    def compact(self, table: str) -> None:
        """Rewrite an append-table's many delta dirs into one plain dir
        (Iceberg rewrite_data_files). Commits a new manifest; old dirs
        removed after."""
        df = self.read(table)
        if df is None:
            return
        m = self.manifest()
        old_dirs = list(m["tables"][table])
        rel = f"{table}/compact_{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(os.path.join(self.root, rel))
        tables = dict(m["tables"])
        tables[table] = [rel]
        self._swap_tables(tables, old_dirs)


def snapshot_diff(g1, g2, key_col: str = "url", fp1_col: str = "fp1", fp2_col: str = "fp2"):
    """Classify the delta between two snapshot generations by key +
    content fingerprint: full-outer join on the key, then

        added     key only in g2        removed    key only in g1
        changed   fingerprints differ   unchanged  fingerprints equal

    The inter-crawl change report (the recrawl scheduler's input). Both
    inputs must be key-unique (one fingerprint per key per generation) —
    duplicate keys multiply full-outer rows and mis-classify. Fingerprints
    MAY be NULL (e.g. a fetch that stored no digest): presence is tracked
    by explicit per-side flags, never by fp NULL-ness, and fingerprint
    comparison is null-safe (NULL vs NULL -> unchanged, NULL vs value ->
    changed)."""
    from pyspark.sql import functions as F

    a = g1.select(F.col(key_col), F.col(fp1_col)).withColumn("_in1", F.lit(True))
    b = g2.select(F.col(key_col), F.col(fp2_col)).withColumn("_in2", F.lit(True))
    j = a.join(b, key_col, "full_outer")
    status = (
        F.when(F.col("_in1").isNull(), F.lit("added"))
        .when(F.col("_in2").isNull(), F.lit("removed"))
        .when(~F.col(fp1_col).eqNullSafe(F.col(fp2_col)), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col(key_col), status.alias("status"))
