"""WARC ingestion — Common-Crawl-style WARC files -> the input_hint pages
table (url, warc_ts, html, text, lang).

The north-rule input is an Iceberg table of Common-Crawl-style pages; the
upstream data for such a table ships as WARC (ISO 28500) files, so this is
the ingest seam a reference user needs to feed the engine from real crawl
archives. Stdlib-only parse (no warcio in the container).

Scale shape: `spark.read.format("binaryFile")` gives one task per file —
Common Crawl publishes ~1 GB .warc.gz segments in the hundreds of thousands
per snapshot, so file-level parallelism saturates any executor count without
a splittable decoder (100 TB / 1 GB = 100k tasks). Records stream out of
mapInPandas in bounded Arrow batches; gzip input decodes MEMBER-AT-A-TIME
(Common Crawl gzips one record per member), so peak per-task memory is the
compressed file plus one in-flight record — never the whole decompressed
archive.
"""

from __future__ import annotations

import zlib
from datetime import datetime, timezone
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_CRLF = b"\r\n"


def _parse_headers(block: bytes) -> dict[str, str]:
    headers: dict[str, str] = {}
    for line in block.split(_CRLF):
        if b":" in line:
            k, v = line.split(b":", 1)
            headers[k.strip().decode("latin-1").lower()] = v.strip().decode("latin-1")
    return headers


def _record_from(headers: dict[str, str], payload: bytes) -> dict | None:
    """One framed WARC record -> response dict, or None for non-response /
    URI-less records. Tolerates a missing HTTP message (body = payload)."""
    if headers.get("warc-type") != "response":
        return None
    url = headers.get("warc-target-uri")
    if not url:
        return None
    ts_raw = headers.get("warc-date", "")
    try:
        ts = datetime.fromisoformat(ts_raw.replace("Z", "+00:00")).astimezone(
            timezone.utc
        ).replace(tzinfo=None)
    except ValueError:
        ts = None
    status: int | None = None
    content_type = ""
    body = payload
    if payload[:5] == b"HTTP/":  # payload is an HTTP response message
        http_end = payload.find(_CRLF + _CRLF)
        if http_end >= 0:
            status_line, _, rest = payload[:http_end].partition(_CRLF)
            parts = status_line.split()
            if len(parts) >= 2 and parts[1].isdigit():
                status = int(parts[1])
            content_type = _parse_headers(rest).get("content-type", "")
            body = payload[http_end + 4 :]
    return {
        "url": url,
        "warc_ts": ts,
        "http_status": status,
        "content_type": content_type,
        "body": body,
    }


def _drain(buf: bytes) -> tuple[list[dict], bytes, bool]:
    """Parse every COMPLETE record at the head of buf. Returns (records,
    remainder, stop): stop=True on a malformed head (non-WARC prefix or
    unframed record) — the caller halts rather than resyncing
    heuristically. An incomplete trailing record stays in the remainder."""
    out: list[dict] = []
    pos = 0
    n = len(buf)
    while True:
        while buf.startswith(_CRLF, pos):
            pos += 2
        if pos >= n:
            return out, b"", False
        if not buf.startswith(b"WARC/", pos):
            if buf[pos:] == b"\r":  # chunk split inside a separator CRLF: wait
                return out, buf[pos:], False
            if n - pos < 5 and b"WARC/"[: n - pos].startswith(buf[pos:]):
                return out, buf[pos:], False  # possible split prefix: wait
            return out, buf[pos:], True
        hdr_end = buf.find(_CRLF + _CRLF, pos)
        if hdr_end < 0:
            return out, buf[pos:], False  # incomplete headers: wait
        headers = _parse_headers(buf[pos:hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        if length < 0:
            return out, buf[pos:], True  # unframed/negative: cannot advance
        end = hdr_end + 4 + length
        if end > n:
            return out, buf[pos:], False  # incomplete payload: wait
        rec = _record_from(headers, buf[hdr_end + 4 : end])
        if rec is not None:
            out.append(rec)
        pos = end


def iter_warc_records(data: bytes) -> Iterator[dict]:
    """Stream response records out of one WARC file's bytes. Gzip input
    decodes member-at-a-time (zlib wbits=31 + unused_data), so at most the
    compressed bytes plus one record's decompressed bytes are resident —
    the Common Crawl per-record-member layout never materializes the whole
    decompressed archive."""
    if data[:2] == b"\x1f\x8b":

        def chunks() -> Iterator[bytes]:
            # Member-walking decompressor fed BOUNDED compressed slices: no
            # per-member tail copies (a 1 GB archive of 100k per-record
            # members would otherwise memcpy O(members x filesize)), and a
            # corrupt member / trailing garbage ends the stream AFTER the
            # good members' output — matching the plain path's
            # malformed-tail stop semantics. (GzipFile.read would raise on
            # the corrupt member before returning the same call's good
            # bytes.)
            chunk_sz = 1 << 20
            d = zlib.decompressobj(31)
            pos = 0
            pending = b""
            while True:
                if not pending:
                    if pos >= len(data):
                        return  # truncated final member: drained already
                    pending = data[pos : pos + chunk_sz]
                    pos += chunk_sz
                try:
                    out = d.decompress(pending)
                except zlib.error:
                    return  # corrupt member: tolerant stop
                if out:
                    yield out
                if d.eof:  # member done; unused_data starts the next one
                    pending = d.unused_data
                    d = zlib.decompressobj(31)
                else:
                    pending = b""

        source = chunks()
    else:
        source = iter((data,))

    buf = b""
    for chunk in source:
        buf += chunk
        recs, buf, stop = _drain(buf)
        yield from recs
        if stop:
            return


_RECORD_SCHEMA = (
    "url string, warc_ts timestamp, http_status int, "
    "content_type string, html binary"
)
# binaryFile's fixed schema — streaming sources cannot infer it
_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def parse_warc_files(files: DataFrame) -> DataFrame:
    """binaryFile rows (`content` BINARY = one whole .warc/.warc.gz) ->
    framed records. Shared by the batch reader and the streaming ingest
    (which dedups on the raw binaryFile `path` column BEFORE parsing, so
    already-ingested archives are never gunzipped); bodies never pass
    through the driver."""
    batch_rows = 256  # bounded Arrow batches: the stream never materializes

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def flush(recs: list[dict]) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "url": [r["url"] for r in recs],
                    "warc_ts": [r["warc_ts"] for r in recs],
                    "http_status": [r["http_status"] for r in recs],
                    "content_type": [r["content_type"] for r in recs],
                    "html": [r["body"] for r in recs],
                }
            )

        for pdf in batches:
            for blob in pdf["content"]:
                pending: list[dict] = []
                for rec in iter_warc_records(bytes(blob)):
                    pending.append(rec)
                    if len(pending) >= batch_rows:
                        yield flush(pending)
                        pending = []
                if pending:
                    yield flush(pending)

    return files.select("content").mapInPandas(gen, schema=_RECORD_SCHEMA)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files at `path` (glob ok; .warc or .warc.gz) -> DataFrame
    (url STRING, warc_ts TIMESTAMP, http_status INT, content_type STRING,
    html BINARY). One task per file (binaryFile source)."""
    return parse_warc_files(spark.read.format("binaryFile").load(path))


def warc_to_pages(warc_df: DataFrame) -> DataFrame:
    """200-status records -> the input_hint pages schema
    (url, warc_ts, html, text, lang): text via the engine's own
    extract_text_py kernel (the byte-identical-text invariant holds by
    construction), lang via the JVM lang_id heuristic."""
    from ..functions.html import extract_text_udf
    from ..functions.text import lang_id

    with_text = (
        warc_df.where(F.col("http_status") == 200)
        .select("url", "warc_ts", "html")
        .withColumn("text", extract_text_udf("html"))
    )
    return with_text.withColumn("lang", lang_id(F.col("text")))


def stream_warc_ingest(
    spark: SparkSession,
    warc_dir: str,
    state_root: str,
    max_files_per_trigger: int = 1,
) -> int:
    """Continuous Common-Crawl-style ingestion: .warc/.warc.gz files landing
    in `warc_dir` drain as a Structured Streaming file stream
    (Trigger.AvailableNow; one parse task per file within each batch). Each
    micro-batch (a) projects its 200-status records to the input_hint pages
    schema with the engine's own text kernel and APPENDS them to the store's
    `pages` table (an arrival ledger — re-captures of a url append new
    rows), and (b) MERGEs the incremental index state per document, guarded
    by a per-doc warc_ts watermark table (`doc_ts`): a doc's terms are
    replaced only by a capture with warc_ts >= the watermark, so a
    BACKFILLED older archive (the normal Common Crawl segment-backfill case)
    can never regress the index — including past a capture that tokenized to
    zero words, whose watermark survives in doc_ts even though it has no
    term rows. After any batch the index equals a batch rebuild over each
    url's freshest ingested capture — O(batch) merge work per micro-batch.

    Exactly-once is FILE-granular: every commit records its archives'
    paths in a `warc_files` ledger, and already-recorded paths are skipped —
    robust both to foreachBatch's at-least-once replay AND to a deleted /
    non-traveling stream checkpoint (batch ids restarting at 0 cannot cause
    silent skips or double-appends; the path ledger, not the batch id, is
    authoritative). Returns micro-batches COMMITTED this call."""
    from ..streaming.indexing import (
        STATS_TABLE,
        doc_term_stats,
        drain_stream,
        merge_doc_stats,
    )
    from .tables import SnapshotStore

    store = SnapshotStore(spark, state_root)
    committed = [0]

    def _ingest(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        # `batch` is the RAW binaryFile rows — the path check runs on the
        # path column alone, so already-ingested archives are never parsed
        # (and the listing job never gunzips anything). File-granular
        # exactly-once: drop archives some earlier commit already ingested
        # (replay, or re-drain after checkpoint loss). The dedup is a
        # distributed semi-join of the TINY batch-path set against the
        # ledger — the ever-growing ledger is never collected to the driver.
        batch_paths = {r.path for r in batch.select("path").distinct().collect()}
        ledger = store.read("warc_files")
        if ledger is not None and batch_paths:
            paths_probe = spark.createDataFrame(
                [(p,) for p in sorted(batch_paths)], "path string"
            )
            dup = paths_probe.join(ledger, "path", "left_semi").collect()
            batch_paths -= {r.path for r in dup}
        if not batch_paths:
            return
        fresh = batch.filter(F.col("path").isin(*batch_paths))

        # the append job and the stats replace both consume this lineage —
        # uncached, each would re-gunzip + re-parse + re-extract the archives
        pages = warc_to_pages(parse_warc_files(fresh)).cache()
        # one indexed version per url per batch: a single archive can carry
        # several captures of the same url — take the latest warc_ts
        # (md5(html) breaks exact-ts ties deterministically)
        w_url = Window.partitionBy("url").orderBy(
            F.desc("warc_ts"), F.md5("html")
        )
        latest = (
            pages.withColumn("_rn", F.row_number().over(w_url))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            .cache()
        )
        cand = latest.select(
            F.col("url").alias("doc_id"), F.col("warc_ts").alias("_new_ts")
        )
        doc_ts = store.read("doc_ts")
        state = store.read(STATS_TABLE)
        if doc_ts is None:
            winners = cand
        else:
            # watermark lookup prunes to the batch's docs BEFORE aggregating:
            # no corpus-wide shuffle per micro-batch
            old_ts = (
                doc_ts.join(F.broadcast(cand.select("doc_id")), "doc_id", "left_semi")
                .groupBy("doc_id")
                .agg(F.max("warc_ts").alias("_old_ts"))
            )
            winners = (
                cand.join(old_ts, "doc_id", "left")
                .filter(
                    F.col("_old_ts").isNull()
                    | (F.col("_new_ts") >= F.col("_old_ts"))
                )
                .select("doc_id", "_new_ts")
            )
        winner_ids = winners.select("doc_id")
        delta = doc_term_stats(latest, doc_col="url").join(
            F.broadcast(winner_ids), "doc_id", "left_semi"
        )
        merged = merge_doc_stats(state, delta, changed_docs=winner_ids)
        new_watermarks = winners.select(
            "doc_id", F.col("_new_ts").alias("warc_ts")
        )
        new_doc_ts = (
            new_watermarks
            if doc_ts is None
            else doc_ts.join(
                F.broadcast(winner_ids), "doc_id", "left_anti"
            ).unionByName(new_watermarks)
        )
        store.commit_round(
            store.current_round() + 1,
            appends={"pages": pages},
            replaces={STATS_TABLE: merged, "doc_ts": new_doc_ts},
            # the few-row path ledger writes driver-side (pyarrow, no Spark
            # job per tiny table — the metrics/lineage path)
            small_appends={
                "warc_files": pd.DataFrame({"path": sorted(batch_paths)})
            },
        )
        # the ledger accumulates one small dir per batch: fold it every 64
        # commits so the per-batch semi-join scans a handful of files, not
        # O(batches) of them
        if store.current_round() % 64 == 0:
            store.compact("warc_files")
        pages.unpersist()
        latest.unpersist()
        committed[0] += 1

    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINARYFILE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(warc_dir)
    )
    drain_stream(files, _ingest, f"{state_root}/_warc_stream_checkpoint")
    return committed[0]
