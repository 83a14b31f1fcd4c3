"""Deterministic test inputs: the smoke corpus preset, framed WARC archives
(and a distributed WARC export) for the WARC ingest path, and structurally
valid media headers for the multimodal header decoders."""

from __future__ import annotations

import gzip
import io
import wave
from collections.abc import Iterator
from datetime import datetime

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from cis455crawler_spark.operators import multimodal as mm
from cis455crawler_spark.sources.corpus import CorpusSpec


def smoke_spec() -> CorpusSpec:
    """The small synthetic corpus the crawl tests share."""
    return CorpusSpec(hosts=10, pages_per_host=20)


# -- WARC (sources/warc.py) ---------------------------------------------------


def build_warc_bytes(
    records: list[tuple[str, datetime, int, str, bytes]], compress: bool = False
) -> bytes:
    """Deterministic WARC/1.0 bytes from (url, ts, status, content_type,
    body) tuples — each as a response record framed exactly like the parser
    expects from real archives. compress=True gzips per record and
    concatenates members (the Common Crawl layout)."""
    members: list[bytes] = []
    for url, ts, status, ctype, body in records:
        http = (
            f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode() + body
        warc_hdr = (
            "WARC/1.0\r\n"
            "WARC-Type: response\r\n"
            f"WARC-Target-URI: {url}\r\n"
            f"WARC-Date: {ts.strftime('%Y-%m-%dT%H:%M:%S')}"
            f"{f'.{ts.microsecond:06d}' if ts.microsecond else ''}Z\r\n"
            f"Content-Length: {len(http)}\r\n"
            "Content-Type: application/http; msgtype=response\r\n\r\n"
        ).encode()
        rec = warc_hdr + http + b"\r\n\r\n"
        if compress:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(rec)
            members.append(buf.getvalue())
        else:
            members.append(rec)
    return b"".join(members)


def write_warc(
    pages: DataFrame,
    out_dir: str,
    compress: bool = True,
    default_status: int = 200,
    default_content_type: str = "text/html",
    default_ts: datetime = datetime(1970, 1, 1),
) -> DataFrame:
    """Distributed WARC export — the write side of read_warc: every partition
    of `pages` (url, warc_ts, html[, http_status, content_type]) streams its
    rows as framed response records into ONE .warc(.gz) shard under
    `out_dir`, gzipped per record member exactly like Common Crawl (so the
    member-at-a-time reader round-trips it). Returns the manifest
    (file, n_records, n_bytes) — one row per shard; the returned DataFrame
    is lazy, so trigger it (collect/write) to perform the export.

    Records are framed by the same builder the parser is tested against
    (build_warc_bytes), so export -> read_warc -> warc_to_pages reproduces
    url/warc_ts/html byte-for-byte. NULLs read_warc legitimately produces
    round-trip too: NULL warc_ts exports as default_ts (epoch), NULL
    http_status/content_type as the defaults, NULL html as an empty body.
    Shard size = partition size: control it with repartition() upstream (the
    CC convention is ~1 GB shards).

    Idempotent writes: shard names are DETERMINISTIC per partition and each
    task writes an attempt-scoped temp file promoted with an atomic
    os.replace — a retried/speculated attempt or a re-evaluated manifest
    DataFrame overwrites the same shard instead of accumulating uuid-named
    duplicates (the per-file analogue of SnapshotStore's two-phase commit).
    Point out_dir at a FRESH directory per export: like any file sink,
    stale shards from a previous differently-partitioned export are not
    swept. Paths are task-local filesystem writes (the local analogue of
    a shared FS/object-store sink; nothing passes through the driver)."""
    import os

    from pyspark import TaskContext

    has_status = "http_status" in pages.columns
    has_ctype = "content_type" in pages.columns
    cols = ["url", "warc_ts", "html"]
    if has_status:
        cols.append("http_status")
    if has_ctype:
        cols.append("content_type")
    ext = ".warc.gz" if compress else ".warc"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"part-{pid:05d}{ext}")
        tmp = f"{path}.attempt-{ctx.taskAttemptId()}.inprogress"
        n_records = 0
        n_bytes = 0
        try:
            with open(tmp, "wb") as fh:
                for pdf in batches:
                    recs = []
                    for row in pdf.itertuples(index=False):
                        ts = (
                            default_ts
                            if pd.isna(row.warc_ts)
                            else row.warc_ts.to_pydatetime()
                        )
                        status = (
                            int(row.http_status)
                            if has_status and not pd.isna(row.http_status)
                            else default_status
                        )
                        ctype = (
                            row.content_type
                            if has_ctype and isinstance(row.content_type, str)
                            else default_content_type
                        )
                        body = b"" if row.html is None else bytes(row.html)
                        recs.append((row.url, ts, status, ctype, body))
                    blob = build_warc_bytes(recs, compress=compress)
                    fh.write(blob)
                    n_records += len(recs)
                    n_bytes += len(blob)
        except BaseException:
            if os.path.exists(tmp):
                os.remove(tmp)  # never leave a partial shard behind
            raise
        if n_records == 0:
            os.remove(tmp)  # no empty shards
            yield pd.DataFrame({"file": [], "n_records": [], "n_bytes": []})
        else:
            os.replace(tmp, path)  # atomic promote (last attempt wins)
            yield pd.DataFrame(
                {"file": [path], "n_records": [n_records], "n_bytes": [n_bytes]}
            )

    return pages.select(*cols).mapInPandas(
        gen, schema="file string, n_records long, n_bytes long"
    )


# -- media headers (operators/multimodal.py) ---------------------------------


def encode_mp4_header(
    width: int, height: int, dur_ms: int, timescale: int = 1000, v1: bool = False
) -> bytes:
    """Structurally valid MP4 prefix (ftyp + moov[mvhd + trak[tkhd]] + a
    stub mdat) with the given dims/duration — real box layout for tests;
    no codec data, so only the header parse succeeds."""

    def box(t: bytes, body: bytes) -> bytes:
        return (len(body) + 8).to_bytes(4, "big") + t + body

    ftyp = box(b"ftyp", b"isom" + (512).to_bytes(4, "big") + b"isomiso2mp41")
    dur = dur_ms * timescale // 1000
    if v1:
        mvhd = b"\x01\x00\x00\x00" + bytes(16) + timescale.to_bytes(4, "big") + dur.to_bytes(8, "big") + bytes(80)
    else:
        mvhd = bytes(12) + timescale.to_bytes(4, "big") + dur.to_bytes(4, "big") + bytes(80)
    tkhd = bytearray(84)  # version 0: verflags + 80-byte body
    tkhd[76:80] = (width << 16).to_bytes(4, "big")
    tkhd[80:84] = (height << 16).to_bytes(4, "big")
    moov = box(b"moov", box(b"mvhd", mvhd) + box(b"trak", box(b"tkhd", bytes(tkhd))))
    return ftyp + moov + box(b"mdat", bytes(16))


def encode_jpeg_header(width: int, height: int, progressive: bool = False) -> bytes:
    """Structurally valid JPEG prefix (SOI + JFIF APP0 + DQT + SOF0/SOF2 +
    SOS marker) with the given dims — real marker layout for tests; the
    entropy-coded image data is absent, so only header parses succeed."""
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00\x01\x02\x00" + b"\x00\x48\x00\x48\x00\x00"
    dqt = b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00" + bytes(range(1, 65))
    sof = (
        (b"\xff\xc2" if progressive else b"\xff\xc0")
        + (11).to_bytes(2, "big")
        + b"\x08"
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + b"\x01\x01\x11\x00"
    )
    return mm.JPEG_SOI + app0 + dqt + sof + b"\xff\xda"


def encode_mp3_header(
    frames: int | None = None,
    audio_bytes: int = 4096,
    sample_rate: int = 44100,
    bitrate_kbps: int = 128,
    mono: bool = False,
    id3: bool = False,
) -> bytes:
    """Structurally valid MP3 prefix (optional ID3v2 stub + one MPEG1
    Layer III frame header [+ Xing tag when `frames` is given] + silence
    padding to `audio_bytes`) — real header layout for tests; no encoded
    audio, so only the header parse succeeds."""
    sr_idx = {44100: 0, 48000: 1, 32000: 2}[sample_rate]
    br_idx = mm._MP3_BITRATE[(True, 1)].index(bitrate_kbps) + 1
    hdr = bytes(
        [
            0xFF,
            0xFB,  # sync + MPEG1 + Layer III + no CRC
            (br_idx << 4) | (sr_idx << 2),
            0xC0 if mono else 0x00,  # channel mode (+ zero mode ext/flags)
        ]
    )
    body = bytearray(max(audio_bytes, 200))
    side = 17 if mono else 32
    if frames is not None:
        body[side : side + 4] = b"Xing"
        body[side + 4 : side + 8] = (0x1).to_bytes(4, "big")
        body[side + 8 : side + 12] = frames.to_bytes(4, "big")
    tag = b""
    if id3:
        tag = b"ID3\x04\x00\x00" + bytes([0, 0, 1, 0x7F]) + bytes(0xFF)  # syncsafe 255
    return tag + hdr + bytes(body)


def encode_ppm(media_id: int, width: int, height: int) -> bytes:
    """Deterministic P6 image: pixel(y,x,c) = (3x + 5y + 7c + id) % 256 —
    a closed form tests can recompute without touching the codec."""
    arr = (
        3 * np.arange(width)[None, :, None]
        + 5 * np.arange(height)[:, None, None]
        + 7 * np.arange(3)[None, None, :]
        + media_id
    ) % 256
    return f"P6\n{width} {height}\n255\n".encode() + arr.astype(np.uint8).tobytes()


def encode_wav(media_id: int, dur_ms: int, rate: int = 8000) -> bytes:
    """Deterministic mono 16-bit PCM sine: freq = 110 + 10*(id % 32) Hz,
    amplitude 0.5 — RMS is amplitude/sqrt(2) in closed form."""
    n = max(1, rate * dur_ms // 1000)
    t = np.arange(n)
    freq = 110 + 10 * (media_id % 32)
    samples = (np.sin(2 * np.pi * freq * t / rate) * 0.5 * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(samples.tobytes())
    return buf.getvalue()


def synth_media_real(ids_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic full-decode media table: even ids get a P6 gradient
    image (w = 16+(id%32), h = 8+(id%16)), odd ids a PCM-WAV sine
    (dur = 50+(id%20)*10 ms @8 kHz) — generated distributed via mapInPandas,
    with closed-form expected dims and durations."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf[id_col]:
                i = int(i)
                if i % 2 == 0:
                    rows.append((i, "image", encode_ppm(i, 16 + i % 32, 8 + i % 16),
                                 None, None, None))
                else:
                    rows.append((i, "audio", encode_wav(i, 50 + (i % 20) * 10),
                                 None, None, None))
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "payload", "width", "height", "dur_ms"]
            )

    return ids_df.mapInPandas(_gen, schema=mm.MEDIA_SCHEMA)
