"""WARC ingestion: byte round-trip through the stdlib parser (plain and
gzip-member layouts), non-response skipping, malformed-tail tolerance, the
input_hint pages projection, and the full WARC -> pages -> crawl seam vs
the Python crawl oracle."""

from __future__ import annotations

from datetime import datetime

import pytest

from cis455crawler_spark.sources.warc import (
    iter_warc_records,
    read_warc,
    warc_to_pages,
)

from .fixtures import build_warc_bytes, write_warc

RECORDS = [
    ("http://w.test/a.html", datetime(2013, 3, 1, 12, 0, 0), 200,
     "text/html", b"<html><title>A</title>body a</html>"),
    ("http://w.test/redir", datetime(2013, 3, 1, 12, 0, 1), 301,
     "text/html", b""),
    ("http://w.test/b.html", datetime(2013, 3, 2, 0, 30, 59), 200,
     "text/html; charset=utf-8", b"<html>body &amp; b</html>"),
]


def _request_record() -> bytes:
    http = b"GET /a.html HTTP/1.1\r\nHost: w.test\r\n\r\n"
    return (
        "WARC/1.0\r\nWARC-Type: request\r\n"
        "WARC-Target-URI: http://w.test/a.html\r\n"
        "WARC-Date: 2013-03-01T12:00:00Z\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode() + http + b"\r\n\r\n"


@pytest.mark.parametrize("compress", [False, True])
def test_parse_warc_round_trip(compress):
    data = _request_record() + build_warc_bytes(RECORDS, compress=compress)
    if compress:
        # mixed plain+gzip is not a valid file; gzip the request record too
        import gzip, io

        buf = io.BytesIO()
        with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(_request_record())
        data = buf.getvalue() + build_warc_bytes(RECORDS, compress=True)
    got = list(iter_warc_records(data))
    assert [(r["url"], r["warc_ts"], r["http_status"], r["body"]) for r in got] == [
        (u, ts, st, body) for u, ts, st, _, body in RECORDS
    ]
    assert got[2]["content_type"] == "text/html; charset=utf-8"


def test_parse_warc_malformed_tail_stops_clean():
    data = build_warc_bytes(RECORDS[:1]) + b"garbage that is not a record"
    got = list(iter_warc_records(data))
    assert len(got) == 1 and got[0]["url"] == RECORDS[0][0]


def test_read_warc_and_pages_projection(spark, tmp_path):
    from cis455crawler_spark.functions.html import extract_text_py

    (tmp_path / "a.warc").write_bytes(build_warc_bytes(RECORDS[:2]))
    (tmp_path / "b.warc.gz").write_bytes(build_warc_bytes(RECORDS[2:], compress=True))

    df = read_warc(spark, str(tmp_path) + "/*.warc*")
    rows = {r["url"]: r for r in df.collect()}
    assert set(rows) == {u for u, *_ in RECORDS}
    assert rows["http://w.test/redir"]["http_status"] == 301
    assert bytes(rows["http://w.test/b.html"]["html"]) == RECORDS[2][4]

    pages = warc_to_pages(df)
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    prows = {r["url"]: r for r in pages.collect()}
    assert set(prows) == {"http://w.test/a.html", "http://w.test/b.html"}  # 200s only
    for u in prows:
        body = next(b for uu, _, _, _, b in RECORDS if uu == u)
        assert prows[u]["text"] == extract_text_py(body)  # byte-identical gate
        assert prows[u]["lang"] is not None


def test_warc_to_crawl_seam_matches_oracle(spark, tmp_path):
    """Export the synthetic corpus as WARC, re-ingest it, run the crawl over
    the re-ingested pages — seen set must equal the oracle BFS (the full
    archive->table->engine seam, timestamps included for the 304 economy)."""
    from cis455crawler_spark.plans.crawl import CrawlConfig, run_crawl
    from cis455crawler_spark.sources.corpus import (
        CorpusSpec,
        generate_pages_pdf,
        seed_urls,
    )

    from .oracle import oracle_crawl

    spec = CorpusSpec(hosts=6, pages_per_host=12, seed=7)
    pdf = generate_pages_pdf(spec)
    recs = [
        (u, ts.to_pydatetime(), 200, "text/html", bytes(h))
        for u, ts, h in zip(pdf["url"], pdf["warc_ts"], pdf["html"])
    ]
    # two files: exercises multi-file parallel ingest
    (tmp_path / "c0.warc.gz").write_bytes(build_warc_bytes(recs[::2], compress=True))
    (tmp_path / "c1.warc").write_bytes(build_warc_bytes(recs[1::2]))

    pages = warc_to_pages(read_warc(spark, str(tmp_path) + "/*.warc*"))
    assert pages.count() == len(pdf)

    store, _ = run_crawl(
        spark, pages, seed_urls(spec), str(tmp_path / "st"),
        CrawlConfig(max_rounds=4, compact_every=0),
    )
    engine_seen = {
        r["url_hash"] for r in store.read("seen").select("url_hash").collect()
    }
    want = oracle_crawl(
        dict(zip(pdf["url"], pdf["html"])), seed_urls(spec), max_rounds=4
    ).seen
    assert engine_seen == want


def test_iter_warc_records_streams_members():
    """Member-at-a-time decode: records stream out lazily, a record split
    across gzip members still assembles, and results equal the batch
    parser's on every layout."""
    import gzip as _gzip
    import io as _io

    # per-record members (the Common Crawl layout)
    data = build_warc_bytes(RECORDS, compress=True)
    it = iter_warc_records(data)
    first = next(it)
    assert first["url"] == RECORDS[0][0]  # lazy: first record without the rest
    assert [r["url"] for r in it] == [u for u, *_ in RECORDS[1:]]

    # one record split across TWO members (legal, not CC layout)
    plain = build_warc_bytes(RECORDS[:1])
    half = len(plain) // 2
    parts = []
    for piece in (plain[:half], plain[half:]):
        buf = _io.BytesIO()
        with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(piece)
        parts.append(buf.getvalue())
    got = list(iter_warc_records(b"".join(parts)))
    assert len(got) == 1 and got[0]["body"] == RECORDS[0][4]

    # plain (uncompressed) path unchanged
    assert [r["url"] for r in iter_warc_records(build_warc_bytes(RECORDS))] == [
        u for u, *_ in RECORDS
    ]


def test_warc_parser_hardening():
    """Review findings: negative Content-Length must stop (not loop), a gzip
    member split inside the separator CRLF must not drop the tail, a corrupt
    member ends the stream tolerantly, and sub-second WARC-Dates round-trip."""
    import gzip as _gzip
    import io as _io

    # negative Content-Length: clean stop, no hang
    bad = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://x/\r\n"
        b"WARC-Date: 2013-03-01T00:00:00Z\r\n"
        b"Content-Length: -82\r\n\r\n"
    )
    assert list(iter_warc_records(build_warc_bytes(RECORDS[:1]) + bad)) == list(
        iter_warc_records(build_warc_bytes(RECORDS[:1]))
    )

    # member boundary one byte into the trailing CRLFCRLF separator
    plain = build_warc_bytes(RECORDS[:2])
    rec1_end = plain.find(b"\r\n\r\nWARC/") + 1  # split after the lone '\r'
    parts = []
    for piece in (plain[:rec1_end], plain[rec1_end:]):
        buf = _io.BytesIO()
        with _gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
            gz.write(piece)
        parts.append(buf.getvalue())
    got = list(iter_warc_records(b"".join(parts)))
    assert [r["url"] for r in got] == [u for u, *_ in RECORDS[:2]]

    # corrupt second member: first record survives, stream ends cleanly
    m1, m2 = parts
    corrupted = m1 + b"\x1f\x8bgarbage-not-a-member"
    got = list(iter_warc_records(corrupted))
    assert [r["url"] for r in got] == [RECORDS[0][0]]

    # microsecond WARC-Date round-trips exactly
    ts = datetime(2013, 3, 1, 12, 0, 0, 123456)
    rec = [("http://x/us.html", ts, 200, "text/html", b"b")]
    for compress in (False, True):
        out = list(iter_warc_records(build_warc_bytes(rec, compress=compress)))
        assert out[0]["warc_ts"] == ts


@pytest.mark.parametrize("compress", [False, True])
def test_write_warc_export_round_trip(spark, tmp_path, compress):
    """Distributed export (write_warc) -> read_warc reproduces url/ts/
    status/content-type/html byte-for-byte, across multiple shards."""
    rows = [
        (
            f"http://e.test/p{i}.html",
            datetime(2013, 3, 1, 12, 0, i),
            200 if i % 3 else 301,
            "text/html" if i % 2 else "text/html; charset=utf-8",
            bytearray(f"<html><title>{i}</title>body {i}</html>".encode()),
        )
        for i in range(20)
    ]
    pages = spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, http_status int, "
        "content_type string, html binary",
    ).repartition(3)
    out = str(tmp_path / ("warc_gz" if compress else "warc"))
    manifest = write_warc(pages, out, compress=compress).collect()
    assert sum(m.n_records for m in manifest) == 20
    assert len(manifest) <= 3 and all(m.n_bytes > 0 for m in manifest)

    ext = "*.warc.gz" if compress else "*.warc"
    back = read_warc(spark, f"{out}/{ext}").collect()
    want = {
        r[0]: (r[1], r[2], r[3], bytes(r[4])) for r in rows
    }
    got = {
        r.url: (r.warc_ts, r.http_status, r.content_type, bytes(r.html))
        for r in back
    }
    assert got == want


def test_write_warc_empty_partitions_no_empty_shards(spark, tmp_path):
    pages = spark.createDataFrame(
        [("http://e.test/x", datetime(2013, 3, 1), bytearray(b"<html>x</html>"))],
        "url string, warc_ts timestamp, html binary",
    ).repartition(8)
    out = str(tmp_path / "warc1")
    manifest = write_warc(pages, out).collect()
    import glob

    files = glob.glob(f"{out}/*")
    assert len(files) == len(manifest) == 1  # 7 empty partitions wrote nothing
    back = warc_to_pages(read_warc(spark, f"{out}/*.warc.gz")).collect()
    assert len(back) == 1 and back[0].url == "http://e.test/x"
    assert back[0].text == "x"  # defaults: status 200, text/html


def test_write_warc_null_tolerance_and_idempotent_shards(spark, tmp_path):
    """NULL ts/status/content_type/html export with defaults; re-evaluating
    the manifest does not accumulate duplicate shards (deterministic names,
    atomic promote)."""
    pages = spark.createDataFrame(
        [
            ("http://n.test/full", datetime(2013, 3, 1), 200, "text/html",
             bytearray(b"<html>ok</html>")),
            ("http://n.test/nulls", None, None, None, None),
        ],
        "url string, warc_ts timestamp, http_status int, "
        "content_type string, html binary",
    ).coalesce(1)
    out = str(tmp_path / "warc_nulls")
    m = write_warc(pages, out)
    m.collect()
    m.collect()  # second evaluation overwrites, not duplicates
    import glob

    files = glob.glob(f"{out}/*")
    assert len(files) == 1 and not files[0].endswith(".inprogress")
    back = {r.url: r for r in read_warc(spark, f"{out}/*.warc.gz").collect()}
    assert len(back) == 2
    nulls = back["http://n.test/nulls"]
    assert nulls.warc_ts == datetime(1970, 1, 1)  # default_ts
    assert nulls.http_status == 200 and nulls.content_type == "text/html"
    assert bytes(nulls.html) == b""
