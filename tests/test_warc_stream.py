"""Streaming WARC ingestion (sources/warc.stream_warc_ingest): archives
landing in a directory drain as a file stream; each micro-batch appends its
200s to the pages ledger and timestamp-guard-MERGEs the incremental index.

Invariants pinned:
  * the pages ledger holds every 200 capture from every drained file
  * the index state after any drain equals a BATCH rebuild over each url's
    latest capture (rank_from_stats == operators.indexer.postings), incl. a
    recrawled url whose body changed between drains
  * a later drain processes only newly-landed files (checkpoint resume)
  * a BACKFILLED older capture never regresses the index (ts guard)
  * a recrawl that tokenizes to zero words drops the doc's stale terms
"""

from __future__ import annotations

from datetime import datetime

from cis455crawler_spark.operators.indexer import postings
from cis455crawler_spark.sources.tables import SnapshotStore
from cis455crawler_spark.sources.warc import stream_warc_ingest
from cis455crawler_spark.streaming.indexing import STATS_TABLE

from .fixtures import build_warc_bytes
from .reference import rank_from_stats


def _rec(url, ts, body, status=200):
    return (url, ts, status, "text/html", body)


T1, T2, T3 = datetime(2013, 3, 1), datetime(2013, 3, 2), datetime(2013, 3, 3)

WAVE1 = [
    _rec("http://w.test/a", T1, b"<html><body>alpha beta gamma</body></html>"),
    _rec("http://w.test/b", T1, b"<html><body>beta beta delta</body></html>"),
    _rec("http://w.test/skip", T1, b"nope", status=404),  # never ingested
]
WAVE2 = [
    # same url twice in ONE file: the later capture must win in the index
    _rec("http://w.test/c", T1, b"<html><body>old gamma words</body></html>"),
    _rec("http://w.test/c", T2, b"<html><body>epsilon zeta</body></html>"),
    # recrawl of /a with changed body: per-doc replacement MERGE
    _rec("http://w.test/a", T3, b"<html><body>alpha alpha rho</body></html>"),
]
WAVE3 = [
    # BACKFILL: an older capture of /a arriving after the T3 one — the ts
    # guard must leave the T3 index rows untouched
    _rec("http://w.test/a", T2, b"<html><body>stale backfill body</body></html>"),
    # recrawl of /b to stopword-only text: all its terms must DROP
    _rec("http://w.test/b", T3, b"<html><body>the a of</body></html>"),
    _rec("http://w.test/d", T1, b"<html><body>kappa kappa mu</body></html>"),
]


def _expected_latest(spark):
    """Each url's latest-capture text, as the batch indexer would see it."""
    rows = [
        ("http://w.test/a", "alpha alpha rho"),
        ("http://w.test/b", "beta beta delta"),
        ("http://w.test/c", "epsilon zeta"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def _expected_after_wave3(spark):
    """/a keeps T3 (backfill ignored), /b is all-stopwords (no rows), /d new."""
    rows = [
        ("http://w.test/a", "alpha alpha rho"),
        ("http://w.test/c", "epsilon zeta"),
        ("http://w.test/d", "kappa kappa mu"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_stream_warc_ingest_matches_batch_rebuild(spark, tmp_path):
    land = tmp_path / "landing"
    land.mkdir()
    state = str(tmp_path / "state")

    (land / "w1.warc.gz").write_bytes(build_warc_bytes(WAVE1, compress=True))
    n1 = stream_warc_ingest(spark, str(land), state)
    assert n1 == 1  # one landed file = one micro-batch

    store = SnapshotStore(spark, state)
    assert store.read("pages").count() == 2  # the 404 never ingested
    # index after wave 1 == batch postings over wave-1 docs
    got1 = {
        (r.doc_id, r.word, r.tf, r.max_tf, r.df)
        for r in rank_from_stats(store.read(STATS_TABLE)).collect()
    }
    w1docs = spark.createDataFrame(
        [("http://w.test/a", "alpha beta gamma"), ("http://w.test/b", "beta beta delta")],
        "doc_id string, text string",
    )
    want1 = {
        (r.doc_id, r.word, r.tf, r.max_tf, r.df)
        for r in postings(w1docs).collect()
    }
    assert got1 == want1

    # wave 2 lands later; the second drain must process ONLY the new file
    (land / "w2.warc").write_bytes(build_warc_bytes(WAVE2))
    n2 = stream_warc_ingest(spark, str(land), state)
    assert n2 == 1

    store = SnapshotStore(spark, state)
    # ledger: every 200 capture appended (2 + 3)
    assert store.read("pages").count() == 5
    # index == batch rebuild over each url's LATEST capture
    got = {
        (r.doc_id, r.word, r.tf, r.max_tf, r.df, round(r.rank, 9))
        for r in rank_from_stats(store.read(STATS_TABLE)).collect()
    }
    want = {
        (r.doc_id, r.word, r.tf, r.max_tf, r.df, round(r.rank, 9))
        for r in postings(_expected_latest(spark)).collect()
    }
    assert got == want
    # the stale wave-2 capture of /c ('old gamma words') left no rows behind
    assert not any(w == "old" for _, w, *_ in got)

    # wave 3: an older backfill of /a, a stopword-only recrawl of /b, a new /d
    (land / "w3.warc.gz").write_bytes(build_warc_bytes(WAVE3, compress=True))
    n3 = stream_warc_ingest(spark, str(land), state)
    assert n3 == 1

    store = SnapshotStore(spark, state)
    assert store.read("pages").count() == 8  # ledger keeps the backfill rows
    got3 = {
        (r.doc_id, r.word, r.tf, r.max_tf, r.df, round(r.rank, 9))
        for r in rank_from_stats(store.read(STATS_TABLE)).collect()
    }
    want3 = {
        (r.doc_id, r.word, r.tf, r.max_tf, r.df, round(r.rank, 9))
        for r in postings(_expected_after_wave3(spark)).collect()
    }
    assert got3 == want3
    # the ts guard held: no 'stale'/'backfill' terms; /b fully dropped
    assert not any(w in ("stale", "backfill") for _, w, *_ in got3)
    assert not any(d == "http://w.test/b" for d, *_ in got3)

    # exactly-once is FILE-granular: deleting the stream checkpoint (batch
    # ids restart at 0) and re-draining must commit NOTHING — the warc_files
    # path ledger, not the batch id, is authoritative
    import shutil

    shutil.rmtree(tmp_path / "state" / "_warc_stream_checkpoint")
    n4 = stream_warc_ingest(spark, str(land), state)
    assert n4 == 0
    store = SnapshotStore(spark, state)
    assert store.read("pages").count() == 8  # no double-append
    got4 = {
        (r.doc_id, r.word, r.tf, r.max_tf, r.df, round(r.rank, 9))
        for r in rank_from_stats(store.read(STATS_TABLE)).collect()
    }
    assert got4 == want3
