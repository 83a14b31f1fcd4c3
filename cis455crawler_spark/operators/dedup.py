"""URL-seen-set dedup: the exact anti-join.

Re-expresses the reference's membership check — in-memory TreeSet probe
before the BerkeleyDB get (XPathCrawlerThread.java:357-366,370-375) — as one
Spark left-anti join on `url_hash` (40-char sha1 hex). The seen table is
plain appended files; its bucket id (url_hash_bucket) is a data column the
anti-join does not use: below autoBroadcastJoinThreshold Spark broadcasts the
seen keys each round, above it Spark shuffles both sides (ROADMAP item 4: a
Spark-bucketed seen base would remove the seen-side Exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def anti_join_seen(candidates: DataFrame, seen: DataFrame | None) -> DataFrame:
    """Drop candidates whose url_hash is in the seen set (exact)."""
    if seen is None:
        return candidates
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")
