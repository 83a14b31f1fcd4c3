"""Structured Streaming over the crawl's event/metrics feed.

The reference has no streaming runtime — its 10-second worker heartbeats
(/root/reference/Crawler/src/com/datformers/mapreduce/worker/resources/
WorkerStatusUpdator.java:29-57) and master status page are polling loops.
The rebuild exposes the same signals over an events table:

  * tumbling-window fetch-rate aggregation, with a watermark for late
    events when run over a stream (file source in the driver entry; Kafka
    on a real cluster)
  * gap-based sessionization per user (batch window plan)

A windowed streaming agg over a static frame equals its batch GROUP BY, so
correctness is oracle-checkable in SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tumbling_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    streaming: bool = False,
) -> DataFrame:
    """(window_start, event_type, n, total_value) per tumbling window."""
    df = events
    if streaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sessionize(
    events: DataFrame, gap_minutes: int = 30, time_buckets: int | None = 64
) -> DataFrame:
    """Gap-based sessionization per user: session starts when the previous
    event is more than `gap` away (lag + running sum).

    Hot keys: a window partitioned on user_id alone sorts a hot user's whole
    history in ONE task. With `time_buckets` set (default) the lag and the
    session cumsum decompose exactly into equal-width time buckets (the
    asof/chunking two-phase pattern):

      prev_ts      = in-bucket lag, else the max ts of the user's latest
                     earlier non-empty bucket (per-user carry window over
                     <= time_buckets summary rows)
      session_seq  = in-bucket cumsum of is_new + sum of earlier buckets'
                     is_new totals (same bounded carry window)

    Buckets are monotone in ts and ties share a bucket, so bucket-local +
    carry == the global running computation; ts ties contribute is_new=0
    either way, so tie order inside a bucket cannot change the result.
    `time_buckets=None` keeps the single-window path."""
    from pyspark.sql import Window

    gap = gap_minutes * 60
    if time_buckets is None:
        w = Window.partitionBy("user_id").orderBy("ts")
        with_prev = events.withColumn("prev_ts", F.lag("ts").over(w))
        new_sess = F.when(
            F.col("prev_ts").isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")) > gap),
            1,
        ).otherwise(0)
        sessed = with_prev.withColumn("is_new", new_sess).withColumn(
            "session_seq",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    else:
        if time_buckets < 1:
            raise ValueError(f"time_buckets must be >= 1 or None, got {time_buckets}")
        from ..operators.bucketed import (
            assign_time_buckets,
            carry_window,
            internal_tag,
            null_safe_carry_cond,
        )

        # collision-free internal names: the tag prefix is absent from the
        # caller's columns and also covers assign_time_buckets' stats
        # columns, which derive from the bucket column name
        tag = internal_tag("_sess", events)
        bkt = f"{tag}_bkt"
        tnum = F.unix_timestamp("ts").cast("double")
        # NULL ts parks in bucket 0 — nulls sort first there, and bucket 0's
        # carry-in is NULL, reproducing the single-window nulls-first order
        b = assign_time_buckets(events, tnum, time_buckets, bkt)
        # carry: the previous event before a bucket's first row is the max
        # ts of the user's latest earlier non-empty bucket
        per_bkt = b.groupBy("user_id", bkt).agg(F.max("ts").alias(f"{tag}_max"))
        w_carry = carry_window(["user_id"], bkt)
        # null-safe user key on both carry join-backs: partitionBy groups a
        # NULL user_id, a plain equi-join would silently drop those events
        carry_prev = per_bkt.select(
            F.col("user_id").alias(f"{tag}_cp_uid"),
            F.col(bkt).alias(f"{tag}_cp_bkt"),
            F.last(f"{tag}_max", ignorenulls=True).over(w_carry).alias(f"{tag}_prev"),
        )
        w_in = Window.partitionBy("user_id", bkt).orderBy("ts")
        with_prev = (
            b.join(
                carry_prev,
                null_safe_carry_cond(["user_id"], [f"{tag}_cp_uid"], bkt, f"{tag}_cp_bkt"),
            )
            .withColumn(
                "prev_ts", F.coalesce(F.lag("ts").over(w_in), F.col(f"{tag}_prev"))
            )
            .drop(f"{tag}_prev", f"{tag}_cp_uid", f"{tag}_cp_bkt")
        )
        new_sess = F.when(
            F.col("prev_ts").isNull()
            | ((F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")) > gap),
            1,
        ).otherwise(0)
        flagged = with_prev.withColumn("is_new", new_sess)
        # carry: session_seq offset = total new-session flags in earlier buckets
        totals = flagged.groupBy("user_id", bkt).agg(
            F.sum("is_new").alias(f"{tag}_new")
        )
        carry_seq = totals.select(
            F.col("user_id").alias(f"{tag}_cs_uid"),
            F.col(bkt).alias(f"{tag}_cs_bkt"),
            F.coalesce(F.sum(f"{tag}_new").over(w_carry), F.lit(0)).alias(
                f"{tag}_base"
            ),
        )
        sessed = (
            flagged.join(
                carry_seq,
                null_safe_carry_cond(["user_id"], [f"{tag}_cs_uid"], bkt, f"{tag}_cs_bkt"),
            )
            .drop(f"{tag}_cs_uid", f"{tag}_cs_bkt")
            .withColumn(
                "session_seq",
                F.col(f"{tag}_base")
                + F.sum("is_new").over(w_in.rowsBetween(Window.unboundedPreceding, 0)),
            )
            .drop(bkt, f"{tag}_base")
        )
    return sessed.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
        F.sum("value").alias("session_value"),
    )
