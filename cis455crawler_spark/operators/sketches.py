"""KMV (k-minimum-values) distinct-count sketch — the mergeable
cardinality estimator with EXACT cross-engine verifiability.

HyperLogLog (Spark's approx_count_distinct) and DuckDB's approx sketch
use different hash families, so their estimates can never hash-match in
the driver's oracle gate. KMV (Bar-Yossef et al., RANDOM 2002; Beyer et
al., SIGMOD 2007) is just as mergeable and its estimate is a
DETERMINISTIC function of the input set given the hash: map every
distinct key to a uniform u in (0,1) via an md5 prefix (computable
bit-identically in Spark, DuckDB, and Python), keep the k smallest u per
group, and estimate

    d ≈ (k - 1) / u_(k)        (u_(k) = k-th smallest u)

falling back to the exact survivor count when the group has fewer than k
distinct keys (then the sketch IS exact).

Scale shape: "k smallest per group" is a top-k, and a naive
Window.partitionBy(group) sort puts a 10^8-URL host in ONE task — the
same straggler the politeness scheduler avoids. So the selection is the
SALTED TWO-PHASE top-k (operators/similarity.py:topk_two_phase; proof
sketch at operators/scheduler.py:pop_host_batches): phase 1 keeps the k
smallest per (group, salt) — bounded partitions — and phase 2 re-ranks the
<= salt_buckets*k survivors per group. A row outside its bucket's top-k
cannot be in the group's global top-k, so the result is exactly the
unsalted answer for any k and any salt count (bucket-count invariance is
pytest-pinned).

The md5-prefix-to-uniform idiom: 13 hex chars = 52 bits fits a double
exactly (and a BIGINT on both engines); u = conv(prefix,16,10) / 16^13.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import topk_two_phase

_HEX_CHARS = 13
_DENOM = float(16**_HEX_CHARS)


def uniform_hash(key) -> F.Column:
    """Deterministic uniform (0,1) value from a string key (md5 prefix)."""
    return (
        F.conv(F.substring(F.md5(key), 1, _HEX_CHARS), 16, 10).cast("long")
        / F.lit(_DENOM)
    )


def kmv_distinct(
    df: DataFrame,
    group_col: str = "host",
    key_col: str = "url",
    k: int = 16,
    salt_buckets: int = 8,
) -> DataFrame:
    """(group, n_kept, u_k, kmv_estimate) per group — distinct-count
    sketch over key_col. n_kept < k means the estimate is exact."""
    keyed = (
        df.select(F.col(group_col).alias("grp"), F.col(key_col).alias("key"))
        .distinct()
        .withColumn("u", uniform_hash("key"))
    )
    kept = topk_two_phase(keyed, "grp", ["u", "key"], k, "_rn2", "key", salt_buckets)
    return kept.groupBy("grp").agg(
        F.count("*").alias("n_kept"),
        F.max("u").alias("u_k"),
        F.round(
            F.when(F.count("*") < k, F.count("*").cast("double"))
            # u_k = 0 needs every kept hash prefix to be all-zero
            # (p ~ 16^-13 per key) but an unguarded division would return
            # NULL on Spark and raise/inf on DuckDB — fall back to the
            # survivor count rather than let the engines disagree
            .when(F.max("u") > 0, (F.lit(k) - 1) / F.max("u"))
            .otherwise(F.count("*").cast("double")),
            3,
        ).alias("kmv_estimate"),
    ).withColumnRenamed("grp", group_col)
