"""Cuckoo-filter seen-set sidecar (SURVEY §2 D2 "Bloom/cuckoo"; north_rule
"partitioned bloom/cuckoo URL-seen set"), run by the seen_anti_join_cuckoo
driver entry. The crawl loop itself uses the plain exact anti-join
(operators/dedup.py).

Exactness contract: NO false negatives — every inserted key probes
positive, and a saturated filter degrades to answering "maybe" for
everything — so maybe-seen candidates always go through the exact anti-join
and correctness never depends on the sidecar. That same `maybe ⋈anti seen`
step means the full seen set is still scanned and exchanged whenever any
candidate is "maybe" (BENCH.md, "Bloom prefilter").

Partial-key cuckoo hashing (Fan et al., "Cuckoo Filter: Practically Better
Than Bloom", CoNEXT'14): per seen-bucket a uint16 table of shape
(n_ck, 4 slots), 16-bit fingerprints (0 = empty), alternate index
i2 = (i1 XOR h(fp)) & (n_ck-1) — n_ck is a power of two so the alternate
mapping is an involution and membership needs only (fp, any index).
At 4 slots/bucket and ~0.84 load a 16-bit fingerprint gives FP ~= 1e-4.
The layout also admits O(1) delete (clear one matching slot at i1 or i2);
no operation here expires seen entries, so none is shipped.

Fingerprints/indices slice directly out of the 40-hex-char sha1 (already
cryptographic — no rehash): fp from hex[0:4] (0 remapped to 0xFFFF), i1
from hex[4:14].

Cuckoo tables do NOT OR-merge — deltas merge by RE-INSERTING occupied slots
(merge_cuckoo_rows), which can fail at high combined load (the merge then
marks the bucket saturated = always "maybe": correct, just no pruning).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SLOTS = 4
MAX_KICKS = 500
TARGET_LOAD = 0.84  # standard 4-slot cuckoo load ceiling with headroom


def cuckoo_buckets_for(expected_keys: int) -> int:
    """Power-of-two table size (rows of 4 slots) for `expected_keys` at
    TARGET_LOAD — power-of-two is REQUIRED for the xor-involution."""
    need = max(1, int(np.ceil(expected_keys / (SLOTS * TARGET_LOAD))))
    return 1 << int(np.ceil(np.log2(need)))


def _fp_i1(hash_hex: str, mask: int) -> tuple[int, int]:
    fp = int(hash_hex[0:4], 16) or 0xFFFF  # fingerprint 0 means empty slot
    return fp, int(hash_hex[4:14], 16) & mask


def _h_fp(fp: int) -> int:
    return (fp * 0x5BD1E995) & 0x7FFFFFFF


def _alt(i: int, fp: int, mask: int) -> int:
    return (i ^ _h_fp(fp)) & mask


def _insert(table: np.ndarray, fp: int, i1: int, mask: int, rng: random.Random) -> bool:
    for idx in (i1, _alt(i1, fp, mask)):
        empty = np.flatnonzero(table[idx] == 0)
        if len(empty):
            table[idx, empty[0]] = fp
            return True
    idx = i1
    for _ in range(MAX_KICKS):
        s = rng.randrange(SLOTS)
        fp, table[idx, s] = int(table[idx, s]), fp
        idx = _alt(idx, fp, mask)
        empty = np.flatnonzero(table[idx] == 0)
        if len(empty):
            table[idx, empty[0]] = fp
            return True
    return False  # caller marks the bucket saturated


def build_cuckoo_sidecar(
    seen: DataFrame, num_buckets: int, capacity_per_bucket: int
) -> DataFrame:
    """(bucket INT, n_ck INT, saturated BOOLEAN, table BINARY) — one cuckoo
    table per seen bucket, built distributed via applyInPandas over
    groupBy(bucket). A bucket whose eviction loop fails is marked
    saturated: probes answer maybe-for-everything (exact anti-join takes
    over), never a false negative."""
    from ..functions.urls import url_hash_bucket

    n_ck = cuckoo_buckets_for(capacity_per_bucket)

    def _build(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        mask = n_ck - 1
        table = np.zeros((n_ck, SLOTS), dtype=np.uint16)
        rng = random.Random(bucket)  # deterministic eviction choices
        saturated = False
        for h in pdf["url_hash"]:
            fp, i1 = _fp_i1(h, mask)
            if not _insert(table, fp, i1, mask, rng):
                saturated = True
                break
        return pd.DataFrame(
            {
                "bucket": [bucket],
                "n_ck": [n_ck],
                "saturated": [saturated],
                "table": [table.tobytes()],
            }
        )

    with_bucket = seen.withColumn("bucket", url_hash_bucket("url_hash", num_buckets))
    return with_bucket.groupBy("bucket").applyInPandas(
        _build, schema="bucket int, n_ck int, saturated boolean, table binary"
    )


def merge_cuckoo_rows(rows) -> dict[int, dict]:
    """Merge collected sidecar rows into {bucket: {'n_ck', 'saturated',
    'table'}} by RE-INSERTING each delta's occupied slots (cuckoo tables
    don't OR-merge). Size mismatches or failed re-inserts mark the bucket
    saturated — degrades, never lies."""
    merged: dict[int, dict] = {}
    for r in rows or []:
        table = np.frombuffer(r["table"], dtype=np.uint16).reshape(-1, SLOTS).copy()
        cur = merged.get(r["bucket"])
        if cur is None:
            merged[r["bucket"]] = {
                "n_ck": r["n_ck"],
                "saturated": bool(r["saturated"]),
                "table": table,
            }
            continue
        if r["n_ck"] != cur["n_ck"] or r["saturated"]:
            cur["saturated"] = True
            continue
        mask = cur["n_ck"] - 1
        rng = random.Random(r["bucket"] ^ 0xC0FFEE)
        for idx, slot in zip(*np.nonzero(table)):
            # an occupied slot's row index is i1 OR i2 — either works as the
            # starting index because _alt is an involution
            if not _insert(cur["table"], int(table[idx, slot]), int(idx), mask, rng):
                cur["saturated"] = True
                break
    return merged


def hex_slice_bytes(s: pd.Series, start: int, length: int) -> np.ndarray:
    """(n, length/2) uint8 array from an even-length slice of a hex-string
    column — ONE C-level join+fromhex, no per-row Python. Every value must
    cover [start, start+length) (sha1 hex is always 40 chars)."""
    joined = "".join(s.str.slice(start, start + length))
    return np.frombuffer(bytes.fromhex(joined), dtype=np.uint8).reshape(
        len(s), length // 2
    )


def _fp_i1_vec(hashes: pd.Series, mask: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized twin of _fp_i1: fingerprint from hex[0:4] (0 -> 0xFFFF),
    starting index from hex[4:14] & mask — one C-level hex decode for the
    whole batch, no per-row Python."""
    b = hex_slice_bytes(hashes, 0, 14).astype(np.uint64)
    fp = (b[:, 0] << 8) | b[:, 1]
    fp = np.where(fp == 0, np.uint64(0xFFFF), fp)
    i1 = (
        (b[:, 2] << 32) | (b[:, 3] << 24) | (b[:, 4] << 16) | (b[:, 5] << 8) | b[:, 6]
    ) & np.uint64(mask)
    return fp, i1


def _contains_vec(table: np.ndarray, fp: np.ndarray, i1: np.ndarray, mask: int) -> np.ndarray:
    """Vectorized membership: fancy-index both candidate rows of the (n_ck, 4)
    slot table, equality-scan the 4 slots — matches _contains exactly."""
    i2 = (i1 ^ ((fp * np.uint64(0x5BD1E995)) & np.uint64(0x7FFFFFFF))) & np.uint64(mask)
    fp16 = fp.astype(np.uint16)[:, None]
    return (table[i1.astype(np.int64)] == fp16).any(axis=1) | (
        table[i2.astype(np.int64)] == fp16
    ).any(axis=1)


def split_by_cuckoo(
    candidates: DataFrame, sidecar: DataFrame, num_buckets: int
) -> tuple[DataFrame, DataFrame]:
    """(definitely_new, maybe_seen), partition-local: candidates cogroup
    with the sidecar rows on the bucket id, each task re-insert-merges ONLY
    its bucket's delta tables (merge_cuckoo_rows) and probes all its
    candidates with one vectorized fancy-indexing pass. Nothing is
    collected to or broadcast from the driver (VERDICT r3 #2)."""
    from ..functions.urls import url_hash_bucket

    cand = candidates.withColumn("_pb", url_hash_bucket("url_hash", num_buckets))
    out_schema = T.StructType(
        list(cand.schema.fields) + [T.StructField("_maybe", T.BooleanType(), False)]
    )

    def probe(key, cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cpdf):
            return cpdf.assign(_maybe=np.zeros(0, dtype=bool))
        if not len(spdf):
            return cpdf.assign(_maybe=False)  # bucket never saw a key
        entry = merge_cuckoo_rows(spdf.to_dict("records")).get(int(key[0]))
        if entry is None or entry["saturated"]:
            # degrade: exact anti-join decides — never a false negative
            return cpdf.assign(_maybe=entry is not None)
        mask = entry["n_ck"] - 1
        fp, i1 = _fp_i1_vec(cpdf["url_hash"], mask)
        return cpdf.assign(_maybe=_contains_vec(entry["table"], fp, i1, mask))

    tagged = (
        cand.groupBy("_pb")
        .cogroup(sidecar.groupBy("bucket"))
        .applyInPandas(probe, out_schema)
    )
    return (
        tagged.filter(~F.col("_maybe")).drop("_maybe", "_pb"),
        tagged.filter(F.col("_maybe")).drop("_maybe", "_pb"),
    )


def anti_join_seen_cuckoo(
    candidates: DataFrame,
    seen: DataFrame | None,
    sidecar: DataFrame | None,
    num_buckets: int = 32,
) -> DataFrame:
    """Exact seen-set anti-join routed through the cuckoo prefilter — same
    output as dedup.anti_join_seen. `sidecar` is the cuckoo DataFrame
    (delta rows merge inside each bucket's task)."""
    if seen is None:
        return candidates
    seen_keys = seen.select("url_hash")
    if sidecar is None:
        return candidates.join(seen_keys, "url_hash", "left_anti")
    definitely_new, maybe = split_by_cuckoo(candidates, sidecar, num_buckets)
    return definitely_new.unionByName(maybe.join(seen_keys, "url_hash", "left_anti"))
