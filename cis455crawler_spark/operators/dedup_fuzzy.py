"""Near-duplicate detection for a large-scale training-data pipeline:
exact hash, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

All shuffle-aware shapes: candidate generation via band/bucket equi-joins
(never an O(n^2) cross join), verification only within buckets. Everything is
JVM column math — zero Python UDFs anywhere in this module (numpy appears
only driver-side to derive hash-family constants).

Materialization lifetime: the self-joined intermediates here (`banded`,
`blocks`, `sh`, `tagged`, `cand`) are .cache()d because both join sides read
them. A localCheckpoint(eager=False) variant (the mirrors.py no-leak
pattern) was tried and MEASURED 2.5-3.7x slower at sf0.1 (minhash warm pass
7.7 s vs 2.9 s, ngram-Jaccard 6.9 s vs 1.5 s): checkpoint blocks are
deserialized row objects of the fat shingle/signature arrays and opaque to
Catalyst, while InMemoryRelation stores compressed columnar batches and
still gets column pruning on each self-join side. cache() stays; the cost
is the long-lived-session discipline: the CacheManager holds a strong
reference until unpersist, so callers owning a persistent session should
`spark.catalog.clearCache()` (or track and unpersist) after consuming the
result. One-shot jobs (bench.py, the driver gate, pytest sessions) can
ignore this — executor storage eviction handles it.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint64, shingles, tokenize


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per normalized-text fingerprint.

    groupBy(fp).min(id) + join-back, NEVER a fingerprint-keyed window: a hot
    fingerprint (empty docs, boilerplate error shells — guaranteed at 10^10
    docs) would land its whole duplicate set in ONE window task. The groupBy
    min is map-side combinable (the hot key collapses per partition before
    the shuffle) and the join-back keys on (fp, id) so even the residue
    spreads; requires id_col unique, which exact dedup already assumes.

    Internal columns use a collision-free prefix (operators/bucketed
    internal_tag): a caller whose frame already carries an 'fp' column must
    get it back untouched, not silently overwritten with these hashes."""
    from .bucketed import internal_tag

    tag = internal_tag("_xd", df)
    fpc, keep_id = f"{tag}_fp", f"{tag}_keep_id"
    fp = df.withColumn(fpc, fingerprint64(F.col(text_col)))
    keep = fp.groupBy(fpc).agg(F.min(id_col).alias(keep_id))
    # null-safe fp equality: a NULL text fingerprints to NULL, and NULLs
    # form ONE duplicate group (the window semantics this aggregate+join
    # replaced; a plain equi-join would silently DROP every NULL-fp row).
    # EqualNullSafe join keys still hash-join — no plan degradation.
    cond = F.col(f"l.{fpc}").eqNullSafe(F.col(f"r.{fpc}")) & (
        F.col(f"l.{id_col}") == F.col(f"r.{keep_id}")
    )
    return (
        fp.alias("l")
        .join(keep.alias("r"), cond, "left_semi")
        .select(*df.columns)
    )


_MERSENNE31 = (1 << 31) - 1


def _minhash_params(num_hashes: int, seed: int = 7) -> tuple[list[int], list[int]]:
    rng = np.random.RandomState(seed)
    # Carter-Wegman family mod the Mersenne prime 2^31-1: with h < p and
    # a,b < p every intermediate stays < 2^62, inside ANSI long arithmetic
    a = [int(x) for x in rng.randint(1, _MERSENNE31, size=num_hashes)]
    b = [int(x) for x in rng.randint(0, _MERSENNE31, size=num_hashes)]
    return a, b


def minhash_signatures_from_shingles(
    sh: DataFrame, num_hashes: int = 64, seed: int = 7
) -> DataFrame:
    """(id, sig ARRAY<LONG>) — MinHash over an already-exploded
    distinct-shingle stream sh(id, sh) (_shingle_lists), PURE JVM. Callers
    need the shingle rows anyway (verification), so the expensive
    tokenize+shingle map pass over the corpus runs once, not twice.

    Shingles are hashed with xxhash64 then folded to [0, 2^31-1) (codegen,
    vectorized); slot i is min over shingles of the classic Carter-Wegman
    permutation ``(a_i*h + b_i) mod (2^31-1)`` — every intermediate < 2^62,
    so ANSI long arithmetic never overflows. All num_hashes mins come out of
    ONE partial-aggregated groupBy pass, each shingle hashed exactly once.
    Docs with no shingle rows get no signature (they can never survive
    exact verification either)."""
    a, b = _minhash_params(num_hashes, seed)
    p = F.lit(_MERSENNE31)
    ex = sh.select("id", F.pmod(F.xxhash64("sh"), p).alias("h"))
    agg = ex.groupBy("id").agg(
        *[
            F.min(F.pmod(F.col("h") * F.lit(ai) + F.lit(bi), p)).alias(f"_m{i}")
            for i, (ai, bi) in enumerate(zip(a, b))
        ]
    )
    sig = F.array(
        *[F.coalesce(F.col(f"_m{i}"), F.lit(0).cast("long")) for i in range(num_hashes)]
    )
    return agg.select("id", sig.alias("sig"))


def minhash_lsh_pairs(
    signatures: DataFrame, bands: int = 16, rows_per_band: int = 4
) -> DataFrame:
    """Candidate duplicate pairs via banding: equal band-slice -> same bucket
    -> self-join within bucket only. (id_a < id_b, distinct.)"""
    assert bands * rows_per_band <= 10_000
    banded = signatures.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        F.concat_ws(",", *[
                            F.col("sig")[i].cast("string")
                            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                        ])
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "bucket"),
    ).cache()  # both sides of the self-join read this, not recompute it
    left = banded.alias("l")
    right = banded.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    return pairs


def simhash64(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    token_hash: str = "xxhash64",
) -> DataFrame:
    """(id, simhash LONG) — 64-bit SimHash over tokens, pure JVM columns:
    per bit b, sign of sum over tokens of (bit b of hash(token) ? +1 : -1).

    token_hash picks the per-token hash family:
      * "xxhash64" (default) — fastest, JVM-intrinsic; the production path.
      * "md5" — bit b = bit (b%4) of hex digit b//4 of md5(token). ~2x the
        hash cost, but md5 is computed identically by every engine, so the
        whole operator (bits, banding, hamming) becomes exactly reproducible
        in SQL — the gate entry uses this to earn a hash-checked oracle row
        (the xxhash64 path is differential-tested in pytest instead).
    Both families give i.i.d.-enough bits; SimHash only needs each bit to be
    an unbiased independent hash of the token.
    """
    toks = df.repartition(F.col(id_col)).select(  # parallelize past single-file sources
        F.col(id_col).alias("id"), F.explode(tokenize(F.col(text_col))).alias("tok")
    )
    if token_hash == "xxhash64":
        toks = toks.withColumn("h", F.xxhash64("tok"))
        bit_of = lambda b: F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))
    elif token_hash == "md5":
        toks = toks.withColumn("m", F.md5("tok")).select(
            "id",
            *[
                F.conv(F.substring("m", d + 1, 1), 16, 10).cast("int").alias(f"d{d}")
                for d in range(16)
            ],
        )
        bit_of = lambda b: F.shiftright(F.col(f"d{b // 4}"), b % 4).bitwiseAND(F.lit(1))
    else:  # pragma: no cover
        raise ValueError(f"unknown token_hash {token_hash!r}")
    bit_sums = toks.groupBy("id").agg(
        *[
            F.sum(F.when(bit_of(b) == 1, 1).otherwise(-1)).alias(f"b{b}")
            for b in range(64)
        ]
    )
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim + F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
    return bit_sums.select("id", sim.alias("simhash"))


def hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(sim_df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs by 4-block SimHash banding (any identical 16-bit block
    -> bucket join), verified by exact Hamming distance. By pigeonhole this
    finds ALL pairs with distance <= 3."""
    blocks = sim_df.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 16 * i).bitwiseAND(F.lit(0xFFFF))
                    for i in range(4)
                ]
            )
        ).alias("block", "key"),
    ).cache()  # self-joined below — compute the 64 bit-sums once
    l, r = blocks.alias("l"), blocks.alias("r")
    cands = (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cands.withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b"))).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def ngram_candidate_pairs(
    sh: DataFrame, threshold: float
) -> DataFrame:
    """AllPairs-style prefix-filtered candidate generation over an inverted
    shingle list sh(id, sh) — EXACT (no pair with Jaccard >= threshold is
    missed) yet skew-proof: shingles are globally ordered by (document
    frequency asc, shingle), and only each document's prefix of length
    |A| - ceil(t*|A|) + 1 joins. A boilerplate shingle shared by 10^6
    documents has maximal df, sorts LAST in every document, and never
    reaches the join — the naive inverted-list self-join goes quadratic on
    exactly that shingle.

    Correctness (Bayardo et al., "Scaling Up All Pairs Similarity Search"):
    J(A,B) >= t implies |A∩B| >= ceil(t*max(|A|,|B|)), so under a common
    total order the two prefixes must share at least one element."""
    df_counts = sh.groupBy("sh").agg(F.count("*").alias("df"))
    w_rank = Window.partitionBy("id").orderBy("df", "sh")
    w_n = Window.partitionBy("id")
    ranked = (
        sh.join(df_counts, "sh")
        .withColumn("pos", F.row_number().over(w_rank))
        .withColumn("n", F.count("*").over(w_n))
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    ).select("id", "sh")
    l, r = prefix.alias("l"), prefix.alias("r")
    return (
        l.join(r, (F.col("l.sh") == F.col("r.sh")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def _shingle_lists(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """sh(id, sh): one row per DISTINCT k-token shingle per document."""
    return df.repartition(F.col(id_col)).select(  # parallelize past single-file sources
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(tokenize(F.col(text_col)), k))).alias("sh"),
    )


def exact_jaccard_verify(cand: DataFrame, sh: DataFrame, threshold: float) -> DataFrame:
    """Verify candidate pairs cand(id_a, id_b) against the TRUE shingle-set
    Jaccard computed from sh(id, sh); keep pairs >= threshold. The candidate
    generator (prefix filter, MinHash banding, SimHash blocks, ...) only
    prunes the pair space — this join is what makes the answer exact, so
    false positives never survive regardless of how sloppy the generator is.

    Scale shape: shingle sets are collected ONLY for documents that appear
    in a candidate pair (left-semi restriction first). Candidates are a
    vanishing fraction of a deduplicated web corpus, so at 10^10 docs this
    skips building sorted shingle arrays for ~all of the table — the
    collect_list groupBy runs over |cand docs|, not |corpus|."""
    # cand has two consumers below (the ids restriction and the final join);
    # without the cache the candidate-generation self-join evaluates twice.
    # Candidate pairs are small by construction (that is the generator's job),
    # so caching them is cheap at any scale.
    cand = cand.cache()
    ids = (
        cand.select(F.col("id_a").alias("id"))
        .union(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sets = sh.join(ids, "id", "left_semi").groupBy("id").agg(
        F.sort_array(F.collect_list("sh")).alias("set"), F.count("*").alias("n")
    )
    sa = sets.select(F.col("id").alias("id_a"), F.col("set").alias("set_a"), F.col("n").alias("n_a"))
    sb = sets.select(F.col("id").alias("id_b"), F.col("set").alias("set_b"), F.col("n").alias("n_b"))
    common = F.size(F.array_intersect("set_a", "set_b"))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", common / (F.col("n_a") + F.col("n_b") - common))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard >= threshold: prefix-filtered candidate pairs
    (ngram_candidate_pairs — skew-proof, no frequent-shingle blowup), then
    exact verification by array_intersect over each document's full shingle
    set. Exact answer, no signatures."""
    # cached: read by candidate generation and the set collection
    sh = _shingle_lists(df, text_col, id_col, k).cache()
    return exact_jaccard_verify(ngram_candidate_pairs(sh, threshold), sh, threshold)


def minhash_verified_dups(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    rows_per_band: int = 4,
    shingle_k: int = 3,
    seed: int = 7,
) -> DataFrame:
    """The production corpus-dedup shape (CCNet/FineWeb): MinHash-LSH banding
    generates candidate pairs in near-linear time, then each candidate is
    verified against the EXACT shingle-set Jaccard — the output carries true
    jaccard values and zero false positives. vs the all-pairs exact answer it
    can only MISS pairs the banding failed to recall: P(miss) per pair is
    (1 - J^rows)^bands <= (1 - 0.8^4)^16 ~ 9e-4 at J = threshold = 0.8 and
    vanishes as J -> 1 (where real dups live). The pipeline is fully
    deterministic (seeded hash family), so recall on a FIXED corpus is a
    testable fact, not a random variable — the gate entry's oracle equality
    is verified, not hoped for."""
    # ONE tokenize+shingle pass over the corpus, cached, feeding both the
    # signature build and the exact verification (the two most expensive
    # map-side consumers) — re-deriving shingles for the signatures would
    # run the regex tokenization twice per corpus
    sh = _shingle_lists(df, text_col, id_col, shingle_k).cache()
    sigs = minhash_signatures_from_shingles(sh, num_hashes, seed)
    cand = minhash_lsh_pairs(sigs, bands, rows_per_band)
    return exact_jaccard_verify(cand, sh, threshold)


def embedding_near_dups(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    n_tables: int = 4,
    dim: int | None = None,
    seed: int = 11,
) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded random-hyperplane LSH bucket
    join + exact cosine verify inside buckets (JVM F.aggregate/F.zip_with).

    Bucket cardinality scales with the corpus: 2^n_planes buckets PER TABLE
    and n_tables independent hyperplane tables (OR over tables, like MinHash
    banding). At 10^9 vectors pick n_planes ~ log2(n / target_bucket_size)
    so the within-bucket self-join stays near-linear; raise n_tables to
    recover the recall that more planes cost. Pass `dim` explicitly at scale
    — omitting it falls back to a single-row driver lookup."""
    if dim is None:
        dim = len(emb.select(vec_col).first()[0])
    rng = np.random.RandomState(seed)
    planes = rng.randn(n_tables, n_planes, dim)

    def _dot_lit(plane) -> F.Column:
        arr = F.array(*[F.lit(float(x)) for x in plane])
        return F.aggregate(
            F.zip_with(F.col(vec_col), arr, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sigs = F.array(
        *[
            F.concat_ws(
                "", *[F.when(_dot_lit(p) >= 0, "1").otherwise("0") for p in planes[t]]
            )
            for t in range(n_tables)
        ]
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    tagged = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        norm.alias("nrm"),
        F.posexplode(sigs).alias("table", "bucket"),
    ).cache()  # both self-join sides read this, not recompute n_tables sigs
    l, r = tagged.alias("l"), tagged.alias("r")
    return (
        l.join(
            r,
            (F.col("l.table") == F.col("r.table"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.v").alias("va"),
            F.col("r.v").alias("vb"),
            F.col("l.nrm").alias("na"),
            F.col("r.nrm").alias("nb"),
        )
        .distinct()  # a pair can collide in several tables
        .withColumn(
            "cosine",
            F.aggregate(
                F.zip_with("va", "vb", lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
            )
            / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
