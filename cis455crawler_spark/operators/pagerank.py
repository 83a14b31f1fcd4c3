"""PageRank over the crawled link graph — iterative DataFrame joins.

Re-expresses the reference's three-job MapReduce pipeline
(/root/reference/Ranker/src/edu/upenn/cis455/mapreduce/job/):
  FindSinks.java:15-49   — label nodes parent/child, keep edges whose target
                           has both labels (drops edges into sinks)
  RemoveSinks.java:21-29 — seed every node's rank with 1.0
  Ranker.java:37-73      — per iteration: each node sends rank/outdegree to
                           each outlink; new rank = 0.15 + 0.85 * sum

The reference re-emits the adjacency list through every shuffle (its reduce
must rebuild outlinks, Ranker.java:52-73); the DataFrame form keeps edges as
their own cached relation so the adjacency never reshuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAMPING = 0.85  # Ranker.java:70
BASE = 0.15


def remove_sink_edges(edges: DataFrame) -> DataFrame:
    """Keep edges whose dst also appears as a src (has outlinks) — one semi
    join replaces FindSinks' parent/child label trick."""
    sources = edges.select(F.col("src").alias("node")).distinct()
    return edges.join(sources, edges.dst == sources.node, "left_semi")


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    drop_sinks: bool = True,
    checkpoint_every: int = 4,
) -> DataFrame:
    """ranks(node STRING, rank DOUBLE) after `iterations` steps on the
    (optionally sink-free) graph. Nodes = all srcs (reference ranks only
    pages with outlinks after RemoveSinks prefixes rank to adjacency rows)."""
    if drop_sinks:
        edges = remove_sink_edges(edges)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(BASE).alias("base"), F.lit(1.0).alias("rank0"))
    )
    return _power_iterate(edges, nodes, iterations, checkpoint_every)


def _power_iterate(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int,
    checkpoint_every: int,
    outdeg: DataFrame | None = None,
    prepared: bool = False,
    eager_release: bool = False,
) -> DataFrame:
    """Shared rank recurrence for pagerank()/trustrank(): `nodes` carries
    (node, base, rank0); rank_{i} = base + DAMPING * Σ(rank_{i-1}/outdeg)
    over inbound edges; nodes with no inbound keep their base. The one
    place the sink-free/distinct/outdeg/contribs/checkpoint machinery
    lives — the two operators differ only in their teleport vector.

    prepared=True means `edges` is ALREADY (src,dst)-projected, distinct
    and cached; passing `outdeg` skips its aggregate — so a caller running
    two chains over one graph (spam_mass) prepares the adjacency once.

    eager_release=True materializes the final ranks (eager localCheckpoint)
    and unpersists every cache THIS call created before returning — for
    long-lived sessions that invoke the recurrence repeatedly (the crawl
    loop's priority='trust' knob runs it every round; .cache() entries are
    CacheManager strong references that no GC ever frees, so without the
    release each round would pin three more cached frames forever)."""
    created = []
    if not prepared:
        edges = edges.select("src", "dst").distinct().cache()
        created.append(edges)
    if outdeg is None:
        outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg")).cache()
        created.append(outdeg)
    nodes = nodes.cache()
    created.append(nodes)
    ranks = nodes.select("node", F.col("rank0").alias("rank"))
    for i in range(iterations):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
        )
        incoming = contribs.groupBy("node").agg(F.sum("c").alias("_in"))
        ranks = nodes.join(incoming, "node", "left").select(
            "node",
            (
                F.col("base") + F.lit(DAMPING) * F.coalesce("_in", F.lit(0.0))
            ).alias("rank"),
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint()  # cut lineage across iterations
    if eager_release:
        # eager: materializes the result THROUGH the caches, then frees them
        # (localCheckpoint blocks are RDD-scoped — the ContextCleaner drops
        # them once the result is unreferenced, unlike CacheManager entries)
        ranks = ranks.localCheckpoint()
        for df in created:
            df.unpersist()
    return ranks


def trustrank(
    edges: DataFrame,
    trusted: DataFrame,
    iterations: int = 5,
    drop_sinks: bool = True,
    checkpoint_every: int = 4,
    eager_release: bool = False,
) -> DataFrame:
    """Personalized PageRank over a trusted seed set (TrustRank, Gyöngyi et
    al., VLDB'04) — the link-spam demotion signal the reference's global
    Ranker (Ranker.java:37-73) cannot express: teleport mass lands ONLY on
    trusted nodes, so rank reaches a page exclusively via link paths from
    the trust set; an interlinked spam cluster with no inbound trust path
    scores exactly 0 however densely it self-links. Same damping/base
    constants as pagerank() (Ranker.java:70); `trusted` is a 1-column
    (node) DataFrame, broadcast (trust seeds are small by construction).
    Ranked nodes = all srcs, like pagerank()."""
    if drop_sinks:
        edges = remove_sink_edges(edges)
    srcs = edges.select(F.col("src").alias("node")).distinct()
    nodes = (
        srcs.join(
            F.broadcast(
                trusted.select(F.col(trusted.columns[0]).alias("node"))
                .distinct()
                .withColumn("_t", F.lit(True))
            ),
            "node",
            "left",
        )
        .select(
            "node",
            F.when(F.col("_t"), F.lit(BASE)).otherwise(F.lit(0.0)).alias("base"),
            F.when(F.col("_t"), F.lit(1.0)).otherwise(F.lit(0.0)).alias("rank0"),
        )
    )
    return _power_iterate(
        edges, nodes, iterations, checkpoint_every, eager_release=eager_release
    )


def _l1_scatter(
    edges: DataFrame,
    scores: DataFrame,
    from_col: str,
    to_col: str,
    score_col: str,
    out_col: str,
    div_col: str | None = None,
) -> DataFrame:
    """One HITS half-step, SPARSE: out(n) = sum of scores over edges arriving
    at n via (from_col -> to_col), L1-normalized. Nodes receiving nothing are
    simply ABSENT (score 0) — they contribute nothing to later steps either,
    so the dense zero rows are materialized once at the end of hits(), not
    re-joined every half-step. One keyed join (score side is node-sized —
    AQE broadcasts it), one groupBy shuffle, one broadcast 1-row total (the
    crawl stats job's aggregate-fusion pattern).

    `div_col` (SALSA): a degree column already ON the edge table — each
    scattered score divides by it (score/deg, the same division order as
    a score-side pre-division, so results are bit-identical) without any
    per-iteration degree join: the degree rides the cached edges."""
    term = (
        F.col(score_col) / F.col(div_col) if div_col else F.col(score_col)
    )
    contrib = (
        edges.join(scores, edges[from_col] == scores["node"])
        .groupBy(to_col)
        .agg(F.sum(term).alias("_raw"))
    )
    total = contrib.agg(F.sum("_raw").alias("_t"))
    return contrib.crossJoin(F.broadcast(total)).select(
        F.col(to_col).alias("node"),
        F.when(F.col("_t") > 0, F.col("_raw") / F.col("_t"))
        .otherwise(F.lit(0.0))
        .alias(out_col),
    )


def hits(edges: DataFrame, iterations: int = 3, checkpoint_every: int = 1) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the crawled link graph —
    beyond the reference (its Ranker is PageRank-only, Ranker.java:37-73) but
    the natural companion signal: authorities = pages good to SERVE, hubs =
    pages good to CRAWL FROM (a hub-weighted frontier finds new authorities
    faster, the classic focused-crawl heuristic).

    Per iteration on the distinct edge set: auth(v) = L1-normalized sum of
    hub(u) over u->v, then hub(u) = L1-normalized sum of the NEW auth(v)
    over u->v (the standard update order). L1 (not L2) normalization keeps
    the fixpoint SQL-expressible for the DuckDB oracle; the ranking order it
    induces is identical. Output: (node, hub, auth) for every node on either
    side of an edge (empty for an empty edge set; the zero-total guard in
    _l1_scatter is defensive — with >=1 edge every round's total is >0).

    Scale shape: scores live sparsely on the nodes that HAVE them (zero rows
    join in once, at the end); each half-step is join + partial/final agg +
    broadcast total; checkpoint_every (default every iteration) truncates the
    lineage so iteration plans stay flat — raise it if node-count
    materialization per round dominates (pagerank uses 4)."""
    if iterations < 1:
        raise ValueError("hits() needs iterations >= 1")
    edges = edges.select("src", "dst").distinct().cache()
    # initial hub = 1.0 on nodes WITH out-edges (sink hubs never contribute:
    # they have no edges to scatter over — same fixpoint as the dense init)
    hub = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "hub", F.lit(1.0)
    )
    for i in range(iterations):
        auth = _l1_scatter(edges, hub, "src", "dst", "hub", "auth")
        hub = _l1_scatter(edges, auth, "dst", "src", "auth", "hub")
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            # checkpointing hub cuts the cross-iteration lineage for BOTH
            # scores (auth derives from the previous checkpointed hub);
            # eagerly checkpointing auth too would run a second full job
            # per iteration whose result is never re-read
            hub = hub.localCheckpoint()
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
        )
    )


def salsa(
    edges: DataFrame, iterations: int = 3, checkpoint_every: int = 1
) -> DataFrame:
    """SALSA hubs & authorities (Lempel & Moran, WWW 2000) — the
    random-walk variant of HITS: each half-step scatters score divided by
    the scattering node's degree (a two-step alternating random walk on
    the bipartite hub/authority graph), instead of HITS' raw sums. In
    practice SALSA resists the tightly-knit-community effect that lets a
    small dense cluster capture HITS' principal eigenvector.

        auth_i(v) = L1norm( sum over u->v of hub_{i-1}(u) / outdeg(u) )
        hub_i(u)  = L1norm( sum over u->v of auth_i(v)    / indeg(v)  )

    Same sparse shape as hits(), except the degrees RIDE THE EDGE TABLE:
    both degree columns are folded onto the (deduplicated) edges once up
    front, and each _l1_scatter half-step divides by the rider column
    inside its aggregate (div_col) — no per-iteration degree joins
    (measured: 9.9 s -> 6.3 s warm on the sf0.1 entry). The folded table
    is materialized with a LAZY localCheckpoint, not cache(): cache()
    pins an edge-sized InMemoryRelation in the session CacheManager until
    an unpersist nobody calls (the ADVICE-r2 in-operator-cache leak,
    see chunking.py), while checkpoint blocks are freed by the context
    cleaner when the result is dropped."""
    if iterations < 1:
        raise ValueError("salsa() needs iterations >= 1")
    edges = edges.select("src", "dst").distinct()
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    indeg = edges.groupBy("dst").agg(F.count("*").alias("indeg"))
    # every edge survives these inner joins (its src HAS out-degree, its
    # dst HAS in-degree), so `weighted` IS the distinct edge set and every
    # downstream consumer reads it — one materialization, no second copy
    weighted = (
        edges.join(outdeg, "src").join(indeg, "dst")
        .select("src", "dst", "outdeg", "indeg")
        .localCheckpoint(eager=False)
    )
    hub = (
        weighted.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("hub", F.lit(1.0))
    )
    for i in range(iterations):
        auth = _l1_scatter(
            weighted, hub, "src", "dst", "hub", "auth", div_col="outdeg"
        )
        hub = _l1_scatter(
            weighted, auth, "dst", "src", "auth", "hub", div_col="indeg"
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            # hub's checkpoint covers auth's lineage too (see hits())
            hub = hub.localCheckpoint()
    nodes = (
        weighted.select(F.col("src").alias("node"))
        .union(weighted.select(F.col("dst").alias("node")))
        .distinct()
    )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
        )
    )


def spam_mass(
    edges: DataFrame, trusted: DataFrame, iterations: int = 5
) -> DataFrame:
    """Relative spam-mass estimation (Gyöngyi, Berkhin, Garcia-Molina,
    Pedersen — VLDB 2006, "Link spam detection based on mass estimation"):
    how much of a page's PageRank arrives via paths that do NOT originate
    in the trusted core.

        mass(p) = (PR(p) - scale * TR(p)) / PR(p)

    where TR is TrustRank (teleport restricted to the trusted seeds) and
    scale = |ranked| / |ranked ∩ trusted| re-normalizes TR's teleport
    budget to PageRank's (TR distributes the same 0.15 base over far
    fewer nodes). mass ~ 1: virtually no trust-path support — the
    link-spam signature; mass <= 0: MORE trusted rank than global rank
    (deep inside the trusted neighborhood). PR(p) >= 0.15 for every
    ranked node (uniform base), so the division is safe by construction.

    One extra join over the two rank tables plus a broadcast 1-row scale
    — the rank computations themselves are the shared _power_iterate. The
    graph preparation is shared too: sink removal, the distinct adjacency
    cache, the outdegree aggregate and the ranked-node set are each built
    ONCE and feed both chains (calling pagerank()+trustrank() separately
    would scan and shuffle the edge table twice for identical results)."""
    edges_sf = (
        remove_sink_edges(edges).select("src", "dst").distinct().cache()
    )
    outdeg = (
        edges_sf.groupBy("src").agg(F.count("*").alias("outdeg")).cache()
    )
    srcs = edges_sf.select(F.col("src").alias("node")).distinct().cache()
    t_nodes = (
        trusted.select(F.col(trusted.columns[0]).alias("node"))
        .distinct()
        .withColumn("_t", F.lit(True))
    )
    pr_nodes = srcs.select(
        "node", F.lit(BASE).alias("base"), F.lit(1.0).alias("rank0")
    )
    tr_nodes = srcs.join(F.broadcast(t_nodes), "node", "left").select(
        "node",
        F.when(F.col("_t"), F.lit(BASE)).otherwise(F.lit(0.0)).alias("base"),
        F.when(F.col("_t"), F.lit(1.0)).otherwise(F.lit(0.0)).alias("rank0"),
    )
    pr = _power_iterate(
        edges_sf, pr_nodes, iterations, 4, outdeg=outdeg, prepared=True
    ).withColumnRenamed("rank", "pr")
    tr = _power_iterate(
        edges_sf, tr_nodes, iterations, 4, outdeg=outdeg, prepared=True
    ).withColumnRenamed("rank", "tr")
    counts = (
        pr.join(F.broadcast(t_nodes), "node", "left")
        .agg(
            F.count("*").alias("_n_ranked"),
            F.sum(F.when(F.col("_t"), 1).otherwise(0)).alias("_n_trusted"),
        )
    )
    return (
        pr.join(tr, "node")
        .crossJoin(F.broadcast(counts))
        .select(
            "node",
            F.round("pr", 6).alias("pr"),
            F.round("tr", 6).alias("tr"),
            # _n_trusted can be 0 when every trusted seed is a pure sink
            # (remove_sink_edges drops it from the ranked set): spam_mass is
            # undefined without a trust signal — report 0 (nothing demoted)
            # rather than NULL rows that silently diverge between engines
            F.when(
                F.col("_n_trusted") > 0,
                F.round(
                    (
                        F.col("pr")
                        - F.col("tr")
                        * (F.col("_n_ranked") / F.col("_n_trusted"))
                    )
                    / F.col("pr"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("spam_mass"),
        )
    )
