"""Fixed-iteration PageRank over an edge list — the second iterative
graph algorithm next to connected components (operators/components.py),
with the loop body shaped for scale the same way.

Each iteration is two hash-partitioned shuffles of (node, double):
join ranks onto the (src, dst, deg) edge frame, then a map-side-combined
groupBy(dst) summing contributions. The rank frame is one row per node;
edges never rebuild. Ranks are rounded per iteration so the fixed-
iteration result is bit-reproducible across engines (the DuckDB oracle
unrolls the same rounds as chained CTEs) and across partitionings —
the same shared-literal discipline as the LSH planes and k-means
centroids.

For a fixed small iteration count the lineage stays bounded and needs
no checkpointing; an open-ended convergence loop would add the
`localCheckpoint`-per-round of connected_components unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .components import resolve_broadcast_nodes

#: teleport and damping as separate literals — NEVER derive one from
#: the other at runtime (1 - 0.85 != 0.15 in IEEE doubles; both engines
#: must consume identical constants)
DAMPING: float = 0.85
TELEPORT: float = 0.15
#: per-iteration rank rounding: re-syncs engines' summation orders
#: while staying ~6 digits below the rank scale
ITER_ROUND: int = 12


def pagerank_fixed(
    edges_sym: DataFrame,
    iters: int = 3,
    src: str = "src",
    dst: str = "dst",
    round_digits: int = ITER_ROUND,
) -> DataFrame:
    """PageRank after `iters` power iterations on a symmetrized edge
    list (every node must appear as a source — guaranteed by
    symmetrization, so there are no dangling nodes and no rank leak).

    Returns (node, pr) with pr rounded to `round_digits`.
    """
    e = edges_sym.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    # every iteration joins ranks onto this frame — persist it, or the
    # whole upstream graph build re-executes once per round
    edges = e.join(deg, "src").persist()
    nodes = e.select(F.col("src").alias("node")).distinct()
    n_df = nodes.agg(F.count("*").alias("n"))
    pr = nodes.crossJoin(F.broadcast(n_df)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(iters):
        contrib = (
            edges.join(pr.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("c"))
        )
        pr = contrib.crossJoin(F.broadcast(n_df)).select(
            "node",
            F.round(
                F.lit(TELEPORT) / F.col("n") + F.lit(DAMPING) * F.col("c"),
                round_digits,
            ).alias("pr"),
        )
    return pr


def _oriented_edges(edges: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Degree-ordered orientation of an undirected (u < v) edge list:
    each edge directed from its lower-(degree, id) endpoint to the
    higher one, making the graph a DAG whose max out-degree is
    O(sqrt(m)) — the property that bounds wedge generation at
    O(m^1.5) regardless of degree skew.

    Returns (src, dst, dst_key) lazily localCheckpointed (the frame
    always feeds several consumers).  The orientation key is a
    (degree, id) STRUCT — struct comparison is lexicographic and rides
    codegen, and unlike the packed-long alternative it cannot collide
    for ids >= 1e9 (ids are distinct, so the pair is a total order
    with no ties)."""
    e = edges.select(F.col(u).alias("a"), F.col(v).alias("b"))
    sym = e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    withdeg = (
        e.join(deg.withColumnRenamed("a", "_n1"), F.col("a") == F.col("_n1"))
        .withColumnRenamed("deg", "deg_a")
        .join(deg.withColumnRenamed("a", "_n2"), F.col("b") == F.col("_n2"))
        .withColumnRenamed("deg", "deg_b")
    )
    ka = F.struct(F.col("deg_a").alias("d"), F.col("a").alias("i"))
    kb = F.struct(F.col("deg_b").alias("d"), F.col("b").alias("i"))
    oriented = withdeg.select(
        F.when(ka < kb, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(ka < kb, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(ka < kb, kb).otherwise(ka).alias("dst_key"),
    )
    return oriented.localCheckpoint(eager=False)


def count_triangles(edges: DataFrame, u: str = "u", v: str = "v") -> DataFrame:
    """Exact triangle count via degree-ordered orientation
    (_oriented_edges; wedge generation bounded at O(m^1.5) instead of
    the O(sum deg^2) a naive neighbor join produces on skewed graphs).

    Input: undirected edge list with u < v, one row per edge.
    Returns a 1-row DataFrame (n_triangles long). All joins are
    equi-joins on node ids — hash-partitionable, no cartesian."""
    oriented = _oriented_edges(edges, u, v)
    # wedges u->v, u->w with ord(v) < ord(w); triangle iff v->w oriented
    o1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col("dst_key").alias("kv"),
    )
    o2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"),
        F.col("dst_key").alias("kw"),
    )
    # compact the O(m^1.5) wedge stream to (v, w, count) with a
    # map-side-combined aggregate BEFORE the closure join: the shuffle
    # then carries at most one row per candidate pair instead of every
    # wedge — the volume that matters when edges are too big to
    # broadcast at 100 TB
    wedge_counts = (
        o1.join(o2, "u")
        .where(F.col("kv") < F.col("kw"))
        .groupBy("v", "w")
        .agg(F.count("*").alias("n_wedges"))
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    return (
        wedge_counts.join(closing, ["v", "w"], "left_semi")
        .agg(
            F.coalesce(F.sum("n_wedges"), F.lit(0))
            .cast("long")
            .alias("n_triangles")
        )
    )


def triangles_per_node(
    edges: DataFrame, u: str = "u", v: str = "v"
) -> DataFrame:
    """Exact per-node triangle counts via the same degree-ordered
    orientation as count_triangles, but the closure semi-join keeps
    the wedge's node identities instead of pre-aggregating: each
    surviving triangle (u, v, w) credits all three corners via one
    explode, then a node-keyed count. Nodes in no triangle are absent
    (callers coalesce with 0 after their degree join).

    Input: undirected edge list with u < v. Returns (node, n_tri)."""
    oriented = _oriented_edges(edges, u, v)
    o1 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col("dst_key").alias("kv"),
    )
    o2 = oriented.select(
        F.col("src").alias("u"), F.col("dst").alias("w"),
        F.col("dst_key").alias("kw"),
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tri = (
        o1.join(o2, "u")
        .where(F.col("kv") < F.col("kw"))
        .join(closing, ["v", "w"], "left_semi")
        .select("u", "v", "w")
    )
    return (
        tri.select(
            F.explode(F.array("u", "v", "w")).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )


def kcore(
    edges_sym: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 100,
    dedup: bool = True,
) -> DataFrame:
    """Nodes of the k-core: the maximal subgraph where every node has
    degree >= k, by iterated peeling — drop all nodes with degree < k,
    recompute degrees on the induced subgraph, repeat until stable.
    (The classic decomposition; peeling converges because the node set
    only shrinks.)

    Scale shape per round: ONE groupBy(src) degree aggregate,
    materialized once via localCheckpoint of the surviving-node frame
    (one id per node — orders of magnitude smaller than the edge
    frame), then broadcast into both endpoint semi-joins so the edge
    frame itself never shuffles inside the loop. The convergence
    scalar is a count over the already-checkpointed node frame —
    partition-sum only, no recompute. No driver-side state beyond the
    loop counter and that one scalar. Each round `localCheckpoint`s
    the shrinking edge frame (same lineage-truncation discipline as
    operators/components.connected_components) so the plan never
    deepens with the iteration count.

    Broadcasting the node frame is scale-safe: the k-core node set is
    bounded by |V| ids (the co-supply graph's |V| is the supplier
    dimension), and it only shrinks per round; the hint is gated per
    round on the measured surviving node count vs
    components.BROADCAST_NODE_CAP — a node set over budget peels with
    the original shuffle semi-joins.

    Input contract: `edges_sym` is the SYMMETRIC edge list (both
    (u,v) and (v,u) present). Duplicate edge rows would inflate
    degrees and admit under-connected nodes into the core, so the
    frame is deduplicated once up front (`dedup=False` skips that
    shuffle when the caller guarantees uniqueness).

    Returns a (node,) DataFrame. Termination: node count is
    monotonically non-increasing and integer — at most |V| rounds;
    `max_iters` is a backstop, not a tuning knob. If the backstop
    trips (only possible when max_iters < peel depth), the peel has
    not converged, so kcore raises RuntimeError rather than return a
    partial core.
    """
    e = edges_sym.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    )
    if dedup:
        e = e.dropDuplicates()
    e = e.localCheckpoint()
    prev_n = None
    for _ in range(max_iters):
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        # materialize the surviving-node frame ONCE per round: the
        # convergence count and both semi-joins below all reuse it,
        # instead of re-running the degree aggregate three times
        # (paired A/B runs: skipping this checkpoint in broadcast mode
        # regressed the peel — re-executed aggregates cost more
        # than the checkpoint job's scheduling round-trip)
        keep = (
            deg.where(F.col("deg") >= k)
            .select(F.col("src").alias("node"))
            .localCheckpoint()
        )
        # scalar driver round-trip: partition-sum over the checkpoint
        n = keep.count()
        if n == 0:
            return keep
        if prev_n is not None and n == prev_n:
            return keep
        prev_n = n
        # kcore already has the per-round node count in hand — gate the
        # broadcast hint on it round by round (the set only shrinks)
        bcast = resolve_broadcast_nodes(n)
        keep_b = F.broadcast(keep) if bcast else keep
        e = (
            e.join(keep_b.withColumnRenamed("node", "src"), "src", "left_semi")
            .join(keep_b.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .localCheckpoint()
        )
    raise RuntimeError(
        f"kcore: max_iters={max_iters} exhausted before the peel "
        "converged; the surviving node set may be a superset of the "
        f"true {k}-core"
    )


def hits_fixed(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
    round_digits: int = ITER_ROUND,
):
    """HITS (Kleinberg 1999, "Authoritative Sources in a Hyperlinked
    Environment") after `iters` rounds on a DIRECTED edge list:
    authority(v) = sum of hub scores pointing at v, then hub(u) = sum
    of authority scores u points at, L1-normalized and rounded per
    step so the fixed-round result is reproducible across engines and
    partitionings (same discipline as pagerank_fixed).

    Returns (hubs, authorities) DataFrames of (node, score).

    Scale shape per round: two equi-joins on node ids + two
    map-side-combined groupBys; the edge frame is persisted once; the
    L1 norms ride 1-row broadcasts. Same join/agg skeleton that holds
    pagerank at fact-table edge counts.

    Lineage discipline: every score frame is consumed TWICE per round
    (once by its L1 total, once by the normalization) and then feeds
    the next round's join — without truncation the lazy plan re-embeds
    each round's whole pipeline at every reference and the recompute
    count grows geometrically with `iters` (measured 21 s vs 2 s at
    sf0.1 for 2 rounds).  `localCheckpoint` per score frame keeps each
    round one bounded job, the components/kcore/BFS discipline.
    (r12 A/B: eliding the two normalization checkpoints regressed the
    query ~80% — the re-executed broadcast builds cost more than the
    checkpoint jobs saved. Checkpoint-per-consumed-frame stands.)"""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.persist()
    hubs = e.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("score")
    )
    auth = None
    for _ in range(iters):
        a = (
            e.join(hubs.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("score").alias("s"))
            .localCheckpoint()
        )
        an = a.agg(F.sum("s").alias("tot"))
        auth = a.crossJoin(F.broadcast(an)).select(
            "node", F.round(F.col("s") / F.col("tot"), round_digits).alias("score")
        ).localCheckpoint()
        h = (
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("score").alias("s"))
            .localCheckpoint()
        )
        hn = h.agg(F.sum("s").alias("tot"))
        hubs = h.crossJoin(F.broadcast(hn)).select(
            "node", F.round(F.col("s") / F.col("tot"), round_digits).alias("score")
        ).localCheckpoint()
    return hubs, auth


def bfs_hops(
    edges_sym: DataFrame,
    source: str,
    max_hops: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Single-source unweighted shortest-path hops by frontier BFS.

    Per round: the frontier (nodes first reached last round) joins the
    symmetric edge frame once (hash join on node id), and the newly
    reached set is one left-anti join against the visited set — both
    shuffles are on node ids, no driver-side state beyond the loop
    counter. `visited` and `frontier` are `localCheckpoint`ed per
    round (the components/kcore lineage-truncation discipline) so the
    plan depth stays constant across hops.

    Early exit: one scalar `count()` per round stops the loop as soon
    as the frontier drains — at most `max_hops` rounds, fewer on small
    diameters. Returns (node, hop) with hop = min #edges from
    `source`, covering exactly the nodes within `max_hops`.
    """
    e = edges_sym.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # every hop joins the frontier onto this frame — persist it, or
    # the whole upstream edge build re-executes once per hop
    e = e.persist()
    spark = edges_sym.sparkSession
    visited = spark.createDataFrame(
        [(source, 0)], schema="node string, hop int"
    ).localCheckpoint()
    frontier = visited.select("node")
    for hop in range(1, max_hops + 1):
        reached = (
            e.join(frontier.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"))
            .dropDuplicates()
            .join(visited.select("node"), "node", "left_anti")
        )
        frontier = reached.localCheckpoint()
        # scalar driver round-trip: ONE count for the drain test
        if frontier.count() == 0:
            break
        visited = visited.unionByName(
            frontier.select("node", F.lit(hop).alias("hop"))
        ).localCheckpoint()
    return visited


def label_propagation_fixed(
    edges_sym: DataFrame,
    iters: int,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) with the
    deterministic tie-break the oracle can replicate: every node
    starts labeled with its own id; each round, a node adopts the
    label carried by the most neighbors, ties resolved to the SMALLEST
    label; all nodes update simultaneously for exactly `iters` rounds
    (the fixed-step form — parameter-free community detection whose
    result is a pure function of the edge set).

    Scale shape: the loop-carried label frame is one (node, label)
    row per node — orders of magnitude smaller than the edge frame —
    so it is localCheckpointed once per round and BROADCAST into the
    neighbor join, leaving the persisted edge frame unshuffled for the
    whole run.  The argmax-with-min-tie pick is a node-partitioned
    window max over the per-(node, label) counts (bounded per-key
    frame, not a global window) followed by a co-partitioned groupBy —
    one checkpoint job and two node-keyed shuffles per round, no
    self-join, no driver state.  The node count is measured once, and
    the label frame is broadcast only under
    components.BROADCAST_NODE_CAP.
    Returns (node, label)."""
    e = edges_sym.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    e = e.persist()
    labels = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
        .localCheckpoint()
    )
    # node cardinality is loop-invariant: one count over the
    # materialized checkpoint decides the broadcast hint
    broadcast_nodes = resolve_broadcast_nodes(labels.count())
    by_node = Window.partitionBy("node")
    for _ in range(iters):
        lab_b = F.broadcast(labels) if broadcast_nodes else labels
        cnt = (
            e.join(lab_b.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"), "lab")
            .agg(F.count("*").alias("c"))
        )
        labels = (
            cnt.withColumn("mc", F.max("c").over(by_node))
            .where(F.col("c") == F.col("mc"))
            .groupBy("node")
            .agg(F.min("lab").alias("lab"))
            .localCheckpoint()
        )
    return labels.select("node", F.col("lab").alias("label"))
