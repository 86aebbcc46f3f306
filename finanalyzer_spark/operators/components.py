"""Distributed connected components over an edge list.

The missing stage between near-dup *candidate pairs* (minhash/LSH,
operators/dedup.py) and an actual deduplicated corpus: pairs form a
graph; each connected component is one duplicate cluster; the cluster
representative (canonical doc) is the minimum doc id in the component.

Algorithm: iterative min-label propagation with pointer jumping.

* labels start as each node's own id;
* each round every node takes the min label over itself and its
  neighbors (one hash join + partial-aggregated groupBy — map-side
  combine keeps the shuffle at one row per (node, distinct label));
* a pointer-jumping step (label := label's label) follows each round,
  collapsing chains so convergence is ~O(log diameter) rounds rather
  than O(diameter);
* every round is `localCheckpoint`-ed, truncating the lineage so the
  plan does not grow with iterations (a growing lineage is the classic
  iterative-Spark failure mode — reanalysis cost per round and stack
  overflows at scale);
* monotone convergence: labels only decrease, so a round with zero
  changes is a fixpoint and the loop exits.

At 100 TB / billions of edges the same loop holds: both joins shuffle
on node id, the label frame is one row per node, and the per-round
cost is two shuffles of (node, label) longs. For graphs with massive
diameter the two-phase star contraction of Kiveris et al.
("Connected Components in MapReduce and Beyond", SoCC'14) converges in
fewer rounds; dedup-cluster graphs are small-diameter (near-clique
clusters), where min-propagation + pointer jumping is the cheaper
loop body.

Reference parity: the reference's only dedup is single-table key dedup
(redundancy.sql ROW_NUMBER) — clustering across a similarity relation
is part of the extended LLM-data-pipeline surface (BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Largest per-node frame (rows) the loop operators will hard-hint
#: F.broadcast on. A (long, long) row costs ~50 bytes in the
#: driver-built hash relation, so 2M rows ≈ 100 MB — safely inside a
#: 4-8 GiB executor while far above the dimension-sized graphs these
#: plans run on. F.broadcast bypasses autoBroadcastJoinThreshold, so
#: the hint is gated on a MEASURED node count instead of given
#: unconditionally: a web-scale node set falls back to shuffle joins
#: rather than OOMing the driver.
BROADCAST_NODE_CAP = 2_000_000


def resolve_broadcast_nodes(n_nodes: int) -> bool:
    """Gate for the per-round node-frame broadcast hint: broadcast iff
    the measured node count fits BROADCAST_NODE_CAP."""
    return n_nodes <= BROADCAST_NODE_CAP


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    symmetric: bool = False,
) -> DataFrame:
    """(node, component) for every node appearing in `edges`;
    `component` is the minimum node id of the connected component.

    Exact (runs to fixpoint; `max_iter` is a safety bound — with
    pointer jumping 25 rounds covers graphs of diameter ~2^25). A
    loop that exhausts `max_iter` raises RuntimeError rather than
    return unconverged labels.

    Per round (the kcore/label-prop discipline): the label frame
    — one row per node, shrinking in label cardinality — is
    localCheckpointed once and BROADCAST into the neighbor join, so
    the persisted symmetric edge frame never re-shuffles inside the
    loop; the min-label frame is materialized BEFORE the pointer-jump
    self-join (both join sides derive from it — without the
    checkpoint the union+groupBy subtree executes twice per round).
    The node count is measured once, and the label frame is broadcast
    only under BROADCAST_NODE_CAP. `symmetric=True` promises the input already contains both
    directions of every edge (e.g. grid-DBSCAN's pair stream, built by
    a symmetric neighborhood join), skipping the union + distinct
    exchange — correctness never needed the dedup (duplicate edges
    feed a min aggregate), only the symmetry."""
    e = edges.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    if symmetric:
        sym = e
    else:
        sym = e.union(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).distinct()
    sym = sym.persist()

    # round 0 folded into init: label = min(self, min neighbor) is a
    # groupBy over sym (no join needed when every label is still its
    # own node id)
    labels = (
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.least(F.first("a"), F.min("b")).alias("label"))
        .localCheckpoint()
    )

    # fixpoint test via the label-sum invariant: every update
    # strictly DECREASES some node's label and never increases any, so
    # the exact sum of labels is strictly monotone decreasing until the
    # fixpoint — "no label changed this round" ⟺ "sum unchanged". The
    # old test was a join of the new frame (hash-partitioned on
    # `label` after the pointer jump) against the old (partitioned on
    # `node`) — two exchanges + a limit job per round; the sum is one
    # narrow aggregate over the just-materialized checkpoint blocks.
    # decimal(38,0): ids may be 64-bit content hashes (dedup cluster
    # graphs), whose long sum could wrap — the invariant must be exact.
    def _label_sum(df: DataFrame):
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).first()[0]

    # ONE aggregate over the materialized checkpoint yields both the
    # node count (loop-invariant; decides the per-round broadcast hint)
    # and the ROUND-0 label sum. Seeding prev_sum from round 0 lets an
    # input already at its fixpoint after the init fold break after ONE
    # round instead of two (3 jobs saved on near-clique graphs).
    n_nodes, prev_sum = labels.agg(
        F.count("*"), F.sum(F.col("label").cast("decimal(38,0)"))
    ).first()
    broadcast_nodes = resolve_broadcast_nodes(n_nodes)

    for _ in range(max_iter):
        lab_b = F.broadcast(labels) if broadcast_nodes else labels
        nbr = sym.join(
            lab_b.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "label")
        # materialize the min-label frame once: the pointer-jump
        # self-join consumes it on BOTH sides. (Skipping this
        # checkpoint in broadcast mode and re-running the small groupBy
        # on the broadcast side was measured in paired A/B runs: the
        # re-executed exchange + broadcast build cost MORE than the
        # checkpoint job it saved, consistently across the whole loop
        # family. Checkpoint-per-consumed-frame stands.)
        new = (
            labels.select("node", "label")
            .union(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        # pointer jumping: follow the label one hop (label is always a
        # live node id, so the join is inner)
        hop = new.select(
            F.col("node").alias("label"), F.col("label").alias("_label2")
        )
        hop_b = F.broadcast(hop) if broadcast_nodes else hop
        new = new.join(hop_b, "label").select(
            "node", F.least("label", "_label2").alias("label")
        )
        new = new.localCheckpoint()
        labels = new

        s = _label_sum(new)
        if s == prev_sum:
            break
        prev_sum = s
    else:
        sym.unpersist()
        raise RuntimeError(
            f"connected_components: max_iter={max_iter} rounds ended "
            "before the labels reached their fixpoint"
        )

    sym.unpersist()
    return labels.select("node", F.col("label").alias("component"))
