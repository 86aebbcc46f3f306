"""k-core decomposition vs a pure-Python peeling reference, plus the
loop bounds of the graph fixpoint operators."""



def _naive_kcore(edges: set[tuple[int, int]], k: int) -> set[int]:
    """Pure-Python peeling reference on an undirected edge set."""
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for node in list(adj):
            if len(adj[node]) < k:
                for nb in adj.pop(node):
                    adj[nb].discard(node)
                changed = True
    return set(adj)


def test_kcore_matches_naive_peel(spark):
    import random

    from finanalyzer_spark.operators.graph import kcore

    rng = random.Random(7)
    nodes = list(range(40))
    edges = set()
    while len(edges) < 120:
        a, b = rng.sample(nodes, 2)
        edges.add((min(a, b), max(a, b)))
    sym = [(a, b) for a, b in edges] + [(b, a) for a, b in edges]
    e = spark.createDataFrame(sym, ["src", "dst"])
    for k in (2, 3, 4):
        got = {r.node for r in kcore(e, k).collect()}
        want = _naive_kcore(edges, k)
        assert got == want, f"k={k}: {sorted(got)} != {sorted(want)}"


def test_kcore_triangle_plus_tail(spark):
    from finanalyzer_spark.operators.graph import kcore

    # triangle 1-2-3 with a pendant 4: 2-core = the triangle only
    und = [(1, 2), (2, 3), (1, 3), (3, 4)]
    sym = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(sym, ["src", "dst"])
    assert {r.node for r in kcore(e, 2).collect()} == {1, 2, 3}
    assert kcore(e, 3).count() == 0


def test_kcore_duplicate_edges_do_not_inflate_degrees(spark):
    from finanalyzer_spark.operators.graph import kcore

    # path 1-2-3: no 2-core. With edge (1,2) duplicated, raw degree
    # counting would see deg(1)=deg(2)=2 and wrongly keep a "core".
    und = [(1, 2), (1, 2), (2, 3)]
    sym = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(sym, ["src", "dst"])
    assert kcore(e, 2).count() == 0
    # opt-out reproduces the inflated-degree behavior on dirty input
    assert kcore(e, 2, dedup=False).count() > 0


def test_kcore_raises_when_max_iters_exhausted(spark):
    import pytest

    from finanalyzer_spark.operators.graph import kcore

    # long path: peeling strips one node from each end per round, so
    # max_iters=1 cannot converge for k=2
    und = [(i, i + 1) for i in range(8)]
    sym = und + [(b, a) for a, b in und]
    e = spark.createDataFrame(sym, ["src", "dst"])
    with pytest.raises(RuntimeError, match="max_iters=1"):
        kcore(e, 2, max_iters=1)


def test_components_raise_when_max_iter_exhausted(spark):
    """A path graph needs several min-label rounds even with pointer
    jumping: one round must raise, the default bound must converge to
    the single component labelled by the minimum node."""
    import pytest

    from finanalyzer_spark.operators.components import connected_components

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(e, max_iter=1)
    got = {
        r["node"]: r["component"]
        for r in connected_components(e).collect()
    }
    assert got == {i: 0 for i in range(33)}


def test_broadcast_nodes_auto_gate(spark):
    """The per-round broadcast hint is gated on a measured node count
    instead of given unconditionally: small graphs broadcast, over-cap
    counts fall back to shuffle joins."""
    from finanalyzer_spark.operators.components import (
        BROADCAST_NODE_CAP,
        connected_components,
        resolve_broadcast_nodes,
    )

    assert resolve_broadcast_nodes(10) is True
    assert resolve_broadcast_nodes(BROADCAST_NODE_CAP) is True
    assert resolve_broadcast_nodes(BROADCAST_NODE_CAP + 1) is False

    # the gated path still converges on a small graph, for every loop
    # operator that gates
    from finanalyzer_spark.operators.graph import (
        kcore,
        label_propagation_fixed,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5)], ["src", "dst"]
    )
    sym = edges.union(edges.selectExpr("dst as src", "src as dst"))
    comp = {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }
    assert comp == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)}
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], ["src", "dst"]
    )
    tsym = tri.union(tri.selectExpr("dst as src", "src as dst"))
    core2 = {r["node"] for r in kcore(tsym, 2).collect()}
    assert core2 == {1, 2, 3}
    labs = label_propagation_fixed(sym, 2)
    assert labs.count() == 5
