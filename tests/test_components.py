"""Connected components: chains, cliques, determinism, convergence speed."""

from __future__ import annotations

import pyspark.sql.functions as F

from opentelemetry_collector_spark.operators.components import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {r.node: r.comp for r in connected_components(df, **kw).collect()}


def test_two_cliques_and_a_chain(spark):
    edges = [(1, 2), (2, 3), (1, 3),          # clique {1,2,3}
             (10, 11), (11, 12),              # path {10,11,12}
             (20, 21)]                        # pair {20,21}
    got = _cc(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_long_chain_converges_with_pointer_jumping(spark):
    """A 64-node path has diameter 63; plain min-propagation would need 63
    rounds — pointer jumping must close it within the default max_iters=30
    (O(log d) rounds)."""
    edges = [(i, i + 1) for i in range(63)]
    got = _cc(spark, edges)
    assert set(got.values()) == {0} and len(got) == 64


def test_transitive_closure_beats_greedy_prune(spark):
    """A≈B, B≈C but A̸≈C: components put all three together (keep ONE of
    {A,B,C}); the greedy pairwise rule would keep A and C."""
    got = _cc(spark, [(1, 2), (2, 3)])
    assert got == {1: 1, 2: 1, 3: 1}


def test_nodes_are_edge_endpoints_only(spark):
    got = _cc(spark, [(5, 7)])
    assert set(got) == {5, 7}


def test_deterministic_under_partitioning(spark):
    edges = [(i, (i * 7) % 40) for i in range(40) if i != (i * 7) % 40]
    df1 = spark.createDataFrame(edges, "id_a long, id_b long").coalesce(1)
    df16 = spark.createDataFrame(edges, "id_a long, id_b long").repartition(16)
    a = {r.node: r.comp for r in connected_components(df1).collect()}
    b = {r.node: r.comp for r in connected_components(df16).collect()}
    assert a == b


def test_unconverged_raises_instead_of_wrong_labels(spark):
    import pytest

    edges = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iters=2)


# --- fixed-iteration integer PageRank ----------------------------------------


def _pr_ref(edges, iters=5, scale=1_000_000, damp=85):
    """Sequential scalar replica of the integer recurrence."""
    outw = {}
    for s, _d, w in edges:
        outw[s] = outw.get(s, 0) + w
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    base = (100 - damp) * scale // 100
    r = {n: scale for n in nodes}
    for _ in range(iters):
        nxt = {n: base for n in nodes}
        for s, d, w in edges:
            nxt[d] += (damp * r[s] * w) // (100 * outw[s])
        r = nxt
    return r


def _pr(spark, edges, **kw):
    from opentelemetry_collector_spark.operators.components import pagerank_fixed

    df = spark.createDataFrame(edges, "src string, dst string, w long")
    return {
        r.node: r.rank_int for r in pagerank_fixed(df, "src", "dst", "w", **kw).collect()
    }


def test_pagerank_matches_scalar_replica(spark):
    edges = [("a", "b", 3), ("b", "a", 1), ("a", "c", 1), ("c", "b", 2),
             ("d", "a", 5), ("b", "d", 1)]
    assert _pr(spark, edges) == _pr_ref(edges)


def test_pagerank_symmetric_cycle_equal_ranks(spark):
    got = _pr(spark, [("x", "y", 1), ("y", "x", 1)])
    assert got["x"] == got["y"]


def test_pagerank_hub_outranks_leaves(spark):
    edges = [(f"leaf{i}", "hub", 1) for i in range(6)]
    got = _pr(spark, edges)
    assert got["hub"] > got["leaf0"]
    # leaves have no in-edges: rank settles at the teleport base
    assert got["leaf0"] == 150000


def test_pagerank_deterministic_under_partitioning(spark):
    from opentelemetry_collector_spark.operators.components import pagerank_fixed

    edges = [(f"n{i}", f"n{(i * 3 + 1) % 17}", 1 + i % 4) for i in range(50)]
    a = spark.createDataFrame(edges, "src string, dst string, w long").coalesce(1)
    b = spark.createDataFrame(edges, "src string, dst string, w long").repartition(16)
    ra = {r.node: r.rank_int for r in pagerank_fixed(a, "src", "dst", "w").collect()}
    rb = {r.node: r.rank_int for r in pagerank_fixed(b, "src", "dst", "w").collect()}
    assert ra == rb == _pr_ref(edges)


# --- fixed-iteration synchronous label propagation ---------------------------


def _lpa_ref(edges, iters=3):
    """Sequential scalar replica of the sync-LPA recurrence."""
    und = {}
    for s, d, w in edges:
        if s == d:
            continue
        und.setdefault(s, {}).setdefault(d, 0)
        und.setdefault(d, {}).setdefault(s, 0)
        und[s][d] += w
        und[d][s] += w
    nodes = sorted(und)
    lbl = {n: n for n in nodes}
    for _ in range(iters):
        nxt = {}
        for n in nodes:
            votes = {}
            for m, w in und[n].items():
                votes[lbl[m]] = votes.get(lbl[m], 0) + w
            mx = max(votes.values())
            nxt[n] = min(l for l, v in votes.items() if v == mx)
        lbl = nxt
    return lbl


def _lpa(spark, edges, **kw):
    from opentelemetry_collector_spark.operators.components import (
        label_propagation_fixed,
    )

    df = spark.createDataFrame(edges, "src long, dst long, w long")
    return {
        r.node: r.community
        for r in label_propagation_fixed(df, "src", "dst", "w", **kw).collect()
    }


def test_lpa_matches_scalar_replica(spark):
    edges = [(1, 2, 5), (2, 3, 5), (1, 3, 1), (3, 4, 1),
             (4, 5, 5), (5, 6, 5), (4, 6, 1), (7, 7, 9)]
    assert _lpa(spark, edges) == _lpa_ref(edges)


def test_lpa_drops_self_loop_only_node(spark):
    """Node 7's only edge is the (7, 7, 9) self-loop: it has no neighbor to
    vote, so it is not a node of the result; every other endpoint is."""
    edges = [(1, 2, 5), (2, 3, 5), (1, 3, 1), (3, 4, 1),
             (4, 5, 5), (5, 6, 5), (4, 6, 1), (7, 7, 9)]
    got = _lpa(spark, edges)
    assert 7 not in got
    assert set(got) == {1, 2, 3, 4, 5, 6}


def test_lpa_bridge_does_not_merge_dense_communities(spark):
    """Two dense triangles joined by one weak bridge: components would
    merge them; LPA keeps two communities."""
    tri1 = [(1, 2, 10), (2, 3, 10), (1, 3, 10)]
    tri2 = [(11, 12, 10), (12, 13, 10), (11, 13, 10)]
    got = _lpa(spark, tri1 + tri2 + [(3, 11, 1)])
    assert got == _lpa_ref(tri1 + tri2 + [(3, 11, 1)])
    comm = {}
    for n, c in got.items():
        comm.setdefault(c, set()).add(n)
    assert {frozenset({1, 2, 3}), frozenset({11, 12, 13})} <= {
        frozenset(v) for v in comm.values()
    }


def test_lpa_deterministic_under_partitioning(spark):
    from opentelemetry_collector_spark.operators.components import (
        label_propagation_fixed,
    )

    edges = [(i, (i * 5 + 2) % 23, 1 + i % 3) for i in range(60)]
    a = spark.createDataFrame(edges, "src long, dst long, w long").coalesce(1)
    b = spark.createDataFrame(edges, "src long, dst long, w long").repartition(16)
    ra = {r.node: r.community for r in label_propagation_fixed(a, "src", "dst", "w").collect()}
    rb = {r.node: r.community for r in label_propagation_fixed(b, "src", "dst", "w").collect()}
    assert ra == rb == _lpa_ref(edges)
