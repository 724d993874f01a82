"""Matching family, core orderings, and subgraph counts vs pure-Python
oracles on the tiny fixture graph."""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

from graphscope_spark.algorithms.matching import (
    maximal_matching,
    min_dominating_set,
    min_edge_cover,
)
from graphscope_spark.algorithms.ordering import degeneracy_order, onion_layers
from graphscope_spark.algorithms.subgraph import kclique4_count, rectangle_count
from tests.conftest import TINY_EDGES, TINY_VERTICES


def _adj(edges):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    return adj


def _python_coreness(edges, vertices):
    adj = {v: set(n) for v, n in _adj(edges).items()}
    for v in vertices:
        adj.setdefault(v, set())
    core = {}
    remaining = dict(adj)
    k = 0
    while remaining:
        while True:
            peel = [v for v, n in remaining.items() if len(n) <= k]
            if not peel:
                break
            for v in peel:
                core[v] = k
                for w in remaining[v]:
                    remaining[w].discard(v)
                del remaining[v]
        k += 1
    return core


def test_maximal_matching_is_valid_and_maximal(tiny_graph):
    got = [(r["a"], r["b"]) for r in maximal_matching(tiny_graph).collect()]
    adj = _adj(TINY_EDGES)
    matched = set()
    for a, b in got:
        assert a < b and b in adj[a]
        assert a not in matched and b not in matched, "not a matching"
        matched |= {a, b}
    for u in TINY_VERTICES - matched:
        assert not (adj[u] - matched), f"edge ({u}, ·) could be added — not maximal"


def test_min_edge_cover_covers_every_nonisolated_vertex(tiny_graph):
    got = [(r["a"], r["b"]) for r in min_edge_cover(tiny_graph).collect()]
    adj = _adj(TINY_EDGES)
    covered = {v for e in got for v in e}
    for a, b in got:
        assert a < b and b in adj[a]
    non_isolated = {v for v in TINY_VERTICES if adj[v]}
    assert covered == non_isolated
    # Gallai: with a maximal matching M, |cover| ≤ n_nonisolated − |M|
    m = len(maximal_matching(tiny_graph).collect())
    assert len(got) <= len(non_isolated) - m


def test_min_dominating_set_dominates(tiny_graph):
    got = {r["vid"] for r in min_dominating_set(tiny_graph).collect()}
    adj = _adj(TINY_EDGES)
    for v in TINY_VERTICES:
        assert v in got or (adj[v] & got), f"{v} undominated"
    # greedy never picks a vertex whose closed neighbourhood is already
    # fully dominated at selection time — weak sanity: no strict subset of
    # `got` obtained by dropping one element still dominates
    for drop in got:
        rest = got - {drop}
        assert any(
            v not in rest and not (adj[v] & rest) for v in TINY_VERTICES
        ), f"{drop} is redundant — not a greedy-minimal set"


def test_degeneracy_order_is_valid(tiny_graph):
    rows = {r["vid"]: r["rank"] for r in degeneracy_order(tiny_graph).collect()}
    assert set(rows) == TINY_VERTICES
    core = _python_coreness(TINY_EDGES, TINY_VERTICES)
    dg = max(core.values())
    adj = _adj(TINY_EDGES)
    # python mirror of the parallel peel at the degeneracy
    remaining, rnd, expect = set(TINY_VERTICES), 0, {}
    while remaining:
        rnd += 1
        peel = [v for v in remaining if len(adj[v] & remaining) <= dg]
        assert peel, "parallel peel stalled below the degeneracy"
        for v in peel:
            expect[v] = rnd
        remaining -= set(peel)
    assert rows == expect


def test_onion_layers_match_python_mirror(tiny_graph):
    rows = {r["vid"]: r["layer"] for r in onion_layers(tiny_graph).collect()}
    core = _python_coreness(TINY_EDGES, TINY_VERTICES)
    adj = _adj(TINY_EDGES)
    remaining, rnd, expect = set(TINY_VERTICES), 0, {}
    while remaining:
        rnd += 1
        peel = [
            v
            for v in remaining
            if len([w for w in adj[v] & remaining if core[w] >= core[v]]) <= core[v]
        ]
        assert peel, "onion peel stalled"
        for v in peel:
            expect[v] = rnd
        remaining -= set(peel)
    assert rows == expect


def _python_counts(edges, vertices):
    adj = _adj(edges)
    und = {(min(u, v), max(u, v)) for u, v in edges if u != v}
    c4 = sum(
        1
        for q in combinations(sorted(vertices), 4)
        if all((a, b) in und for a, b in combinations(q, 2))
    )
    rect = 0
    for q in combinations(sorted(vertices), 4):
        # count 4-cycles on the quadruple: 3 pairings, each a C4 iff its
        # 4 cycle edges are present
        a, b, c, d = q
        for cyc in ((a, b, c, d), (a, b, d, c), (a, c, b, d)):
            w, x, y, z = cyc
            if (
                (min(w, x), max(w, x)) in und
                and (min(x, y), max(x, y)) in und
                and (min(y, z), max(y, z)) in und
                and (min(z, w), max(z, w)) in und
            ):
                rect += 1
    return c4, rect


def test_subgraph_counts_match_bruteforce(tiny_graph):
    c4, rect = _python_counts(TINY_EDGES, TINY_VERTICES)
    assert rect >= 1  # cycle 1-4-5-3 exists — the rectangle case is non-vacuous
    got_c4 = kclique4_count(tiny_graph).collect()[0]["cliques4"]
    got_rect = rectangle_count(tiny_graph).collect()[0]["rectangles"]
    assert got_c4 == c4
    assert got_rect == rect


def test_subgraph_counts_on_dense_graph(spark):
    from graphscope_spark.graph import from_edge_df

    # K5 on {0..4} (five 4-cliques, fifteen 4-cycles) + a pendant path
    verts = range(5)
    edges = [(a, b) for a, b in combinations(verts, 2)] + [(4, 5), (5, 6)]
    g = from_edge_df(spark.createDataFrame(edges, "src long, dst long"), num_partitions=4)
    c4, rect = _python_counts(edges, set(range(7)))
    assert c4 == 5
    assert kclique4_count(g).collect()[0]["cliques4"] == c4
    assert rectangle_count(g).collect()[0]["rectangles"] == rect


def test_bounded_driver_paths_match_distributed(tiny_graph):
    """coreness / degeneracy_order / onion_layers: the bounded-driver fast
    path (default) and the distributed loop (max_driver_edges=0) must
    produce identical tables — the same two-path contract as
    min_vertex_cover."""
    from graphscope_spark.algorithms.kcore import coreness
    from graphscope_spark.algorithms.ordering import degeneracy_order, onion_layers

    for fn, col in ((coreness, "core"), (degeneracy_order, "rank"),
                    (onion_layers, "layer")):
        fast = {r["vid"]: r[col] for r in fn(tiny_graph).collect()}
        dist = {r["vid"]: r[col] for r in
                fn(tiny_graph, max_driver_edges=0).collect()}
        assert fast == dist, fn.__name__
    # the guarded tail finish (local_cutoff default) and the
    # fully-distributed peel (local_cutoff=0) must agree too, at even and
    # odd block sizes (the tail hand-off offset is the block-end round)
    for k in (2, 3):
        for fn, col in ((degeneracy_order, "rank"), (onion_layers, "layer")):
            tail = {r["vid"]: r[col] for r in
                    fn(tiny_graph, max_driver_edges=0, fused_rounds=k).collect()}
            full = {r["vid"]: r[col] for r in
                    fn(tiny_graph, max_driver_edges=0, fused_rounds=k,
                       local_cutoff=0).collect()}
            assert tail == full, (fn.__name__, k)
        fused = {r["vid"]: r["core"] for r in
                 coreness(tiny_graph, max_driver_edges=0, fused_rounds=k).collect()}
        assert fused == {r["vid"]: r["core"] for r in
                         coreness(tiny_graph).collect()}, ("coreness", k)
