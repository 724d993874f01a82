"""MIS / bridges / all_simple_paths vs pure-Python oracles."""

from __future__ import annotations

from collections import defaultdict

from graphscope_spark.algorithms.bridges import bridges
from graphscope_spark.algorithms.mis import maximal_independent_set
from graphscope_spark.algorithms.paths import all_simple_paths
from graphscope_spark.graph import from_edge_df
from tests.conftest import DEEP_EDGES, DEEP_VERTICES, TINY_EDGES, TINY_VERTICES


def _adj(edges):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    return adj


def test_mis_is_independent_and_maximal(tiny_graph):
    got = {r["vid"] for r in maximal_independent_set(tiny_graph).collect()}
    adj = _adj(TINY_EDGES)
    for v in got:
        assert not (adj[v] & got), f"{v} has a neighbor in the set"
    for v in TINY_VERTICES - got:
        assert adj[v] & got, f"{v} could be added — not maximal"


def _python_bridges(edges, vertices):
    adj = _adj(edges)
    und = {(min(u, v), max(u, v)) for u, v in edges if u != v}

    def reachable(start, avoid):
        seen, stack = {start}, [start]
        while stack:
            x = stack.pop()
            for y in adj[x]:
                if (min(x, y), max(x, y)) == avoid or y in seen:
                    continue
                seen.add(y)
                stack.append(y)
        return seen

    return {(a, b) for a, b in und if b not in reachable(a, (a, b))}


def test_bridges_matches_python(tiny_graph):
    got = {(r["a"], r["b"]) for r in bridges(tiny_graph).collect()}
    want = _python_bridges(TINY_EDGES, TINY_VERTICES)
    assert got == want


def test_bridges_cycle_plus_tail(spark):
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    g = from_edge_df(spark.createDataFrame(edges, "src long, dst long"), 4)
    got = {(r["a"], r["b"]) for r in bridges(g).collect()}
    assert got == {(3, 4), (4, 5)}
    # deeper than two fused BFS blocks
    g = from_edge_df(spark.createDataFrame(DEEP_EDGES, "src long, dst long"), 4)
    got = {(r["a"], r["b"]) for r in bridges(g).collect()}
    assert got == _python_bridges(DEEP_EDGES, DEEP_VERTICES)


def _python_simple_paths(edges, source, target, cutoff):
    fwd = defaultdict(list)
    for u, v in edges:
        if u != v:
            fwd[u].append(v)
    out = []

    def walk(path):
        if len(path) - 1 > cutoff:
            return
        if path[-1] == target and len(path) > 1:
            out.append("->".join(map(str, path)))
            return
        if len(path) - 1 == cutoff:
            return
        for w in fwd[path[-1]]:
            if w not in path:
                walk(path + [w])

    walk([source])
    return sorted(out)


def test_all_simple_paths_matches_python(tiny_graph):
    got = sorted(r["path"] for r in all_simple_paths(tiny_graph, 1, 5, cutoff=4).collect())
    want = _python_simple_paths(TINY_EDGES, 1, 5, 4)
    assert got == want and len(got) > 1
