"""BCC / cut vertices vs a pure-Python DFS (Hopcroft–Tarjan) oracle —
a third method, independent of both the engine's fundamental-cycle
covering and the gate's removal-reachability SQL."""

from __future__ import annotations

from collections import defaultdict

from graphscope_spark.algorithms.bcc import bcc, cut_points
from graphscope_spark.graph import from_edge_df
from tests.conftest import DEEP_EDGES, DEEP_VERTICES, TINY_EDGES, TINY_VERTICES


def _adj(edges):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    return adj


def _python_blocks(edges, vertices):
    """Iterative Hopcroft–Tarjan: returns (blocks: list[frozenset[edge]],
    cut_vertices: set)."""
    adj = _adj(edges)
    disc, low = {}, {}
    blocks, cuts = [], set()
    stack = []  # edge stack
    timer = [0]

    def dfs(root):
        frames = [(root, None, iter(sorted(adj[root])))]
        disc[root] = low[root] = timer[0]
        timer[0] += 1
        root_children = 0
        while frames:
            v, parent, it = frames[-1]
            advanced = False
            for w in it:
                if w == parent:
                    continue
                if w not in disc:
                    stack.append((min(v, w), max(v, w)))
                    disc[w] = low[w] = timer[0]
                    timer[0] += 1
                    if v == root:
                        root_children += 1
                    frames.append((w, v, iter(sorted(adj[w]))))
                    advanced = True
                    break
                elif disc[w] < disc[v]:
                    stack.append((min(v, w), max(v, w)))
                    low[v] = min(low[v], disc[w])
            if advanced:
                continue
            frames.pop()
            if frames:
                pv = frames[-1][0]
                low[pv] = min(low[pv], low[v])
                if low[v] >= disc[pv]:
                    blk = set()
                    while stack and stack[-1] != (min(pv, v), max(pv, v)):
                        blk.add(stack.pop())
                    if stack:
                        blk.add(stack.pop())
                    if blk:
                        blocks.append(frozenset(blk))
                    if pv != root:
                        cuts.add(pv)
        if root_children > 1:
            cuts.add(root)

    for v in sorted(vertices):
        if v not in disc and adj[v]:
            dfs(v)
    return blocks, cuts


def test_bcc_blocks_match_tarjan(tiny_graph):
    rows = bcc(tiny_graph).collect()
    got = defaultdict(set)
    for r in rows:
        got[r["block"]].add((r["a"], r["b"]))
    exp_blocks, _ = _python_blocks(TINY_EDGES, TINY_VERTICES)
    assert set(map(frozenset, got.values())) == set(exp_blocks)
    # labels are the lexicographic-min canonical "a:b" edge key of the block
    for lbl, es in got.items():
        assert lbl == min(f"{a}:{b}" for a, b in es)


def test_cut_points_match_tarjan(tiny_graph):
    got = {r["vid"] for r in cut_points(tiny_graph).collect()}
    _, exp = _python_blocks(TINY_EDGES, TINY_VERTICES)
    assert exp, "fixture must have at least one articulation point"
    assert got == exp


def test_bcc_on_theta_and_diamond(spark):
    # theta graph (one block) + diamond sharing cut vertex 1 + pendant
    edges = [
        (1, 2), (2, 3), (3, 4), (4, 1), (1, 3),   # diamond: one block
        (4, 5),                                   # bridge
        (5, 6), (6, 7), (7, 5), (5, 8), (8, 7),   # theta on 5,6,7,8: one block
        (8, 9),                                   # pendant bridge
    ]
    # plus a graph deeper than two fused BFS blocks
    for edges, verts in [(edges, set(range(1, 10))), (DEEP_EDGES, DEEP_VERTICES)]:
        g = from_edge_df(
            spark.createDataFrame(edges, "src long, dst long"), num_partitions=4
        )
        exp_blocks, exp_cuts = _python_blocks(edges, verts)
        rows = bcc(g).collect()
        got = defaultdict(set)
        for r in rows:
            got[r["block"]].add((r["a"], r["b"]))
        assert set(map(frozenset, got.values())) == set(exp_blocks)
        assert {r["vid"] for r in cut_points(g).collect()} == exp_cuts
