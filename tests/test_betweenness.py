"""Brandes betweenness vs a pure-Python reference implementation."""

from __future__ import annotations

from collections import defaultdict, deque

import numpy as np
from pyspark.sql import functions as F

from graphscope_spark.algorithms.betweenness import betweenness_sampled
from graphscope_spark.graph import from_edge_df
from tests.conftest import DEEP_EDGES, DEEP_VERTICES, TINY_EDGES, TINY_VERTICES


def _python_brandes(edges, vertices, roots):
    """Textbook Brandes dependency sums over the undirected simple graph,
    restricted to the given source set (no normalization)."""
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    bc = dict.fromkeys(vertices, 0.0)
    for s in roots:
        stack, preds = [], defaultdict(list)
        sigma = dict.fromkeys(vertices, 0.0)
        dist = dict.fromkeys(vertices, -1)
        sigma[s], dist[s] = 1.0, 0
        q = deque([s])
        while q:
            v = q.popleft()
            stack.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = dict.fromkeys(vertices, 0.0)
        while stack:
            w = stack.pop()
            for v in preds[w]:
                delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return bc


def test_betweenness_all_roots_matches_python(spark, tiny_graph):
    roots = tiny_graph.vertices.select("vid")
    got = {
        r["vid"]: r["bc"] for r in betweenness_sampled(tiny_graph, roots).collect()
    }
    want = _python_brandes(TINY_EDGES, TINY_VERTICES, sorted(TINY_VERTICES))
    assert set(got) == set(want)
    for v in want:
        assert np.isclose(got[v], want[v], atol=1e-9), (v, got[v], want[v])


def test_betweenness_sampled_roots(spark, tiny_graph):
    roots = spark.createDataFrame([(1,), (10,)], "vid long")
    got = {
        r["vid"]: r["bc"] for r in betweenness_sampled(tiny_graph, roots).collect()
    }
    want = _python_brandes(TINY_EDGES, TINY_VERTICES, [1, 10])
    for v in want:
        assert np.isclose(got[v], want[v], atol=1e-9), (v, got[v], want[v])
    # deeper than two fused BFS blocks, with a two-path square at depth 23
    deep = from_edge_df(spark.createDataFrame(DEEP_EDGES, "src long, dst long"), 4)
    roots = spark.createDataFrame([(1,), (26,)], "vid long")
    got = {r["vid"]: r["bc"] for r in betweenness_sampled(deep, roots).collect()}
    want = _python_brandes(DEEP_EDGES, DEEP_VERTICES, [1, 26])
    assert set(got) == set(want)
    for v in want:
        assert np.isclose(got[v], want[v], atol=1e-9), (v, got[v], want[v])


def _python_edge_brandes(edges, vertices, roots):
    """Brandes (2008) edge-dependency sums, keyed (min, max)."""
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    ebc = {}
    for u in adj:
        for v in adj[u]:
            if u < v:
                ebc[(u, v)] = 0.0
    for s in roots:
        stack, preds = [], defaultdict(list)
        sigma = dict.fromkeys(vertices, 0.0)
        dist = dict.fromkeys(vertices, -1)
        sigma[s], dist[s] = 1.0, 0
        q = deque([s])
        while q:
            v = q.popleft()
            stack.append(v)
            for w in adj[v]:
                if dist[w] < 0:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
                    preds[w].append(v)
        delta = dict.fromkeys(vertices, 0.0)
        while stack:
            w = stack.pop()
            for v in preds[w]:
                c = sigma[v] / sigma[w] * (1.0 + delta[w])
                ebc[(min(v, w), max(v, w))] += c
                delta[v] += c
    return ebc


def test_edge_betweenness_matches_python_and_networkx(spark, tiny_graph):
    from graphscope_spark.algorithms.betweenness import edge_betweenness_sampled

    roots = tiny_graph.vertices.select("vid")
    got = {
        (r["a"], r["b"]): r["bc"]
        for r in edge_betweenness_sampled(tiny_graph, roots).collect()
    }
    want = _python_edge_brandes(TINY_EDGES, TINY_VERTICES, sorted(TINY_VERTICES))
    assert set(got) == set(want)
    for e in want:
        assert np.isclose(got[e], want[e], atol=1e-9), (e, got[e], want[e])
    # independent cross-check: networkx's un-normalized edge betweenness
    # counts each unordered s,t pair once; all-roots dependency sums count
    # both directions, so nx * 2 == ours
    import networkx as nx

    g = nx.Graph()
    g.add_nodes_from(TINY_VERTICES)
    g.add_edges_from((u, v) for u, v in TINY_EDGES if u != v)
    nxe = nx.edge_betweenness_centrality(g, normalized=False)
    for (u, v), val in nxe.items():
        a, b = min(u, v), max(u, v)
        assert np.isclose(got[(a, b)], 2.0 * val, atol=1e-9), (a, b)
