"""nxmetrics vs an independent pure-Python oracle on the corpus graph."""

from __future__ import annotations

import collections
import math

import pytest

from graphscope_spark.algorithms.nxmetrics import (
    global_efficiency,
    isolates,
    overall_reciprocity,
    reciprocity,
    rich_club_coefficient,
    s_metric,
    voronoi_cells,
    wiener_index,
)


@pytest.fixture(scope="module")
def oracle(corpus_graph):
    E = [
        (r["src"], r["dst"])
        for r in corpus_graph.edges.select("src", "dst").distinct().collect()
    ]
    V = [r["vid"] for r in corpus_graph.vertices.collect()]
    de = {(u, v) for u, v in E if u != v}
    und = {(min(u, v), max(u, v)) for u, v in de}
    deg = {v: 0 for v in V}
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    adj = collections.defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)

    def bfs(s):
        d = {s: 0}
        q = [s]
        while q:
            nq = []
            for u in q:
                for w in adj[u]:
                    if w not in d:
                        d[w] = d[u] + 1
                        nq.append(w)
            q = nq
        return d

    return {
        "E": E, "V": V, "de": de, "und": und, "deg": deg,
        "alld": {v: bfs(v) for v in V},
    }


def test_reciprocity(corpus_graph, oracle):
    de = oracle["de"]
    n_overlap = sum(1 for (u, v) in de if (v, u) in de)
    assert overall_reciprocity(corpus_graph) == pytest.approx(
        n_overlap / len(de)
    )
    pred, succ = {}, {}
    for u, v in de:
        succ.setdefault(u, set()).add(v)
        pred.setdefault(v, set()).add(u)
    want = {}
    for x in set(pred) | set(succ):
        p, s = pred.get(x, set()), succ.get(x, set())
        want[x] = 2 * len(p & s) / (len(p) + len(s))
    got = {r["vid"]: r["reciprocity"] for r in reciprocity(corpus_graph).collect()}
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k])


def test_s_metric_and_isolates(corpus_graph, oracle):
    und, deg, E, V = (
        oracle["und"], oracle["deg"], oracle["E"], oracle["V"]
    )
    assert s_metric(corpus_graph) == sum(deg[a] * deg[b] for a, b in und)
    got = sorted(r["vid"] for r in isolates(corpus_graph).collect())
    want = sorted(
        v for v in V if not any(u == v or w == v for u, w in E)
    )
    assert got == want


def test_rich_club(corpus_graph, oracle):
    und, deg, V = oracle["und"], oracle["deg"], oracle["V"]
    want = {}
    for k in range(max(deg.values())):
        nk = sum(1 for v in V if deg[v] > k)
        if nk < 2:
            continue
        ek = sum(1 for a, b in und if deg[a] > k and deg[b] > k)
        want[k] = 2 * ek / (nk * (nk - 1))
    got = {
        r["k"]: r["phi"] for r in rich_club_coefficient(corpus_graph).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k])


def test_efficiency_and_wiener(corpus_graph, oracle):
    V, alld = oracle["V"], oracle["alld"]
    n = len(V)
    want_ge = sum(
        1.0 / d for v in V for u, d in alld[v].items() if u != v
    ) / (n * (n - 1))
    assert global_efficiency(corpus_graph) == pytest.approx(want_ge)
    reach = sum(len(alld[v]) - 1 for v in V)
    if reach < n * (n - 1):
        assert math.isinf(wiener_index(corpus_graph))
    else:
        want_wi = (
            sum(d for v in V for u, d in alld[v].items() if u != v) / 2
        )
        assert wiener_index(corpus_graph) == pytest.approx(want_wi)


def test_voronoi(corpus_graph, oracle):
    V, alld = oracle["V"], oracle["alld"]
    seeds = sorted(V)[:3] + [sorted(V)[len(V) // 2]]
    got = {
        r["vid"]: (r["center"], r["dist"])
        for r in voronoi_cells(corpus_graph, seeds).collect()
    }
    for v in V:
        cands = [(alld[s][v], s) for s in seeds if v in alld[s]]
        if not cands:
            assert v not in got
        else:
            d, c = min(cands)
            assert got[v] == (c, d)


def test_effective_size_and_constraint(corpus_graph, oracle):
    from graphscope_spark.algorithms.nxmetrics import constraint, effective_size

    und, V = oracle["und"], oracle["V"]
    import collections

    adj = collections.defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    deg = {v: len(adj[v]) for v in V}
    es_want, c_want = {}, {}
    for u in V:
        if deg[u] == 0:
            continue
        t = sum(1 for a, b in und if a in adj[u] and b in adj[u])
        es_want[u] = deg[u] - 2 * t / deg[u]
        tot = 0.0
        for v in adj[u]:
            ind = sum(1.0 / (deg[u] * deg[w]) for w in adj[u] & adj[v])
            tot += (1.0 / deg[u] + ind) ** 2
        c_want[u] = tot
    es_got = {
        r["vid"]: r["effective_size"]
        for r in effective_size(corpus_graph).collect()
    }
    c_got = {
        r["vid"]: r["constraint"] for r in constraint(corpus_graph).collect()
    }
    assert es_got.keys() == es_want.keys() and c_got.keys() == c_want.keys()
    for k in es_want:
        assert es_got[k] == pytest.approx(es_want[k])
        assert c_got[k] == pytest.approx(c_want[k])


def test_flow_hierarchy_tiny(spark):
    from graphscope_spark.algorithms.nxmetrics import flow_hierarchy
    from graphscope_spark.graph import from_edge_df

    # cycle 1->2->3->1 (3 cyclic edges), tail 3->4 (acyclic), self-loop 5
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (5, 5)], "src long, dst long"
    )
    g = from_edge_df(df, num_partitions=2)
    # cyclic: the 3 cycle edges + the self-loop = 4 of 5
    assert flow_hierarchy(g) == pytest.approx(1 / 5)


def test_distance_measures(corpus_graph, oracle):
    from graphscope_spark.algorithms.nxmetrics import distance_measures

    V, alld = oracle["V"], oracle["alld"]
    import collections

    want = {}
    for v in V:
        d = alld[v]
        want[v] = (min(d), max(d.values()))
    rad = collections.defaultdict(lambda: 10**9)
    dia = collections.defaultdict(int)
    for v, (c_, e_) in want.items():
        rad[c_] = min(rad[c_], e_)
        dia[c_] = max(dia[c_], e_)
    got = {
        r["vid"]: (r["comp"], r["ecc"], r["is_center"], r["is_periphery"])
        for r in distance_measures(corpus_graph).collect()
    }
    assert got.keys() == want.keys()
    for v in V:
        c_, e_ = want[v]
        assert got[v] == (
            c_, e_, 1 if e_ == rad[c_] else 0, 1 if e_ == dia[c_] else 0
        )


def test_degree_histogram_and_alpha(corpus_graph, oracle):
    import math

    from graphscope_spark.algorithms.nxmetrics import (
        degree_histogram,
        powerlaw_alpha,
    )

    und, V = oracle["und"], oracle["V"]
    import collections

    deg = collections.Counter()
    touched = collections.Counter()
    for a, b in und:
        touched[a] += 1
        touched[b] += 1
    hist = collections.Counter(touched.get(v, 0) for v in V)
    got = {r["deg"]: r["n"] for r in degree_histogram(corpus_graph).collect()}
    assert got == dict(hist)
    k_min = 2
    nt = sum(n for d, n in hist.items() if d >= k_min)
    s = sum(n * math.log(d / (k_min - 0.5)) for d, n in hist.items() if d >= k_min)
    assert powerlaw_alpha(corpus_graph) == pytest.approx(1 + nt / s)


def test_topological_generations(spark, corpus_graph, oracle):
    from graphscope_spark.algorithms.nxmetrics import (
        dag_longest_path_length,
        topological_generations,
    )
    from graphscope_spark.graph import LinkGraph
    import pyspark.sql.functions as F

    g = corpus_graph
    dag = LinkGraph(
        g.vertices, g.edges.where(F.col("src") < F.col("dst")),
        g.num_partitions,
    )
    de = {(u, v) for u, v in oracle["E"] if u < v}
    import collections

    preds = collections.defaultdict(list)
    for u, v in de:
        preds[v].append(u)
    want = {}

    def gen(v):
        if v not in want:
            want[v] = (
                0 if not preds[v] else 1 + max(gen(u) for u in preds[v])
            )
        return want[v]

    import sys

    sys.setrecursionlimit(100000)
    for v in oracle["V"]:
        gen(v)
    got = {
        r["vid"]: r["gen"] for r in topological_generations(dag).collect()
    }
    assert got == want
    assert dag_longest_path_length(dag) == max(want.values())


def test_topological_generations_raises_on_cycle(spark):
    from graphscope_spark.algorithms.nxmetrics import topological_generations
    from graphscope_spark.graph import from_edge_df

    df = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    g = from_edge_df(df, num_partitions=2)
    with pytest.raises(ValueError, match="cycle"):
        topological_generations(g, fused_rounds=2)


def test_topological_generations_local_finish_matches_distributed(spark):
    """The guarded local finish (residual ≤ cutoff after a block) must
    agree exactly with the pure-distributed path (local_cutoff=0) — in
    particular the block-final FRESH settlers' un-sent boundary messages
    must reach the residual before handoff. Deep chain + a side branch
    makes every block boundary a handoff boundary."""
    from graphscope_spark.algorithms.nxmetrics import topological_generations
    from graphscope_spark.graph import from_edge_df

    chain = [(i, i + 1) for i in range(30)]
    extra = [(0, 25), (5, 31), (31, 26)]  # shortcuts + branch rejoining
    df = spark.createDataFrame(chain + extra, "src long, dst long")
    g = from_edge_df(df, num_partitions=2)
    with_local = {
        r["vid"]: r["gen"]
        for r in topological_generations(g, fused_rounds=4).collect()
    }
    distributed = {
        r["vid"]: r["gen"]
        for r in topological_generations(
            g, fused_rounds=4, local_cutoff=0
        ).collect()
    }
    assert with_local == distributed
    assert with_local[30] == 30 and with_local[26] == 26


def test_bipartite_projection_vs_networkx(spark):
    """Overlap-weighted projection vs networkx's bipartite module, plus
    the hot-right-vertex cap and min_weight filter."""
    import networkx as nx
    from networkx.algorithms import bipartite as nxb

    from graphscope_spark.algorithms.bipartite import bipartite_projection

    edges = [
        (1, 101), (1, 102), (2, 101), (2, 102), (2, 103),
        (3, 103), (3, 104), (4, 104), (4, 101), (1, 101),  # dup row
    ]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        (r.a, r.b): (r.w, r.jaccard)
        for r in bipartite_projection(df, weight="jaccard").collect()
    }
    g = nx.Graph()
    left = {1, 2, 3, 4}
    g.add_nodes_from(left, bipartite=0)
    g.add_nodes_from({e[1] for e in edges}, bipartite=1)
    g.add_edges_from(set(edges))
    jp = nxb.overlap_weighted_projected_graph(g, left, jaccard=True)
    wp = nxb.weighted_projected_graph(g, left)
    assert set(got) == {(min(u, v), max(u, v)) for u, v in jp.edges}
    for u, v, d in jp.edges(data=True):
        a, b = min(u, v), max(u, v)
        assert abs(got[(a, b)][1] - d["weight"]) < 1e-12
        assert got[(a, b)][0] == wp[u][v]["weight"]
    # cap: with max_degree=1 every shared right vertex is dropped
    assert (
        bipartite_projection(df, weight="count", max_degree=1).count() == 0
    )
    # min_weight=2 keeps only the double-shared pair (1,2)
    strong = {
        (r.a, r.b)
        for r in bipartite_projection(df, min_weight=2).collect()
    }
    assert strong == {(1, 2)}


def test_clustering_agreement_known_values(spark):
    """ARI/NMI vs hand-computed values: identical partitions -> 1/1;
    a known split case matches the textbook contingency formulas; and the
    metrics are label-name invariant."""
    import math

    from graphscope_spark.algorithms.nxmetrics import clustering_agreement

    mk = lambda pairs: spark.createDataFrame(pairs, "vid long, label long")
    a = mk([(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1)])
    same = clustering_agreement(a, mk([(i, l + 7) for i, l in
                                       [(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1)]])).collect()[0]
    assert same.n == 6 and math.isclose(same.ari, 1.0) and math.isclose(same.nmi, 1.0)
    # b splits a's second cluster: contingency {(0,0):3, (1,1):2, (1,2):1}
    b = mk([(1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 2)])
    got = clustering_agreement(a, b).collect()[0]
    n = 6
    sc = 3 + 1 + 0       # C(3,2)+C(2,2)+C(1,2)
    sa = 3 + 3           # C(3,2)+C(3,2)
    sb = 3 + 1 + 0
    nC2 = n * (n - 1) / 2
    exp = sa * sb / nC2
    ari = (sc - exp) / (0.5 * (sa + sb) - exp)
    assert math.isclose(got.ari, ari, rel_tol=1e-9)
    p = lambda c: c / n
    mi = sum(
        p(c) * math.log(c * n / (ca * cb))
        for c, ca, cb in [(3, 3, 3), (2, 3, 2), (1, 3, 1)]
    )
    ha = -sum(p(c) * math.log(p(c)) for c in (3, 3))
    hb = -sum(p(c) * math.log(p(c)) for c in (3, 2, 1))
    assert math.isclose(got.nmi, 2 * mi / (ha + hb), rel_tol=1e-9)
    # disjoint vid sets -> n = 0, NULL metrics
    empty = clustering_agreement(a, mk([(99, 1)])).collect()[0]
    assert empty.n == 0 and empty.nmi is None and empty.ari is None
