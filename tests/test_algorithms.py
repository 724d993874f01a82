"""North-star algorithm correctness vs single-process oracles (FIXTURES.md F3).

Float comparisons use allclose(1e-6) like the reference's
`tests/unittest/test_app.py:215`; component/label/triangle results exact like
`test_app.py:156,197,234`."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from graphscope_spark.algorithms import cdlp, lcc, pagerank, total_triangles, triangles, wcc
from graphscope_spark import corpus
from graphscope_spark.graph import vid_expr

from tests.conftest import TINY_EDGES, TINY_VERTICES
from tests.oracles import cdlp_oracle, pagerank_oracle, triangles_oracle, wcc_oracle


def _collect_map(df, key, val):
    return {r[key]: r[val] for r in df.collect()}


# ---- tiny hand graph -----------------------------------------------------------


def test_pagerank_tiny(tiny_graph):
    res = pagerank(tiny_graph, alpha=0.85, tol=1e-10, max_rounds=100)
    got = _collect_map(res.state, "vid", "rank")
    want = pagerank_oracle(TINY_EDGES, TINY_VERTICES, alpha=0.85, tol=1e-10)
    assert res.converged
    assert set(got) == set(want)
    for v in want:
        assert np.isclose(got[v], want[v], atol=1e-6), (v, got[v], want[v])
    assert np.isclose(sum(got.values()), 1.0, atol=1e-9)


def test_pagerank_fused_matches_unfused(tiny_graph):
    # fused_rounds stacks k power-iteration rounds per Spark job with the
    # dangling mass computed in-plan; the arithmetic per round is identical,
    # so a fixed-round run must agree with the per-round path to float noise
    a = pagerank(tiny_graph, alpha=0.85, tol=0.0, max_rounds=12)
    b = pagerank(tiny_graph, alpha=0.85, tol=0.0, max_rounds=12, fused_rounds=4)
    assert b.supersteps == 12
    ga = _collect_map(a.state, "vid", "rank")
    gb = _collect_map(b.state, "vid", "rank")
    assert set(ga) == set(gb)
    for v in ga:
        assert np.isclose(ga[v], gb[v], atol=1e-12), (v, ga[v], gb[v])


def _assert_ranks_close(a, b):
    ga = _collect_map(a.state, "vid", "rank")
    gb = _collect_map(b.state, "vid", "rank")
    assert set(ga) == set(gb)
    for v in ga:
        assert np.isclose(ga[v], gb[v], rtol=0, atol=1e-12), (v, ga[v], gb[v])


def test_pagerank_fused_exact_round_budget(tiny_graph):
    # a fused run hits max_rounds exactly: the last block is cut to fit
    a = pagerank(tiny_graph, alpha=0.85, tol=0.0, max_rounds=10)
    b = pagerank(tiny_graph, alpha=0.85, tol=0.0, max_rounds=10, fused_rounds=4)
    assert a.supersteps == b.supersteps == 10
    _assert_ranks_close(a, b)


def test_pagerank_resume_across_fusion(tiny_graph, tmp_path):
    # checkpoints store true round numbers: a fused k=4 run stopped at round
    # 6 resumes unfused and lands on the uninterrupted run's ranks
    ck = str(tmp_path / "pr_ck")
    part = pagerank(tiny_graph, tol=0.0, max_rounds=6, fused_rounds=4,
                    checkpoint_dir=ck, checkpoint_every=1)
    assert part.supersteps == 6 and not part.converged
    resumed = pagerank(tiny_graph, tol=0.0, max_rounds=20,
                       checkpoint_dir=ck, checkpoint_every=1, resume=True)
    full = pagerank(tiny_graph, tol=0.0, max_rounds=20)
    assert resumed.supersteps == full.supersteps == 20
    _assert_ranks_close(resumed, full)


def test_pagerank_resume_refuses_other_alpha(tiny_graph, tmp_path):
    ck = str(tmp_path / "pr_ck")
    pagerank(tiny_graph, alpha=0.85, tol=0.0, max_rounds=3,
             checkpoint_dir=ck, checkpoint_every=1)
    with pytest.raises(ValueError, match="parameters"):
        pagerank(tiny_graph, alpha=0.5, tol=0.0, max_rounds=10,
                 checkpoint_dir=ck, resume=True)


def test_pagerank_refuses_remote_checkpoint_dir(tiny_graph):
    # checkpoint I/O is local-filesystem only: a scheme:// directory must be
    # refused up front, not silently resumed from round 0
    with pytest.raises(ValueError, match="hdfs:// scheme is not supported"):
        pagerank(tiny_graph, tol=0.0, max_rounds=3,
                 checkpoint_dir="hdfs://nowhere/ck", resume=True)
    with pytest.raises(ValueError, match="hdfs:// scheme is not supported"):
        pagerank(tiny_graph, tol=0.0, max_rounds=3,
                 checkpoint_dir="hdfs://nowhere/ck", checkpoint_every=1)


def test_wcc_tiny(tiny_graph):
    res = wcc(tiny_graph)
    got = _collect_map(res.state, "vid", "comp")
    assert res.converged
    assert got == wcc_oracle(TINY_EDGES, TINY_VERTICES)
    assert len(set(got.values())) == 2  # two components by construction


def test_wcc_log_tiny(tiny_graph):
    from graphscope_spark.algorithms.wcc import wcc_log

    got = _collect_map(wcc_log(tiny_graph), "vid", "comp")
    assert got == wcc_oracle(TINY_EDGES, TINY_VERTICES)


def test_wcc_log_long_chain(spark):
    # a 64-hop chain: frontier wcc needs 64 rounds, the doubling variant
    # must converge in far fewer (O(log n)) — assert correctness only here,
    # round count is covered by the sf0.1 bench
    from graphscope_spark.graph import from_edge_df
    from graphscope_spark.algorithms.wcc import wcc_log

    edges = [(i, i + 1) for i in range(64)] + [(100, 101)]
    g = from_edge_df(spark.createDataFrame(edges, "src long, dst long"), 4)
    got = _collect_map(wcc_log(g, max_rounds=12), "vid", "comp")
    assert all(got[v] == 0 for v in range(65))
    assert got[100] == got[101] == 100


def test_cdlp_tiny(tiny_graph):
    res = cdlp(tiny_graph, max_rounds=10)
    got = _collect_map(res.state, "vid", "label")
    assert got == cdlp_oracle(TINY_EDGES, TINY_VERTICES, max_rounds=10)


def test_triangles_tiny(tiny_graph):
    got = _collect_map(triangles(tiny_graph), "vid", "tri")
    want = triangles_oracle(TINY_EDGES, TINY_VERTICES)
    assert got == want
    assert total_triangles(tiny_graph) == sum(want.values()) // 3
    assert total_triangles(tiny_graph) >= 3  # 1-2-3, 3-4-5, 10-11-12


def test_lcc_tiny(tiny_graph):
    got = _collect_map(lcc(tiny_graph), "vid", "lcc")
    # vertex 11: neighbors {10, 12}, edge 10-12 exists → lcc = 1.0
    assert np.isclose(got[11], 1.0)
    # vertex 8: degree 1 → 0
    assert got[8] == 0.0


# ---- corpus-derived graph (end-to-end: html → links → vids → algorithms) -------


def _corpus_oracle_graph(n=200, h=8):
    """The true corpus link graph in *vid space* (xxhash64 of urls is
    reproduced on the Spark side; here we work in url space then map)."""
    edges_url = []
    for i in range(n):
        src = corpus.url_of(i, n, h)
        for dst in corpus.expected_links(i, n, h):
            edges_url.append((src, dst))
    urls = {u for e in edges_url for u in e} | {corpus.url_of(i, n, h) for i in range(n)}
    return edges_url, urls


def _vid_map(spark, urls):
    df = spark.createDataFrame([(u,) for u in sorted(urls)], "url string")
    return {r["url"]: r["vid"] for r in df.select("url", vid_expr(F.col("url")).alias("vid")).collect()}


def test_corpus_pagerank_end_to_end(spark, corpus_graph):
    edges_url, urls = _corpus_oracle_graph()
    vm = _vid_map(spark, urls)
    edges = [(vm[s], vm[d]) for s, d in edges_url]
    verts = {vm[u] for u in urls}
    want = pagerank_oracle(edges, verts, alpha=0.85, tol=1e-8)
    res = pagerank(corpus_graph, alpha=0.85, tol=1e-8, max_rounds=100)
    got = _collect_map(res.state, "vid", "rank")
    assert set(got) == set(want)
    diffs = [abs(got[v] - want[v]) for v in want]
    assert max(diffs) < 1e-6


def test_corpus_wcc_and_triangles(spark, corpus_graph):
    edges_url, urls = _corpus_oracle_graph()
    vm = _vid_map(spark, urls)
    edges = [(vm[s], vm[d]) for s, d in edges_url]
    verts = {vm[u] for u in urls}
    got_wcc = _collect_map(wcc(corpus_graph).state, "vid", "comp")
    assert got_wcc == wcc_oracle(edges, verts)
    got_tri = _collect_map(triangles(corpus_graph), "vid", "tri")
    assert got_tri == triangles_oracle(edges, verts)


def test_pagerank_weighted(tiny_graph):
    """weight_col: rank distributes proportional to edge weight; uniform
    weights reproduce the unweighted result."""
    from graphscope_spark.graph import LinkGraph
    from pyspark.sql import functions as F
    from tests.oracles import pagerank_weighted_oracle

    w_expr = (((F.col("src") + 2 * F.col("dst")) % 5) + 1).cast("double")
    g_w = LinkGraph(
        tiny_graph.vertices,
        tiny_graph.edges.withColumn("ew", w_expr),
        tiny_graph.num_partitions,
    )
    res = pagerank(g_w, alpha=0.85, tol=1e-10, max_rounds=100, weight_col="ew")
    got = _collect_map(res.state, "vid", "rank")
    want = pagerank_weighted_oracle(
        [(s, d, float((s + 2 * d) % 5 + 1)) for s, d in TINY_EDGES],
        TINY_VERTICES,
        alpha=0.85,
        tol=1e-10,
    )
    for v in want:
        assert np.isclose(got[v], want[v], atol=1e-6), (v, got[v], want[v])
    assert np.isclose(sum(got.values()), 1.0, atol=1e-9)
    # uniform weights == unweighted
    g_u = LinkGraph(
        tiny_graph.vertices,
        tiny_graph.edges.withColumn("ew", F.lit(3.0)),
        tiny_graph.num_partitions,
    )
    a = _collect_map(
        pagerank(g_u, alpha=0.85, tol=0.0, max_rounds=8, weight_col="ew").state,
        "vid", "rank",
    )
    b = _collect_map(
        pagerank(tiny_graph, alpha=0.85, tol=0.0, max_rounds=8).state, "vid", "rank"
    )
    assert all(np.isclose(a[v], b[v], atol=1e-12) for v in b)


def test_local_community_sweep_hand_check(spark, tiny_graph):
    """ACL sweep on the tiny graph: PPR masses from a NumPy power-series
    hand-roll, conductances from the by-hand prefix cuts."""
    import numpy as np
    from collections import defaultdict

    from graphscope_spark.algorithms.localcluster import local_community

    res = {r.vid: r for r in local_community(tiny_graph, 1, alpha=0.15, rounds=6).collect()}
    # NumPy replication of the truncated lazy-walk series
    vids = sorted(TINY_VERTICES)
    idx = {v: i for i, v in enumerate(vids)}
    adj = defaultdict(set)
    for u, v in TINY_EDGES:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    n = len(vids)
    W = np.zeros((n, n))
    for v in vids:
        if adj[v]:
            W[idx[v], idx[v]] = 0.5
            for u in adj[v]:
                W[idx[u], idx[v]] = 0.5 / len(adj[v])  # column-stochastic
        else:
            W[idx[v], idx[v]] = 1.0
    r = np.zeros(n)
    r[idx[1]] = 1.0
    p = np.zeros(n)
    for _ in range(6):
        p += 0.15 * r
        r = 0.85 * (W @ r)
    for v, row in res.items():
        assert np.isclose(row.p, p[idx[v]], atol=1e-12), v
    # ordering is by p/deg desc; ranks are a permutation of 1..support
    ranks = sorted(r.rank for r in res.values())
    assert ranks == list(range(1, len(res) + 1))
    # conductance spot-checks computed by hand (2m = 26 incl. both comps)
    by_rank = {r.rank: r for r in res.values()}
    assert np.isclose(by_rank[2].cond, 4 / 6)     # S={1,2}
    assert np.isclose(by_rank[5].cond, 2 / 12)    # S={1,2,4,3,8}
    # the disconnected second component makes the full first component a
    # zero-cut prefix -> it is the best sweep set
    assert all(r.in_best for r in res.values())


def test_label_spreading_clamped_majority(spark, tiny_graph):
    """Seeds stay fixed; unlabeled vertices adopt the neighbor majority
    with min-label ties; unreachable vertices stay NULL."""
    from graphscope_spark.algorithms.labelspread import label_spreading

    seeds = spark.createDataFrame([(1, 7), (5, 9)], "vid long, label long")
    out = {
        r.vid: r.label
        for r in label_spreading(tiny_graph, seeds, rounds=4).collect()
    }
    assert out[1] == 7 and out[5] == 9          # clamped
    assert out[2] == 7 and out[4] == 7          # nearer seed 1 (2: nbr {1,3,8})
    # 3 is adjacent to both seeds from round 1: tie 7 vs 9 -> min label 7
    assert out[3] == 7
    assert out[6] == 9 and out[7] == 9          # tail behind 5
    assert out[8] == 7                          # behind 2
    assert out[10] is None and out[11] is None and out[12] is None
    # determinism
    again = {
        r.vid: r.label
        for r in label_spreading(tiny_graph, seeds, rounds=4).collect()
    }
    assert out == again
