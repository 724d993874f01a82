"""Closeness / harmonic centrality via multi-source BFS.

Reference semantics: `gs::ClosenessCentrality`
(`/root/reference/analytical_engine/apps/centrality/closeness/`,
`.gs_conf.yaml:214-219`) — NetworkX wf_improved closeness:
``C(u) = ((r-1)/Σd) · ((r-1)/(n-1))`` where r = #vertices reachable FROM u
and Σd their distance sum; harmonic = Σ 1/d.

Exact all-sources closeness is O(V·E) — the reference runs it as per-source
BFS fan-out. The Spark shape keeps the fan-out INSIDE the data plane: BSP
state is a (root, vid, dist) pair-frontier, so one superstep advances every
root's BFS at once and the shuffle carries all roots' frontiers together
(far fewer rounds-with-barriers than looping roots in the driver). For
massive graphs pass a sampled/pinned ``roots`` DataFrame — the
landmark-closeness estimate — which is the 100 TB posture; exact mode is
roots = all vertices.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.bsp import release_truncated, truncate_plan_lazy
from graphscope_spark.graph import LinkGraph


def multi_source_bfs(
    graph: LinkGraph, roots: DataFrame, max_rounds: int = 500, fused_rounds: int = 8,
    path_counts: bool = False,
) -> DataFrame:
    """(root, vid, dist) for every vertex reachable from each root (directed).
    ``roots`` is a (vid) DataFrame. The library's one level-synchronous BFS
    loop: the closeness family, the bridges/bcc forest
    (`bcc._spanning_forest`) and the Brandes forward sweep all run on it.
    ``path_counts=True`` adds ``sigma``, the number of shortest root→vid
    paths (roots 1.0, each hop sums its predecessors'); meaningful only over
    deduplicated edges.

    ``fused_rounds=k`` stacks k BFS hops into ONE Spark job (the
    `degeneracy_order`/`pagerank` block-fusion lever): inner hops only
    construct lazily-truncated plans — each hop's `new` frontier is
    plan-cut at construction (the stats-blowup guard is eagerness-free, see
    `bsp.truncate_plan`) but not yet materialized — and the stopping
    condition is ONE ``max(dist)`` aggregate per block, which both
    materializes the chained checkpoints and detects exhaustion (deepest
    level below the block's last hop). Hops past exhaustion have empty
    frontiers and append nothing, so over-running a block is semantically
    free.

    The settled distance table is re-checkpointed once per BLOCK, not per
    hop — on a (root, vid) pair-state whose size is O(V·reach) the per-hop
    rewrite was the dominant write cost at depth (the growing-union
    re-checkpoint antipattern `ordering.py` round 4 eliminated). Within a
    block, settled grows as a lazy union over the block's checkpointed
    frontier leaves, so plan depth per block is bounded by k, never by the
    total round count."""
    edges = (
        graph.edges.where(F.col("src") != F.col("dst"))
        .repartition(F.col("src"))
        .persist()
    )
    edges.count()
    sigma = [F.lit(1.0).alias("sigma")] if path_counts else []
    settled = roots.select(
        F.col("vid").alias("root"), "vid", F.lit(0).cast("long").alias("dist"), *sigma
    ).transform(truncate_plan_lazy)
    frontier = settled
    k = max(1, int(fused_rounds))
    rnd = 0
    spent: list[DataFrame] = []
    while rnd < max_rounds:
        settled_leaf = settled  # the block's input checkpoint
        block_frames: list[DataFrame] = []
        for _ in range(min(k, max_rounds - rnd)):
            rnd += 1
            hop = frontier.join(edges, frontier["vid"] == edges["src"]).groupBy(
                "root", F.col("dst").alias("vid")
            )
            if path_counts:
                cand = hop.agg(F.sum("sigma").alias("sigma")).select(
                    "root", "vid", F.lit(rnd).cast("long").alias("dist"), "sigma"
                )
            else:
                cand = hop.agg((F.min("dist") + 1).alias("dist"))
            new = cand.join(settled.select("root", "vid"), ["root", "vid"], "anti")
            new = new.transform(truncate_plan_lazy)
            block_frames.append(new)
            settled = settled.unionByName(new)
            frontier = new
        # ONE action per block: materializes every chained lazy checkpoint
        # in the block AND yields the stopping condition — the BFS is
        # exhausted once a hop of this block settled nothing new, i.e. the
        # deepest settled level is below the block's last hop.
        settled = settled.transform(truncate_plan_lazy)
        deepest = settled.agg(F.max("dist")).collect()[0][0]
        # Superseded leaves, releasable now that this block materialized:
        # the PREVIOUS block's frontier leaves (this block's plans were
        # their last consumers) and this block's input settled checkpoint
        # (folded into the fresh one). This block's frontier leaves stay
        # live — the last one is `frontier` for the next block.
        for df in spent:
            release_truncated(df)
        release_truncated(settled_leaf)
        spent = block_frames
        if deepest is None or deepest < rnd:
            break
    for df in spent:
        release_truncated(df)
    edges.unpersist()
    return settled


def apsp(graph: LinkGraph, max_rounds: int = 500) -> DataFrame:
    """Exact all-pairs shortest path lengths (root, vid, dist), directed —
    reference `apps/apsp/all_pairs_shortest_path_length.h` (NetworkX
    ``all_pairs_shortest_path_length``). Roots = ALL vertices; the pair
    state is the O(V·reach) distance table, advanced one superstep per
    hop for every root at once (the same multi-source frontier machinery
    the exact closeness/harmonic modes run on)."""
    return multi_source_bfs(graph, graph.vertices.select("vid"), max_rounds)


def closeness_centrality(
    graph: LinkGraph, roots: DataFrame | None = None, wf_improved: bool = True
) -> DataFrame:
    """(vid, closeness) for each root (sampled roots → landmark estimate)."""
    n = graph.vertices.count()
    if roots is None:
        roots = graph.vertices.select("vid")
    dists = multi_source_bfs(graph, roots)
    agg = dists.where(F.col("dist") > 0).groupBy("root").agg(
        F.count("*").alias("r1"),  # reachable excluding self
        F.sum("dist").alias("sum_d"),
    )
    c = F.col("r1") / F.col("sum_d")
    if wf_improved:
        c = c * (F.col("r1") / F.lit(float(max(n - 1, 1))))
    out = agg.select(F.col("root").alias("vid"), c.alias("closeness"))
    return (
        roots.select("vid")
        .join(out, "vid", "left")
        .select("vid", F.coalesce("closeness", F.lit(0.0)).alias("closeness"))
    )


def diameter_approx(graph: LinkGraph, start: int | None = None) -> int:
    """Double-sweep BFS lower bound on the undirected diameter — the flash
    `diameter-approx` analog (`apps/flash/measurement/diameter_approx.h`).
    BFS from a start vertex, then BFS from the farthest vertex found; the
    second eccentricity is the classic tight lower bound."""
    from graphscope_spark.graph import LinkGraph as _LG

    und = _LG(
        graph.vertices,
        graph.undirected_edges(drop_self_loops=True),
        graph.num_partitions,
    )
    spark = graph.vertices.sparkSession
    if start is None:
        start = graph.vertices.agg(F.min("vid")).collect()[0][0]
    r1 = spark.createDataFrame([(int(start),)], "vid long")
    d1 = multi_source_bfs(und, r1)
    far = d1.orderBy(F.col("dist").desc(), F.col("vid").asc()).limit(1).collect()
    if not far:
        return 0
    r2 = spark.createDataFrame([(int(far[0]["vid"]),)], "vid long")
    d2 = multi_source_bfs(und, r2)
    ecc2 = d2.agg(F.max("dist")).collect()[0][0] or 0
    return int(max(ecc2, far[0]["dist"]))


def harmonic_centrality(graph: LinkGraph, roots: DataFrame | None = None) -> DataFrame:
    """(vid, harmonic) = Σ_{v reachable} 1/d(u, v)."""
    if roots is None:
        roots = graph.vertices.select("vid")
    dists = multi_source_bfs(graph, roots)
    agg = dists.where(F.col("dist") > 0).groupBy("root").agg(
        F.sum(1.0 / F.col("dist")).alias("harmonic")
    )
    return (
        roots.select("vid")
        .join(agg.withColumnRenamed("root", "vid"), "vid", "left")
        .select("vid", F.coalesce("harmonic", F.lit(0.0)).alias("harmonic"))
    )
