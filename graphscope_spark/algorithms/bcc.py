"""Biconnected components and cut vertices — BFS forest + fundamental-cycle
covering.

Reference semantics: `apps/flash/connectivity/bcc.h`
(`/root/reference/analytical_engine/apps/flash/connectivity/bcc.h:1-146`)
and `cut-point.h` (`.../connectivity/cut-point.h:1-158`) — label every edge
with its block (maximal 2-vertex-connected edge class); a vertex is a cut
point iff it belongs to more than one block.

Spark shape (no DFS — low-link is inherently sequential):

1. **BFS spanning forest** (`_spanning_forest`, shared with
   `algorithms/bridges.py`): the shared multi-root level-synchronous loop
   `closeness.multi_source_bfs` from each component's min vid over the
   undirected view, then one join derives the min-vid parent per vertex;
   ``dist(parent) = dist(v) − 1`` exactly.
2. **Fundamental-cycle covering via LCA climb** — every non-tree edge
   {a, b} plus the tree path a→lca→b is a simple cycle. Both endpoints
   climb parent pointers level-synchronously (the deeper side first, both
   on ties) until they meet; each hop emits (non-tree-edge, tree-edge)
   cover pairs. Rounds = forest depth; emitted volume = Σ path lengths
   (web-graph forests are O(log n) deep, so this is O(m log n) worst case).
3. **Block labels = connected components of the cover graph** — nodes are
   tree edges and non-tree edges, linked by the cover pairs; two edges get
   the same label iff chains of fundamental cycles connect them, which is
   exactly the "common simple cycle" closure defining blocks (a simple
   cycle never crosses a cut vertex, and within a 2-connected subgraph the
   fundamental cycles of any spanning tree connect all its edges).
   Alternating min-label propagation over the bipartite cover pairs; an
   uncovered tree edge keeps its own label — it is a bridge, a singleton
   block. Labels are the lexicographic-min canonical edge key "a:b" (a
   string — injective and orderable for ANY 64-bit vid; Spark's UTF8 binary
   order and DuckDB's default varchar collation agree on ASCII, and any
   consistent total order yields the same canonical representative), so the
   result is deterministic under any parallelism. Numeric 2³²-packing is
   deliberately NOT used: engine vids are full-range xxhash64 and the
   product overflows BIGINT under ANSI mode.
4. **Cut vertices** — v is an articulation point iff its incident edges
   span ≥ 2 distinct blocks (standard block-decomposition fact; leaves and
   interior-of-one-block vertices have exactly 1).

Every step is a keyed join + partial aggregate (min); no per-vertex arrays,
no driver-side graph state.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.bsp import release_truncated, truncate_plan, truncate_plan_lazy
from graphscope_spark.graph import LinkGraph

def _edge_key(a, b):
    return F.concat_ws(":", a.cast("string"), b.cast("string"))


def _spanning_forest(graph: LinkGraph, max_rounds: int):
    """(forest, sym, depth): BFS forest (vid, dist, parent) rooted at each
    component's min vid, the persisted symmetric edges (caller unpersists)
    and the deepest level. `closeness.multi_source_bfs` over the undirected
    view, then ONE join derives ``parent(v) = min{u : (u,v) ∈ sym,
    dist(u)+1 = dist(v)}`` (as `traversal.bfs_tree` does)."""
    from graphscope_spark.algorithms.closeness import multi_source_bfs
    from graphscope_spark.algorithms.wcc import wcc

    # filled by multi_source_bfs's first action (its own edge-table build)
    sym = graph.undirected_edges(drop_self_loops=True).repartition(F.col("src")).persist()
    comp = wcc(graph).state  # (vid, comp); comp = min vid of the component
    roots = comp.where(F.col("vid") == F.col("comp"))
    und = LinkGraph(graph.vertices, sym, graph.num_partitions)
    # 2-hop blocks: web-graph forests are a few levels deep, and every hop
    # a block runs past the last level still costs its shuffles
    settled = multi_source_bfs(und, roots, max_rounds, fused_rounds=2)
    dist = settled.select("vid", "dist")
    parents = (
        sym.join(dist.select(F.col("vid").alias("src"), F.col("dist").alias("du")), "src")
        .join(dist.select(F.col("vid").alias("dst"), F.col("dist").alias("dv")), "dst")
        .where(F.col("du") + 1 == F.col("dv"))
        .groupBy("dst")
        .agg(F.min("src").alias("parent"))
    )
    forest = (
        dist.join(parents, dist["vid"] == parents["dst"], "left")
        .select(dist["vid"], dist["dist"], F.col("parent"))
        .transform(truncate_plan)
    )
    release_truncated(settled)
    depth = forest.agg(F.max("dist")).collect()[0][0] or 0
    return forest, sym, depth


def bcc(graph: LinkGraph, max_rounds: int = 500) -> DataFrame:
    """(a, b, block) — every undirected simple edge with its biconnected-
    component label (the lexicographic-min canonical "a:b" edge key in the
    block)."""
    spark = graph.vertices.sparkSession
    forest, sym, depth = _spanning_forest(graph, max_rounds)
    und = sym.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    tree_canon = forest.where(F.col("parent").isNotNull()).select(
        F.least("parent", "vid").alias("a"), F.greatest("parent", "vid").alias("b")
    )
    nontree = und.join(tree_canon, ["a", "b"], "anti")

    # -- LCA climb: emit (nkey, tkey) cover pairs ---------------------------
    pos = forest.select("vid", "dist", "parent")
    state = (
        nontree.select(_edge_key(F.col("a"), F.col("b")).alias("nkey"), "a", "b")
        .join(pos.select(F.col("vid").alias("a"), F.col("dist").alias("du")), "a")
        .join(pos.select(F.col("vid").alias("b"), F.col("dist").alias("dv")), "b")
        .select("nkey", F.col("a").alias("u"), "du", F.col("b").alias("v"), "dv")
        .where(F.col("u") != F.col("v"))
        .transform(truncate_plan_lazy)
    )
    # one truncated leaf per climb step, unioned once after the loop
    steps = [spark.createDataFrame([], "nkey string, tkey string")]
    for _ in range(2 * depth + 2):
        if state.count() == 0:
            break
        lift_u = F.col("du") >= F.col("dv")
        lift_v = F.col("dv") >= F.col("du")
        stepped = (
            state.join(
                pos.select(F.col("vid").alias("u"), F.col("parent").alias("pu")), "u"
            )
            .join(pos.select(F.col("vid").alias("v"), F.col("parent").alias("pv")), "v")
        )
        emitted_u = stepped.where(lift_u).select(
            "nkey", _edge_key(F.least("u", "pu"), F.greatest("u", "pu")).alias("tkey")
        )
        emitted_v = stepped.where(lift_v).select(
            "nkey", _edge_key(F.least("v", "pv"), F.greatest("v", "pv")).alias("tkey")
        )
        steps.append(emitted_u.unionByName(emitted_v).transform(truncate_plan))
        climbed = (
            stepped.select(
                "nkey",
                F.when(lift_u, F.col("pu")).otherwise(F.col("u")).alias("u"),
                F.when(lift_u, F.col("du") - 1).otherwise(F.col("du")).alias("du"),
                F.when(lift_v, F.col("pv")).otherwise(F.col("v")).alias("v"),
                F.when(lift_v, F.col("dv") - 1).otherwise(F.col("dv")).alias("dv"),
            )
            .where(F.col("u") != F.col("v"))
            .transform(truncate_plan)
        )
        release_truncated(state)
        state = climbed
    release_truncated(state)
    cover = truncate_plan(reduce(DataFrame.unionByName, steps).distinct())
    for df in steps:
        release_truncated(df)

    # -- alternating min-label CC over the bipartite cover graph ------------
    lt = tree_canon.select(
        _edge_key(F.col("a"), F.col("b")).alias("tkey")
    ).select("tkey", F.col("tkey").alias("lbl")).transform(truncate_plan)
    ln = nontree.select(_edge_key(F.col("a"), F.col("b")).alias("nkey")).select(
        "nkey", F.col("nkey").alias("lbl")
    ).transform(truncate_plan)
    for _ in range(max_rounds):
        n_min = cover.join(lt, "tkey").groupBy("nkey").agg(F.min("lbl").alias("m"))
        ln2 = (
            ln.join(n_min, "nkey", "left")
            .select("nkey", F.least("lbl", F.coalesce("m", "lbl")).alias("lbl"))
            .transform(truncate_plan)
        )
        t_min = cover.join(ln2, "nkey").groupBy("tkey").agg(F.min("lbl").alias("m"))
        lt2 = (
            lt.join(t_min, "tkey", "left")
            .select("tkey", F.least("lbl", F.coalesce("m", "lbl")).alias("lbl"))
            .transform(truncate_plan)
        )
        changed = (
            lt2.join(lt.withColumnRenamed("lbl", "old"), "tkey")
            .where(F.col("lbl") < F.col("old"))
            .count()
            + ln2.join(ln.withColumnRenamed("lbl", "old"), "nkey")
            .where(F.col("lbl") < F.col("old"))
            .count()
        )
        lt, ln = lt2, ln2
        if changed == 0:
            break

    tree_out = tree_canon.select(
        "a", "b", _edge_key(F.col("a"), F.col("b")).alias("tkey")
    ).join(lt, "tkey").select("a", "b", F.col("lbl").alias("block"))
    nontree_out = nontree.select(
        "a", "b", _edge_key(F.col("a"), F.col("b")).alias("nkey")
    ).join(ln, "nkey").select("a", "b", F.col("lbl").alias("block"))
    out = tree_out.unionByName(nontree_out).localCheckpoint(eager=True)
    release_truncated(cover)
    release_truncated(forest)
    sym.unpersist()
    return out


def cut_points(graph: LinkGraph, max_rounds: int = 500) -> DataFrame:
    """(vid) — articulation points: vertices whose incident edges span ≥ 2
    distinct blocks."""
    blocks = bcc(graph, max_rounds)
    ends = blocks.select(F.col("a").alias("vid"), "block").unionByName(
        blocks.select(F.col("b").alias("vid"), "block")
    )
    return (
        ends.groupBy("vid")
        .agg(F.countDistinct("block").alias("nb"))
        .where(F.col("nb") > 1)
        .select("vid")
    )
