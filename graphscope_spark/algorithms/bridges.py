"""Bridge detection — BFS spanning forest + XOR non-tree-edge covering.

Reference semantics: `apps/flash/connectivity/bridge.h`
(`/root/reference/analytical_engine/apps/flash/connectivity/bridge.h`) — an
undirected edge is a bridge iff it lies on no cycle.

Spark shape (the classic distributed bridge test; DFS low-link is
inherently sequential so the reference's FLASH variant also avoids it):

1. **BFS spanning forest** — `bcc._spanning_forest`: the shared
   multi-root level BFS (`closeness.multi_source_bfs`) from each
   component's minimum vid (components via WCC), with the minimum-vid
   parent per vertex. Non-tree edges are exactly the cycle-closers.
2. **XOR covering** — give every non-tree edge a 60-bit hash; let
   ``val(v)`` = XOR of hashes of non-tree edges incident to v. A bottom-up
   sweep by BFS level computes ``sub(v)`` = XOR of ``val`` over v's
   subtree, which telescopes to the XOR of the hashes of exactly the
   non-tree edges COVERING tree edge (parent(v), v). A tree edge is a
   bridge iff no non-tree edge covers it — iff ``sub(v) = 0`` (w.h.p.: a
   false zero needs a nonempty hash subset XOR-ing to 0, probability ~2⁻⁶⁰
   per edge). Non-tree edges are never bridges.

Supersteps: 2 × BFS depth + WCC rounds — diameter-bounded, independent of
edge count; every step is a join + partial aggregate (bit_xor), so hub
vertices cost a map-side combine, never an array build.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.algorithms.bcc import _spanning_forest
from graphscope_spark.bsp import release_truncated, truncate_plan
from graphscope_spark.datapipe.hashing import portable_hash60
from graphscope_spark.graph import LinkGraph


def bridges(graph: LinkGraph, max_rounds: int = 500) -> DataFrame:
    """(a, b) with a<b — the bridge edges of the undirected simple graph."""
    forest, sym, depth = _spanning_forest(graph, max_rounds)
    und = sym.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    tree_canon = forest.where(F.col("parent").isNotNull()).select(
        F.least("parent", "vid").alias("a"), F.greatest("parent", "vid").alias("b")
    )
    nontree = und.join(tree_canon, ["a", "b"], "anti")

    # -- XOR covering -------------------------------------------------------
    h = portable_hash60(
        F.concat_ws("_", F.col("a").cast("string"), F.col("b").cast("string"))
    )
    nt = nontree.select("a", "b", h.alias("h"))
    ends = nt.select(F.col("a").alias("vid"), "h").unionByName(
        nt.select(F.col("b").alias("vid"), "h")
    )
    val = ends.groupBy("vid").agg(F.expr("bit_xor(h)").alias("val"))

    # bottom-up by level: sub(v) = val(v) XOR xor(sub(children)); each level
    # reads only the level below it, so one truncated leaf per level is kept
    # and the leaves are unioned once after the loop
    levels = (
        forest.join(val, "vid", "left")
        .select("vid", "dist", "parent", F.coalesce("val", F.lit(0)).alias("val"))
        .transform(truncate_plan)
    )
    spark = graph.vertices.sparkSession
    below = spark.createDataFrame([], "vid long, dist long, parent long, sub long")
    subs = [below]
    for d in range(depth, 0, -1):
        child_xor = below.groupBy(F.col("parent").alias("vid")).agg(
            F.expr("bit_xor(sub)").alias("cx")
        )
        below = (
            levels.where(F.col("dist") == d)
            .join(child_xor, "vid", "left")
            .select(
                "vid",
                "dist",
                "parent",
                F.when(F.col("cx").isNotNull(), F.expr("val ^ cx"))
                .otherwise(F.col("val"))
                .alias("sub"),
            )
            .transform(truncate_plan)
        )
        subs.append(below)

    out = reduce(DataFrame.unionByName, subs).where(F.col("sub") == 0).select(
        F.least("parent", "vid").alias("a"), F.greatest("parent", "vid").alias("b")
    )
    release_truncated(levels)
    release_truncated(forest)
    sym.unpersist()
    return out
