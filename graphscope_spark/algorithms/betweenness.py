"""Betweenness centrality — Brandes dependency accumulation from (sampled)
source vertices.

Reference semantics: `gs::BetweennessCentrality`
(`/root/reference/analytical_engine/apps/centrality/betweenness/
betweenness_centrality.h`, registered `.gs_conf.yaml:286-298`) and the flash
variant (`apps/flash/centrality/bc.h`) — Brandes (2001): for each source s,
a forward BFS computes distance and shortest-path counts σ_s(v); a backward
sweep by decreasing distance accumulates dependencies
``δ_s(v) = Σ_{w: succ} σ_s(v)/σ_s(w) · (1 + δ_s(w))``;
betweenness(v) = Σ_s δ_s(v) (v ≠ s).

Spark shape (the 100 TB posture):

* the source fan-out lives INSIDE the data plane — the forward sweep is
  the shared level BFS ``closeness.multi_source_bfs(path_counts=True)``
  over a (root, vid, dist, sigma) pair table, so one superstep advances
  EVERY root's BFS at once;
* the backward sweep is level-synchronous over the SAME pair table: one
  join+agg per BFS level, walking dist = D-1 … 1; supersteps = 2·diameter
  regardless of how many roots are sampled;
* exact betweenness is O(V·E) everywhere — sampling roots (Brandes–Pich)
  is the standard estimator and the only honest 100 TB mode. Exact mode is
  ``roots = all vertices`` (then divide by 2 on undirected graphs).

Operates on the undirected simple view (the common NetworkX default);
returns RAW dependency sums over the given roots (no normalization), ties
to the DuckDB gate oracle which unrolls the identical recurrence.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.algorithms.closeness import multi_source_bfs
from graphscope_spark.bsp import truncate_plan
from graphscope_spark.graph import LinkGraph


def _brandes_tables(
    graph: LinkGraph, roots: DataFrame, max_rounds: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared Brandes engine: returns (edges, settled, deltas) — the
    persisted symmetric edge table, the forward BFS pair table
    (root, vid, dist, sigma) and the finalized backward dependencies
    (root, vid, delta) for 0 < dist < the deepest level (whose delta is
    identically 0 and is omitted; consumers coalesce). Caller owns
    ``edges`` and must unpersist it."""
    edges = (
        graph.undirected_edges(drop_self_loops=True)
        .repartition(F.col("src"))
        .persist()  # filled by multi_source_bfs's own edge-table build
    )

    # -- forward: the shared multi-source level BFS with path counts ---------
    # 2-hop blocks, as for the bcc/bridges forest (shallow web graphs)
    settled = multi_source_bfs(
        LinkGraph(graph.vertices, edges, graph.num_partitions),
        roots,
        max_rounds,
        fused_rounds=2,
        path_counts=True,
    )
    level = settled.agg(F.max("dist")).collect()[0][0] or 0

    # -- backward: dependency accumulation by decreasing level --------------
    # each level reads only the level below's finalized (root, vid, delta)
    # rows: one truncated leaf per level, unioned once after the loop
    spark = settled.sparkSession
    below = spark.createDataFrame([], "root long, vid long, delta double")
    parts = [below]
    for d in range(level - 1, 0, -1):
        nxt = (
            settled.where(F.col("dist") == d + 1)
            .join(below, ["root", "vid"], "left")
            .select(
                "root",
                F.col("vid").alias("w"),
                F.col("sigma").alias("sigma_w"),
                F.coalesce("delta", F.lit(0.0)).alias("delta_w"),
            )
        )
        # message to predecessors: flows OVER the edge w→v (undirected sym
        # table), restricted to v at dist d by the join with `cur`
        msgs = (
            nxt.join(edges, nxt["w"] == edges["dst"])
            .groupBy("root", F.col("src").alias("vid"))
            .agg(
                F.sum((F.lit(1.0) + F.col("delta_w")) / F.col("sigma_w")).alias("m")
            )
        )
        cur = settled.where(F.col("dist") == d).select("root", "vid", "sigma")
        below = (
            cur.join(msgs, ["root", "vid"], "left")
            .select(
                "root",
                "vid",
                (F.coalesce("m", F.lit(0.0)) * F.col("sigma")).alias("delta"),
            )
            .transform(truncate_plan)
        )
        parts.append(below)
    deltas = reduce(DataFrame.unionByName, parts)

    return edges, settled, deltas


def betweenness_sampled(
    graph: LinkGraph, roots: DataFrame, max_rounds: int = 200
) -> DataFrame:
    """(vid, bc) — Σ over sampled roots of Brandes dependencies δ_root(vid).

    ``roots`` is a (vid) DataFrame. Vertices unreached from every root get
    bc = 0. Deterministic: σ/δ are sums of doubles; callers round.
    """
    edges, _settled, deltas = _brandes_tables(graph, roots, max_rounds)
    bc = deltas.groupBy("vid").agg(F.sum("delta").alias("bc"))
    out = (
        graph.vertices.select("vid")
        .join(bc, "vid", "left")
        .select("vid", F.coalesce("bc", F.lit(0.0)).alias("bc"))
    )
    edges.unpersist()
    return out


def edge_betweenness_sampled(
    graph: LinkGraph, roots: DataFrame, max_rounds: int = 200
) -> DataFrame:
    """(a, b, bc) — edge betweenness over the undirected simple view
    (a < b), Brandes (2008) §3.2 / NetworkX ``edge_betweenness_centrality``
    (un-normalized): for each root, the flow over tree edge v→w
    (dist(w) = dist(v)+1) is σ(v)/σ(w) · (1 + δ(w)); summed over roots.
    Reference semantics: the centrality family of
    `analytical_engine/apps/centrality/` — the edge-valued variant the
    vertex kernel (`betweenness_centrality.h`) implies; community
    splitting (Girvan–Newman) consumes exactly this table.

    Same 100 TB shape as ``betweenness_sampled`` — the edge contributions
    are ONE extra join chain over the already-computed forward/backward
    pair tables, no additional supersteps. Every undirected edge appears
    (bc = 0 if no shortest path crosses it)."""
    edges, settled, deltas = _brandes_tables(graph, roots, max_rounds)
    # (root, w, sigma_w, delta_w) for every settled non-root w; deepest
    # level's delta is 0 by construction (omitted from deltas)
    succ = (
        settled.where(F.col("dist") > 0)
        .join(deltas, ["root", "vid"], "left")
        .select(
            "root",
            F.col("vid").alias("w"),
            F.col("dist").alias("dw"),
            F.col("sigma").alias("sigma_w"),
            F.coalesce("delta", F.lit(0.0)).alias("delta_w"),
        )
    )
    # tree edges: v→w with dist(v) = dist(w) - 1, over the symmetric table
    # rename every pred-side column (root included) so the self-join of two
    # frames cut from the same `settled` lineage is name-unambiguous
    pred = settled.select(
        F.col("root").alias("p_root"),
        F.col("vid").alias("v"),
        F.col("dist").alias("dv"),
        F.col("sigma").alias("sigma_v"),
    )
    contrib = (
        succ.join(edges, succ["w"] == edges["dst"])
        .join(
            pred,
            (F.col("p_root") == F.col("root"))
            & (F.col("v") == F.col("src"))
            & (F.col("dv") == F.col("dw") - 1),
        )
        .select(
            F.least("v", "w").alias("a"),
            F.greatest("v", "w").alias("b"),
            (
                F.col("sigma_v")
                / F.col("sigma_w")
                * (F.lit(1.0) + F.col("delta_w"))
            ).alias("c"),
        )
    )
    ebc = contrib.groupBy("a", "b").agg(F.sum("c").alias("bc"))
    und = edges.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    out = und.join(ebc, ["a", "b"], "left").select(
        "a", "b", F.coalesce("bc", F.lit(0.0)).alias("bc")
    )
    edges.unpersist()
    return out
