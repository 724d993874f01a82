"""CDLP / label propagation — LDBC-deterministic synchronous rounds.

Semantics per the reference's FLASH implementation
`/root/reference/analytical_engine/apps/flash/clustering/lpa.h:33-81` and the
Python wrapper defaults (`python/graphscope/analytical/app/lpa.py:29-54` —
``lpa`` ≡ ``cdlp``, default ``max_round=10``):

* init ``label(v) = id(v)``                              (lpa.h:48-52)
* synchronous rounds: every vertex adopts the **most frequent** label among
  its neighbors (both directions on a directed graph, one occurrence per
  edge, LDBC Graphalytics CDLP), ties broken by **smallest label**
  (lpa.h:57-67 — ascending std::map scan with strict ``>``)
* run a fixed ``max_round`` (10) of rounds; stop early if no label changed
  (lpa.h:73-78). A vertex with no neighbors keeps its label.

Spark shape per round: ``labels ⋈ edges → groupBy(dst, label).count()``
(two-level aggregation — Catalyst's partial aggregate absorbs hot
destinations' duplicate labels map-side, the skew relief for mega-degree
hubs) then the mode with min-tie-break via
``max_by(label, struct(cnt, -label))`` — no window, no sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.bsp import BSPResult, run_bsp
from graphscope_spark.graph import LinkGraph


def cdlp(
    graph: LinkGraph,
    max_rounds: int = 10,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
) -> BSPResult:
    """Returns BSPResult whose state is (vid, label)."""
    P = graph.num_partitions
    # Directed graph, LDBC CDLP: each edge contributes its src's label to dst
    # AND its dst's label to src (both directions, counted per edge).
    e = graph.edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    # partitioned by the join column — cached distribution feeds every
    # round's labels⋈sym join shuffle-free (see pagerank.py rationale)
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(F.col("src"))
        .persist()
    )
    sym.count()

    state0 = (
        graph.vertices.select("vid", F.col("vid").alias("label"), F.lit(True).alias("changed"))
        .repartition(P, F.pmod(F.col("vid"), F.lit(P)))
    )

    def superstep(state: DataFrame, rnd: int) -> DataFrame:
        nbr_labels = state.select(F.col("vid").alias("src"), "label").join(sym, "src")
        # mode with smallest-label tie-break: max over (count, -label)
        mode = (
            nbr_labels.groupBy("dst", "label")
            .agg(F.count("*").alias("cnt"))
            .groupBy("dst")
            .agg(
                F.max_by(
                    F.col("label"), F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))
                ).alias("new_label")
            )
        )
        return (
            state.join(mode, state["vid"] == mode["dst"], "left")
            .select(
                state["vid"],
                F.coalesce(F.col("new_label"), state["label"]).alias("label"),
                (F.coalesce(F.col("new_label"), state["label"]) != state["label"]).alias("changed"),
            )
        )

    def scalar_fn(state: DataFrame) -> float:
        return float(state.where("changed").count())

    res = run_bsp(
        state0,
        superstep,
        max_rounds=max_rounds,
        scalar_fn=scalar_fn,
        converged_fn=lambda changed, rnd: changed == 0,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        resume=resume,
        meta={"algorithm": "cdlp"},
    )
    sym.unpersist()
    res.state = res.state.select("vid", "label")
    return res
