"""k-core / k-shell — iterative degree peeling.

Reference semantics: `gs::KCore` (`/root/reference/analytical_engine/apps/
kcore/kcore.h`, registered `.gs_conf.yaml:156-161`) — repeatedly remove
vertices whose degree in the remaining subgraph is < k; the k-core is the
fixpoint. `gs::KShell` (`apps/kcore/kshell.h`, `.gs_conf.yaml:162-167`)
assigns each vertex the largest k for which it survives (coreness).

Spark shape: the peel loop filters the vertex set and recomputes subgraph
degrees with one semi-join + groupBy per round; each round removes at least
one vertex or terminates, and in practice whole "layers" drop per round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphscope_spark.bsp import run_bsp, truncate_plan_lazy
from graphscope_spark.graph import LinkGraph


def kcore(graph: LinkGraph, k: int, max_rounds: int = 500) -> DataFrame:
    """Vertices of the k-core of the undirected simple graph: (vid)."""
    und = graph.undirected_edges(drop_self_loops=True).persist()
    und.count()
    alive = graph.vertices.select("vid")
    n_alive = alive.count()
    for _ in range(max_rounds):
        # degree within the alive-induced subgraph
        sub = und.join(alive.withColumnRenamed("vid", "src"), "src").join(
            alive.withColumnRenamed("vid", "dst"), "dst"
        )
        deg = sub.groupBy(F.col("src").alias("vid")).agg(F.count("*").alias("deg"))
        nxt = (
            alive.join(deg, "vid", "left")
            .where(F.coalesce(F.col("deg"), F.lit(0)) >= k)
            .select("vid")
            .transform(truncate_plan_lazy)
        )
        n_next = nxt.count()
        alive = nxt
        if n_next == n_alive or n_next == 0:
            n_alive = n_next
            break
        n_alive = n_next
    und.unpersist()
    return alive


def k_core_search(graph: LinkGraph, k: int, max_rounds: int = 500) -> DataFrame:
    """One row (core_size bigint) — size of the k-core, per reference
    `apps/flash/core/k-core-search.h:42-65` (peel `d < k` vertices with
    cascading degree decrements until fixpoint, then count survivors).
    The peel itself is `kcore` above; this is its global-result form."""
    members = kcore(graph, k, max_rounds=max_rounds)
    return members.agg(F.count("*").cast("long").alias("core_size"))


def _coreness_driver(und, vertices) -> list[tuple[int, int]]:
    """Exact coreness by the classic bucket peel (Matula–Beck), driver-side.
    Linear in m; used below the ``max_driver_edges`` bound."""
    from collections import defaultdict

    adj = defaultdict(list)
    for r in und.collect():
        adj[r["src"]].append(r["dst"])
    deg = {v: len(ns) for v, ns in adj.items()}
    for r in vertices.collect():
        deg.setdefault(r["vid"], 0)
    buckets = defaultdict(list)
    for v, d in deg.items():
        buckets[d].append(v)
    core, cur, seen = {}, 0, set()
    remaining = len(deg)
    while remaining:
        while not buckets.get(cur):
            cur += 1
        v = buckets[cur].pop()
        if v in seen or deg[v] != cur:
            continue
        seen.add(v)
        remaining -= 1
        core[v] = cur
        for w in adj.get(v, ()):
            if w not in seen and deg[w] > cur:
                deg[w] -= 1
                buckets[deg[w]].append(w)
    return sorted(core.items())


def coreness(
    graph: LinkGraph,
    max_rounds: int = 3000,
    fused_rounds: int = 8,
    max_driver_edges: int = 2_000_000,
) -> DataFrame:
    """(vid, core) — largest k such that vid is in the k-core (k-shell
    index), via the distributed **h-index iteration** (Lü et al.): start
    ``core(v) = deg(v)``; each round set ``core(v)`` to the H-index of its
    neighbors' current core values; the fixpoint is exactly the coreness.

    Scale shape (frontier-incremental, rewritten round 4): a vertex's
    H-index can change only when a NEIGHBOR's core changed, so each round
    recomputes H only for ``affected = N(changed)`` — per-round work is
    proportional to the frontier's incident edges, not O(m). The H-index
    itself is computed WITHOUT gathering neighbor arrays: a (vid,
    core-value) histogram, a cumulative count window ordered by value
    descending, then ``max(min(value, cum))``; a mega-degree hub costs a
    histogram of distinct values, not a 10^8-element array.

    Round count is the iteration's inherent information-propagation depth:
    corrections travel one hop per round, so chain-like graphs (the
    sliding-window synthetic corpus is one: measured ~600 rounds at sf0.1,
    a 1-unit wave crossing ~4900 vertices at ~8 ids/round) take Θ(chain /
    window) rounds — the reference's synchronized engines pay the same
    round count at microsecond barriers. The frontier recompute makes
    those long tails nearly free in WORK; the driver-barrier floor is what
    remains on a single machine. Hitting ``max_rounds`` with changes still
    pending RAISES (mirroring ``coloring``) — round 4 found the previous
    silent return handing out unconverged cores at bench scale.

    The rounds run on ``bsp.run_bsp``: ``fused_rounds=k`` runs k rounds
    per Spark job (changed-count checked once per block) — the H-operator
    is monotone non-increasing, so rounds past convergence are no-ops and
    the block check is exact.

    Below ``max_driver_edges`` the exact bucket peel runs driver-side in
    one pass (the bounded-driver contract of min_vertex_cover/dfs_preorder)
    — on a single machine the wave's driver-barrier floor is pure overhead
    for a graph that fits in memory; pass ``max_driver_edges=0`` to force
    the distributed path (the gate does, keeping it oracle-checked)."""
    from pyspark.sql.window import Window

    und = graph.undirected_edges(drop_self_loops=True).persist()
    m = und.count()
    if m <= max_driver_edges:
        spark = graph.vertices.sparkSession
        rows = _coreness_driver(und, graph.vertices.select("vid"))
        und.unpersist()
        return spark.createDataFrame(
            [(int(v), int(c)) for v, c in rows], "vid long, core long"
        )
    deg = und.groupBy(F.col("src").alias("vid")).agg(
        F.count("*").cast("long").alias("core")
    )
    cores0 = (
        graph.vertices.select("vid")
        .join(deg, "vid", "left")
        .select(
            "vid",
            F.coalesce("core", F.lit(0)).cast("long").alias("core"),
            F.lit(True).alias("chg"),
        )
        .transform(truncate_plan_lazy)
    )
    w = (
        Window.partitionBy("vid")
        .orderBy(F.col("core").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )

    def superstep(cores: DataFrame, rnd: int) -> DataFrame:
        frontier = cores.where("chg").select(F.col("vid").alias("src"))
        affected = (
            und.join(frontier, "src").select(F.col("dst").alias("vid")).distinct()
        )
        nbr = (
            und.join(affected.withColumnRenamed("vid", "dst"), "dst")
            .join(cores.select(F.col("vid").alias("src"), "core"), "src")
            .select(F.col("dst").alias("vid"), "core")
        )
        hist = nbr.groupBy("vid", "core").agg(F.count("*").alias("c"))
        h = (
            hist.withColumn("cum", F.sum("c").over(w))
            .select("vid", F.least(F.col("core"), F.col("cum")).alias("m"))
            .groupBy("vid")
            .agg(F.max("m").alias("h"))
        )
        new_core = F.least(F.col("core"), F.coalesce(F.col("h"), F.col("core")))
        return (
            cores.select("vid", "core")
            .join(h, "vid", "left")
            .select(
                "vid",
                new_core.alias("core"),
                (new_core < F.col("core")).alias("chg"),
            )
        )

    res = run_bsp(
        cores0,
        superstep,
        max_rounds=max_rounds,
        scalar_fn=lambda cores: cores.where("chg").count(),
        converged_fn=lambda changed, rnd: changed == 0,
        fused_rounds=fused_rounds,
    )
    und.unpersist()
    if not res.converged:
        raise RuntimeError(
            f"coreness: h-index iteration still changing after {max_rounds} "
            "rounds — raise max_rounds (rounds scale with the graph's "
            "correction-wave depth; see docstring)"
        )
    return res.state.select("vid", "core")
