"""NetworkX-layer graph metrics: reciprocity, rich-club, s-metric,
isolates, global efficiency, Wiener index, Voronoi cells.

The reference forwards the whole upstream NetworkX test suites for these
through its nx compat layer (`python/graphscope/nx/algorithms/tests/forward/
test_reciprocity.py`, `test_richclub.py`, `test_smetric.py`,
`test_efficiency.py`, `test_wiener.py`, `test_voronoi.py`,
`test_isolate.py`), so they are part of the reference's user surface even
though no analytical-engine app exists for them.

Scale shapes:

* reciprocity / s-metric / isolates are one or two hash joins on the
  distinct edge set — no iteration, no driver data.
* rich-club runs entirely on DEGREE HISTOGRAMS: N_(>k) and E_(>k) are
  descending cumulative sums over two tiny (max-degree-sized) aggregates,
  never a per-k pass over vertices or edges.
* efficiency / Wiener reuse the all-sources `multi_source_bfs` pair-state
  machinery (same as `closeness_exact`) on the symmetrized graph — O(V·V)
  state, the documented exact-variant bound; HyperANF is the approximate
  scale path for distance-distribution statistics.
* Voronoi cells are ONE multi-source BFS from the seed set (state is
  O(V·seeds)), then an argmin-per-vertex window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from graphscope_spark.graph import LinkGraph
from graphscope_spark.ops import to_undirected


def _simple_directed(graph: LinkGraph) -> DataFrame:
    """Distinct directed edges, self-loops dropped."""
    return (
        graph.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _simple_undirected(graph: LinkGraph) -> DataFrame:
    """(a, b) with a < b — the distinct simple undirected edge set."""
    return (
        graph.edges.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
    )


def _undirected_degrees(
    graph: LinkGraph, und: DataFrame | None = None
) -> DataFrame:
    """(vid, deg) on the simple undirected graph (degree-0 rows included).
    Pass a (persisted) ``und`` frame to avoid recomputing the distinct
    edge-set shuffle when the caller already holds it."""
    if und is None:
        und = _simple_undirected(graph)
    ends = und.select(F.col("a").alias("vid")).unionByName(
        und.select(F.col("b").alias("vid"))
    )
    d = ends.groupBy("vid").agg(F.count("*").alias("deg"))
    return (
        graph.vertices.select("vid")
        .join(d, "vid", "left")
        .select("vid", F.coalesce("deg", F.lit(0)).cast("long").alias("deg"))
    )


def reciprocity(graph: LinkGraph) -> DataFrame:
    """(vid, reciprocity) per vertex — NetworkX semantics on the simple
    directed graph: 2·|pred ∩ succ| / (|pred| + |succ|); vertices with no
    in- or out-edges are omitted (NetworkX returns NaN for them)."""
    de = _simple_directed(graph)
    succ = de.groupBy("src").agg(F.count("*").alias("n_out")).withColumnRenamed(
        "src", "vid_o"
    )
    pred = de.groupBy("dst").agg(F.count("*").alias("n_in")).withColumnRenamed(
        "dst", "vid_i"
    )
    mutual = (
        de.join(
            de.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
            ["src", "dst"],
            "left_semi",
        )
        .groupBy("src")
        .agg(F.count("*").alias("n_mut"))
        .withColumnRenamed("src", "vid_m")
    )
    return (
        succ.join(pred, succ["vid_o"] == pred["vid_i"], "full")
        .select(
            F.coalesce("vid_o", "vid_i").alias("vid"),
            F.coalesce("n_out", F.lit(0)).alias("n_out"),
            F.coalesce("n_in", F.lit(0)).alias("n_in"),
        )
        .join(mutual, F.col("vid") == F.col("vid_m"), "left")
        .select(
            "vid",
            (
                2.0
                * F.coalesce("n_mut", F.lit(0))
                / (F.col("n_out") + F.col("n_in"))
            ).alias("reciprocity"),
        )
    )


def overall_reciprocity(graph: LinkGraph) -> float:
    """|{(u,v) : (v,u) ∈ E}| / |E| on the simple directed edge set."""
    de = _simple_directed(graph).persist()
    n_all = de.count()
    rev = de.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    n_overlap = de.join(rev, ["src", "dst"], "left_semi").count()
    de.unpersist()
    return n_overlap / n_all if n_all else 0.0


def s_metric(graph: LinkGraph) -> float:
    """Σ_{(u,v) ∈ und} deg(u)·deg(v) (Li et al.; NetworkX ``s_metric``
    with normalized=False) on the simple undirected graph."""
    # one distinct-edge shuffle, cached, feeding the edge scan AND both
    # degree joins (unpersisted after the scalar collects)
    und = _simple_undirected(graph).persist()
    deg = _undirected_degrees(graph, und)
    da = deg.select(F.col("vid").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("vid").alias("b"), F.col("deg").alias("degb"))
    row = (
        und.join(da, "a")
        .join(db, "b")
        .agg(F.sum(F.col("dega") * F.col("degb")).alias("s"))
        .collect()[0]
    )
    und.unpersist()
    return float(row["s"] or 0)


def isolates(graph: LinkGraph) -> DataFrame:
    """(vid) — vertices with no incident edge at all (self-loops count as
    incidence, matching NetworkX)."""
    touched = graph.edges.select(F.col("src").alias("vid")).unionByName(
        graph.edges.select(F.col("dst").alias("vid"))
    )
    return graph.vertices.select("vid").join(touched, "vid", "left_anti")


def rich_club_coefficient(graph: LinkGraph) -> DataFrame:
    """(k, phi) for k = 0..max_deg-1 with ≥2 qualifying vertices —
    unnormalized NetworkX ``rich_club_coefficient``: φ(k) = 2·E_k /
    (N_k·(N_k−1)) where N_k = |{v : deg(v) > k}| and E_k = undirected
    edges with both endpoints of degree > k. (The normalized variant
    divides by a random-rewiring baseline — sampling-dependent, so not
    exposed; this is the deterministic core.) Histogram-only plan: two
    max-degree-sized aggregates + descending cumulative sums."""
    # the distinct edge set feeds the degree aggregate AND the per-edge
    # min-degree histogram — cache it once (session-lifetime: the returned
    # frame is lazy, so there is no safe in-function unpersist point; the
    # result is only max-degree rows, collect it and the cache is the only
    # retained cost)
    und = _simple_undirected(graph).persist()
    deg = _undirected_degrees(graph, und)
    da = deg.select(F.col("vid").alias("a"), F.col("deg").alias("dega"))
    db = deg.select(F.col("vid").alias("b"), F.col("deg").alias("degb"))
    # histogram of vertex degrees, and of per-edge MIN endpoint degree
    hist_n = deg.groupBy("deg").agg(F.count("*").alias("cn"))
    hist_e = (
        und.join(da, "a")
        .join(db, "b")
        .select(F.least("dega", "degb").alias("m"))
        .groupBy("m")
        .agg(F.count("*").alias("ce"))
    )
    # k domain 0..max_deg-1 from the (tiny) degree histogram
    # guard mx=0 (edgeless graph): sequence(0, -1) DESCENDS in Spark and
    # would emit a spurious k=-1 row — filter first so the domain is empty
    ks = (
        hist_n.agg(F.max("deg").alias("mx"))
        .where(F.col("mx") >= 1)
        .select(F.explode(F.sequence(F.lit(0), F.col("mx") - 1)).alias("k"))
    )
    wn = Window.orderBy(F.col("deg").desc())
    cum_n = hist_n.select(
        (F.col("deg") - 1).alias("k"), F.sum("cn").over(wn).alias("nk")
    )  # nk at k = deg-1 == |{deg > k}|; holes filled by the asof-style join
    we = Window.orderBy(F.col("m").desc())
    cum_e = hist_e.select(
        (F.col("m") - 1).alias("k"), F.sum("ce").over(we).alias("ek")
    )
    # for arbitrary k: N_k = nk at the smallest histogram k' >= k
    wk = Window.orderBy(F.col("k").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    n_of_k = (
        ks.join(cum_n, "k", "left")
        .select("k", F.last("nk", ignorenulls=True).over(wk).alias("nk"))
    )
    e_of_k = (
        ks.join(cum_e, "k", "left")
        .select("k", F.last("ek", ignorenulls=True).over(wk).alias("ek"))
    )
    return (
        n_of_k.join(e_of_k, "k")
        .where(F.col("nk") >= 2)
        .select(
            F.col("k").cast("long").alias("k"),
            (
                2.0
                * F.coalesce("ek", F.lit(0))
                / (F.col("nk") * (F.col("nk") - 1))
            ).alias("phi"),
        )
    )


def _all_pairs_dist(graph: LinkGraph, max_rounds: int = 500) -> DataFrame:
    """(root, vid, dist) over the symmetrized simple graph, reachable
    pairs only (root == vid rows included at dist 0)."""
    from graphscope_spark.algorithms.closeness import multi_source_bfs

    und = to_undirected(graph)
    return multi_source_bfs(
        und, graph.vertices.select("vid"), max_rounds=max_rounds
    )


def global_efficiency(graph: LinkGraph, max_rounds: int = 500) -> float:
    """NetworkX ``global_efficiency``: mean of 1/d(u,v) over ordered pairs
    u ≠ v on the undirected simple graph; unreachable pairs contribute 0."""
    n = graph.vertices.count()
    if n < 2:
        return 0.0
    pairs = _all_pairs_dist(graph, max_rounds)
    s = (
        pairs.where(F.col("root") != F.col("vid"))
        .agg(F.sum(1.0 / F.col("dist")).alias("s"))
        .collect()[0]["s"]
    )
    return float(s or 0.0) / (n * (n - 1))


def wiener_index(graph: LinkGraph, max_rounds: int = 500) -> float:
    """NetworkX ``wiener_index`` on the undirected simple graph: sum of
    d(u,v) over unordered pairs; +inf if the graph is disconnected."""
    n = graph.vertices.count()
    pairs = _all_pairs_dist(graph, max_rounds)
    row = (
        pairs.where(F.col("root") != F.col("vid"))
        .agg(F.count("*").alias("c"), F.sum("dist").alias("s"))
        .collect()[0]
    )
    if (row["c"] or 0) < n * (n - 1):
        return float("inf")
    return float(row["s"] or 0) / 2.0


def voronoi_cells(graph: LinkGraph, seeds: list[int]) -> DataFrame:
    """(vid, center, dist) — each vertex assigned to its nearest seed by
    undirected BFS distance (ties → smallest seed id, pinning NetworkX's
    arbitrary tie-break); unreachable vertices are omitted (NetworkX puts
    them in an 'unreachable' cell — derivable as the anti-join)."""
    from graphscope_spark.algorithms.closeness import multi_source_bfs

    und = to_undirected(graph)
    spark = graph.edges.sparkSession
    roots = spark.createDataFrame([(int(s),) for s in seeds], "vid long")
    d = multi_source_bfs(und, roots)
    w = Window.partitionBy("vid").orderBy(F.col("dist").asc(), F.col("root").asc())
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "vid", F.col("root").alias("center"), F.col("dist").cast("long").alias("dist")
        )
    )


def effective_size(graph: LinkGraph) -> DataFrame:
    """(vid, effective_size) — Burt's effective network size on the
    unweighted undirected simple graph, via the Borgatti simplification
    e(u) = deg(u) − 2·t(u)/deg(u) with t(u) = edges among u's neighbors
    (= triangles through u, reusing the oriented-intersection kernel).
    Degree-0 vertices are omitted (NetworkX yields NaN for them).
    Reference surface: nx forward test_structuralholes."""
    from graphscope_spark.algorithms.triangles import triangles

    und = _simple_undirected(graph).persist()
    und_graph = LinkGraph(
        graph.vertices,
        und.select(F.col("a").alias("src"), F.col("b").alias("dst")),
        graph.num_partitions,
    )
    tri = triangles(und_graph)
    deg = _undirected_degrees(graph, und)
    return (
        deg.where(F.col("deg") > 0)
        .join(tri, "vid", "left")
        .select(
            "vid",
            (
                F.col("deg")
                - 2.0 * F.coalesce("tri", F.lit(0)) / F.col("deg")
            ).alias("effective_size"),
        )
    )


def constraint(graph: LinkGraph, max_degree: int | None = None) -> DataFrame:
    """(vid, constraint) — Burt's constraint on the unweighted undirected
    simple graph: c(u) = Σ_{v∈N(u)} (1/deg(u) + Σ_{w∈N(u)∩N(v)}
    1/(deg(u)·deg(w)))².  Degree-0 vertices omitted (NaN in NetworkX).

    The indirect term is a wedge join — inherently O(Σ_w deg(w)²) pairs,
    the true cost of the definition. ``max_degree`` optionally drops
    hub middles w above the cap (the `link_prediction` skew lever) at the
    documented cost of undercounting hub-mediated redundancy; None = exact.
    Reference surface: nx forward test_structuralholes."""
    # cache the distinct edge set: it feeds both wedge sides, the
    # adjacency semi-join, and the degree aggregate (session-lifetime for
    # the same reason as link_prediction — the result plan is lazy)
    und = _simple_undirected(graph).persist()
    sym = und.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        und.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = _undirected_degrees(graph, und).where(F.col("deg") > 0)
    mid_deg = deg
    if max_degree is not None:
        mid_deg = deg.where(F.col("deg") <= max_degree)
    # wedges u - w - v (w adjacent to both), keyed back to adjacent (u,v)
    uw = sym.select(F.col("u"), F.col("v").alias("w")).join(
        mid_deg.select(F.col("vid").alias("w"), F.col("deg").alias("degw")),
        "w",
    )
    wv = sym.select(F.col("u").alias("w"), F.col("v"))
    wedges = uw.join(wv, "w").where(F.col("u") != F.col("v"))
    ind = (
        wedges.join(sym, ["u", "v"], "left_semi")
        .join(
            deg.select(F.col("vid").alias("u"), F.col("deg").alias("degu")), "u"
        )
        .groupBy("u", "v")
        .agg(
            F.sum(1.0 / (F.col("degu") * F.col("degw"))).alias("ind")
        )
    )
    pairs = sym.join(
        deg.select(F.col("vid").alias("u"), F.col("deg").alias("degu")), "u"
    ).join(ind, ["u", "v"], "left")
    lc = pairs.select(
        "u",
        F.pow(
            1.0 / F.col("degu") + F.coalesce("ind", F.lit(0.0)), 2.0
        ).alias("lc"),
    )
    return lc.groupBy("u").agg(F.sum("lc").alias("constraint")).select(
        F.col("u").alias("vid"), "constraint"
    )


def flow_hierarchy(graph: LinkGraph) -> float:
    """NetworkX ``flow_hierarchy``: fraction of DISTINCT directed edges
    not participating in any cycle = edges whose endpoints lie in
    different SCCs (self-loops are cycles). Reuses the log-round SCC
    kernel. Reference surface: nx forward test_hierarchy."""
    from graphscope_spark.algorithms.scc import scc

    comp = scc(graph)
    de = graph.edges.select("src", "dst").distinct().persist()
    n_all = de.count()
    ca = comp.select(F.col("vid").alias("src"), F.col("comp").alias("cs"))
    cb = comp.select(F.col("vid").alias("dst"), F.col("comp").alias("cd"))
    n_cyc = (
        de.join(ca, "src").join(cb, "dst").where(F.col("cs") == F.col("cd")).count()
    )
    de.unpersist()
    return 1.0 - n_cyc / n_all if n_all else 1.0


def distance_measures(graph: LinkGraph, max_rounds: int = 500) -> DataFrame:
    """(vid, comp, ecc, is_center, is_periphery) — exact eccentricity on
    the symmetrized simple graph, computed PER COMPONENT (NetworkX raises
    on disconnected input; the per-component generalization is the useful
    contract at web scale, where the giant component coexists with
    satellites). comp = min reachable vid; center/periphery flags compare
    ecc to the component's radius/diameter. Reference surface: nx forward
    test_distance_measures (eccentricity/center/periphery/radius/diameter)."""
    pairs = _all_pairs_dist(graph, max_rounds)
    per_v = pairs.groupBy("root").agg(
        F.min("vid").alias("comp"), F.max("dist").alias("ecc")
    )
    per_c = per_v.groupBy("comp").agg(
        F.min("ecc").alias("radius"), F.max("ecc").alias("diameter")
    )
    return (
        per_v.join(per_c, "comp")
        .select(
            F.col("root").alias("vid"),
            "comp",
            F.col("ecc").cast("long").alias("ecc"),
            (F.col("ecc") == F.col("radius")).cast("long").alias("is_center"),
            (F.col("ecc") == F.col("diameter")).cast("long").alias("is_periphery"),
        )
    )


def degree_histogram(graph: LinkGraph) -> DataFrame:
    """(deg, n) — NetworkX ``degree_histogram`` on the simple undirected
    graph (zero-degree vertices included; zero-count degrees omitted —
    the sparse form, since a web graph's max degree is huge)."""
    return (
        _undirected_degrees(graph)
        .groupBy("deg")
        .agg(F.count("*").alias("n"))
        .select(F.col("deg").cast("long").alias("deg"), F.col("n").cast("long").alias("n"))
    )


def powerlaw_alpha(graph: LinkGraph, k_min: int = 2) -> float:
    """Hill/Clauset MLE for the power-law tail exponent of the undirected
    degree distribution: alpha = 1 + n_tail / Σ_{deg≥k_min} ln(deg /
    (k_min − 0.5)) (continuous approximation, Clauset-Shalizi-Newman 2009
    eq. 3.7 — the standard web-graph heavy-tail summary). Runs on the
    degree HISTOGRAM (max-degree-sized), not per-vertex rows."""
    h = degree_histogram(graph).where(F.col("deg") >= k_min)
    row = h.agg(
        F.sum("n").alias("nt"),
        F.sum(
            F.col("n") * F.log(F.col("deg") / F.lit(k_min - 0.5))
        ).alias("s"),
    ).collect()[0]
    if not row["nt"] or not row["s"]:
        return float("nan")
    return 1.0 + float(row["nt"]) / float(row["s"])


def topological_generations(
    graph: LinkGraph,
    max_rounds: int | None = None,
    fused_rounds: int = 8,
    local_cutoff: int = 100_000,
    local_edge_cutoff: int = 2_000_000,
) -> DataFrame:
    """(vid, gen) — NetworkX ``topological_generations`` index per vertex
    on a DAG: gen(v) = length of the longest path from any source to v
    (generation 0 = in-degree-0 vertices). Raises on cyclic input.

    Kahn peeling with max-accumulate, in two regimes:

    * **Distributed blocks** — each superstep settles the current
      in-degree-0 layer: freshly settled vertices send ``gen+1`` to their
      out-neighbors in ONE shuffle (max + count aggregate); receivers
      accumulate the max and decrement a pending-in-degree counter, and
      settle when it hits zero. The supersteps run on ``bsp.run_bsp``,
      ``fused_rounds`` of them per Spark job. Unlike plain max-relax, the
      pending counter makes the NOT-YET-FINAL set explicit and
      monotonically shrinking — which both detects cycles immediately (no
      fresh settlers while vertices remain pending) and enables the second
      regime.
    * **Guarded local finish** — real web DAGs are deep through sparse
      chain tails: after the wide layers settle, thousands of residual
      rounds would each move a handful of vertices at full
      driver-barrier + shuffle-job cost. When the residual drops under
      ``local_cutoff`` vertices AND ``local_edge_cutoff`` induced edges
      (both counted, never assumed), the residual subgraph — with each
      vertex's already-accumulated max over settled predecessors — is
      finished in one bounded driver-side Kahn pass (the
      ``dfs_preorder`` precedent: an explicit, size-guarded escape from
      P-depth barrier cost). Above the guards it keeps iterating
      distributed, so the escape can never OOM the driver.

    The NC-textbook alternative (max-plus relation squaring, O(log depth)
    rounds) was rejected: its state is the reachability closure — O(n²)
    pairs on a chain — which cannot exist at 100 TB. Reference surface:
    nx forward test_dag (topological_sort / dag_longest_path family — any
    topological order sorted by (gen, vid) is deterministic)."""
    from graphscope_spark.bsp import run_bsp, truncate_plan

    if graph.edges.where(F.col("src") == F.col("dst")).limit(1).count() > 0:
        raise ValueError(
            "topological_generations: the input graph has a self-loop — "
            "a cycle (NetworkX raises NetworkXUnfeasible here)"
        )
    edges = (
        graph.edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(F.col("src"))
        .persist()
    )
    edges.count()
    n = graph.vertices.count()
    limit = max_rounds if max_rounds is not None else n + 1

    indeg = edges.groupBy(F.col("dst").alias("vid")).agg(
        F.count("*").cast("long").alias("pend")
    )
    state = truncate_plan(
        graph.vertices.join(indeg, "vid", "left").select(
            "vid",
            F.lit(0).cast("long").alias("gen"),
            F.coalesce(F.col("pend"), F.lit(0)).cast("long").alias("pend"),
            (F.coalesce(F.col("pend"), F.lit(0)) == 0).alias("fresh"),
        )
    )

    def superstep(st: DataFrame, rnd: int) -> DataFrame:
        frontier = st.where("fresh").select(F.col("vid").alias("src"), "gen")
        msgs = (
            frontier.join(edges, "src")
            .groupBy("dst")
            .agg(
                (F.max("gen") + 1).alias("mgen"),
                F.count("*").cast("long").alias("dec"),
            )
        )
        j = st.join(msgs, st["vid"] == msgs["dst"], "left")
        pend2 = st["pend"] - F.coalesce(F.col("dec"), F.lit(0))
        return j.select(
            st["vid"],
            F.when(
                st["pend"] > 0,
                F.greatest(st["gen"], F.coalesce(F.col("mgen"), st["gen"])),
            )
            .otherwise(st["gen"])
            .alias("gen"),
            pend2.alias("pend"),
            ((st["pend"] > 0) & (pend2 == 0)).alias("fresh"),
        )

    # guarded local finish: set by scalar_fn once the residual fits
    tail = {}

    def scalar_fn(st: DataFrame) -> int:
        row = st.agg(
            F.sum(F.col("fresh").cast("long")).alias("fr"),
            F.sum((F.col("pend") > 0).cast("long")).alias("un"),
        ).collect()[0]
        fresh, unsettled = int(row["fr"] or 0), int(row["un"] or 0)
        if unsettled and not fresh:
            raise ValueError(
                "topological_generations: no vertex can settle while "
                f"{unsettled} remain pending — the input graph has a cycle"
            )
        if 0 < unsettled <= local_cutoff:
            # the block's final settlers are fresh but have NOT sent yet —
            # deliver their boundary messages into the residual gens before
            # handing off, or the local pass would start from underestimates
            bmsgs = (
                st.where("fresh")
                .select(F.col("vid").alias("src"), "gen")
                .join(edges, "src")
                .groupBy("dst")
                .agg((F.max("gen") + 1).alias("mgen"))
            )
            pending = st.where(F.col("pend") > 0)
            resid = pending.join(
                bmsgs, pending["vid"] == bmsgs["dst"], "left"
            ).select(
                pending["vid"],
                F.greatest(
                    pending["gen"], F.coalesce(F.col("mgen"), pending["gen"])
                ).alias("gen"),
            )
            re = (
                edges.join(resid.select(F.col("vid").alias("src")), "src", "semi")
                .join(resid.select(F.col("vid").alias("dst")), "dst", "semi")
                .select("src", "dst")
                .persist()
            )
            if re.count() <= local_edge_cutoff:
                tail.update(resid=resid, edges=re)
            else:
                re.unpersist()  # residual too dense — keep iterating
        return unsettled

    try:
        res = run_bsp(
            state,
            superstep,
            max_rounds=limit,
            scalar_fn=scalar_fn,
            converged_fn=lambda unsettled, rnd: unsettled == 0 or "edges" in tail,
            fused_rounds=fused_rounds,
        )
        if "edges" in tail:
            vrows = tail["resid"].collect()
            erows = tail["edges"].collect()
            tail["edges"].unpersist()
            done = res.state.where(F.col("pend") == 0).select("vid", "gen")
            return done.unionByName(_kahn_local(res.state.sparkSession, vrows, erows))
        if not res.converged:
            raise ValueError(
                "topological_generations: levels still growing after "
                f"{limit} rounds — the input graph has a cycle"
            )
        return res.state.select("vid", "gen")
    finally:
        edges.unpersist()


def _kahn_local(spark, vrows, erows) -> DataFrame:
    """Bounded driver-side Kahn finish for the residual DAG tail: ``vrows``
    carry each residual vertex's max over already-settled predecessors;
    ``erows`` are the residual-internal edges. O(V+E), size-guarded by the
    caller."""
    from collections import defaultdict

    gen = {r["vid"]: r["gen"] for r in vrows}
    adj: dict = defaultdict(list)
    pend: dict = defaultdict(int)
    for r in erows:
        adj[r["src"]].append(r["dst"])
        pend[r["dst"]] += 1
    stack = [v for v in gen if pend[v] == 0]
    seen = 0
    while stack:
        v = stack.pop()
        seen += 1
        gv1 = gen[v] + 1
        for w in adj[v]:
            if gen[w] < gv1:
                gen[w] = gv1
            pend[w] -= 1
            if pend[w] == 0:
                stack.append(w)
    if seen != len(gen):
        raise ValueError(
            "topological_generations: residual subgraph contains a cycle"
        )
    return spark.createDataFrame(
        [(int(v), int(g)) for v, g in gen.items()], "vid long, gen long"
    )


def dag_longest_path_length(graph: LinkGraph) -> int:
    """NetworkX ``dag_longest_path_length``: edges on the longest path =
    max generation index."""
    row = (
        topological_generations(graph)
        .agg(F.max("gen").alias("m"))
        .collect()[0]
    )
    return int(row["m"] or 0)


def clustering_agreement(a: DataFrame, b: DataFrame) -> DataFrame:
    """One row (n, nmi, ari) — agreement between two vertex partitions
    (vid, label): Adjusted Rand Index (Hubert & Arabie 1985) and
    Normalized Mutual Information (2I/(H_a+H_b), natural logs) over their
    contingency table. The evaluation every community pipeline needs when
    comparing detectors (louvain vs cdlp vs ground truth) — the nx-layer
    twin of sklearn.metrics' pair, built from three aggregates.

    Shape: ONE inner join of the label tables on vid (vertices absent
    from either side are excluded) → contingency counts (cells bounded by
    the smaller partition's support), then marginal and cell aggregates —
    every sum is map-side combinable; nothing driver-side but the final
    scalars. Degenerate denominators (a partition with one cluster, or
    every vertex alone) yield NULL for that metric."""
    la = a.select(F.col("vid"), F.col("label").alias("la"))
    lb = b.select(F.col("vid"), F.col("label").alias("lb"))
    j = la.join(lb, "vid").persist()
    n = j.count()
    if n == 0:
        j.unpersist()
        return a.sparkSession.createDataFrame(
            [(0, None, None)], "n long, nmi double, ari double"
        )
    cells = j.groupBy("la", "lb").agg(F.count("*").cast("double").alias("c"))
    am = j.groupBy("la").agg(F.count("*").cast("double").alias("ca"))
    bm = j.groupBy("lb").agg(F.count("*").cast("double").alias("cb"))
    c2 = lambda c: c * (c - 1) / 2.0
    sum_cells = cells.agg(F.sum(c2(F.col("c")))).collect()[0][0] or 0.0
    sum_a = am.agg(F.sum(c2(F.col("ca")))).collect()[0][0] or 0.0
    sum_b = bm.agg(F.sum(c2(F.col("cb")))).collect()[0][0] or 0.0
    nC2 = n * (n - 1) / 2.0
    exp = sum_a * sum_b / nC2 if nC2 > 0 else 0.0
    ari_den = 0.5 * (sum_a + sum_b) - exp
    ari = (sum_cells - exp) / ari_den if ari_den != 0 else None
    # NMI: I = Σ_ij p_ij ln(p_ij/(p_i p_j)); H = −Σ p ln p
    mi = (
        cells.join(am, "la")
        .join(bm, "lb")
        .agg(
            F.sum(
                (F.col("c") / n)
                * F.log((F.col("c") * n) / (F.col("ca") * F.col("cb")))
            )
        )
        .collect()[0][0]
        or 0.0
    )
    ha = am.agg(-F.sum((F.col("ca") / n) * F.log(F.col("ca") / n))).collect()[0][0] or 0.0
    hb = bm.agg(-F.sum((F.col("cb") / n) * F.log(F.col("cb") / n))).collect()[0][0] or 0.0
    nmi = 2.0 * mi / (ha + hb) if (ha + hb) > 0 else None
    j.unpersist()
    return a.sparkSession.createDataFrame(
        [
            (
                int(n),
                float(nmi) if nmi is not None else None,
                float(ari) if ari is not None else None,
            )
        ],
        "n long, nmi double, ari double",
    )
