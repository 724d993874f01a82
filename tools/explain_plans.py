"""Dump formatted physical plans of representative queries → BENCH/PLANS.md.

Evidence that the plans are the ones we want at scale: cached edge tables
scanned in place (InMemoryTableScan, no re-shuffle), exchanges only where
the algorithm semantically shuffles (message aggregation), whole-stage
codegen spans over the scan+join+partial-agg pipelines, and parquet scans
with pruned schemas / pushed filters.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = "/root/testdata/sf0.01"

PICKS = {
    "graph_edges": "edge-table derivation — pure codegen over one parquet scan",
    "graph_degrees": "degree join — column-pruned scans, partial aggregates",
    "token_counts": "text stats — single scan, zero shuffles, full codegen",
    "dedup_exact": "hash-dedup — one exchange for the md5 groupBy",
    "dedup_simhash": "simhash — 60 conditional sums in ONE aggregate, no per-bit explosion",
    "ann_cosine_topk": "blocked exact ANN — one mapInPandas over a broadcast matrix",
    "curation_pipeline": "composite curation — fused multi-branch scan of documents",
    "ann_lsh_topk": "LSH ANN — GEMM signatures, int-only band join, einsum rescoring (operator plan, not the gate's recall-bit wrapper)",
    "lpa_u2i": "bipartite LPA — melted label state, two join+agg half-steps per round",
    "msf": "Boruvka MSF — per-component min_by lightest edge, contraction fixpoint",
    "kclique4": "4-clique — degree-ordered orientation, two oriented-adjacency joins",
    "rectangles": "rectangle count — wedge partial-agg, C(n,2) fold, no 4-way join",
    "diamonds": "diamond count — shared triangle-instance kernel, direction-bit aggregate",
    "ann_ivf_topk": "IVF ANN — broadcast-centroid GEMM assignment, int-only probe⋈member join (no dedup), einsum rescoring (operator plan)",
    "gie_traversal": "GIE-lite has→out→groupCount — the lang filter pushes into the vertex-side scan; hops are plain equi-joins",
    "gie_match": "Gremlin match — conjunctive 3-pattern = one multi-way equi-join chain Catalyst/AQE reorders freely",
    "multimodal_features": "image decode — ONE Arrow-batched mapInPandas over the scan, no shuffle",
    "tfidf_top_terms": "tf-idf top-k — explode → partial-agg tf, df from the same aggregate, idf dictionary join, window co-partitioned with the tf shuffle",
    "host_graph": "host-graph rollup — codegen regexp host extraction + map-side partial counts; the rollup itself adds one groupBy exchange over the shared edge-table derivation (graph_edges alone shows 2)",
    "gie_edge_expand": "Gremlin bothE/otherV — edge-property filter pushed into both direction scans, union of two equi-joins",
    "neighbor_sample": "GLE-lite k-hop fanout sampling — per hop: one shuffle of the frontier onto the cached src-partitioned edge table + a window ranked WITHIN (root, src) (never a global sort); fanouts bound the frontier to |seeds|·Πf",
    "negative_sample": "GLE-lite negative sampling — hash draws are pure codegen (md5→mod), candidate resolution is an int-only join against the range-bucketed ordered index (no single-partition global-rank window), rejection is one anti-join on (src,dst)",
    "bm25_rank": "Okapi BM25 — the query-term IN filter lands immediately after the token explode so only hits reach the tf aggregate; doc lengths via size(tokens) with no explode; |q|-row idf table broadcast; distributed TakeOrderedAndProject top-k, then the rank window runs over <=k rows",
    "event_quantiles": "GK quantile sketch check — exact percentile AND percentile_approx computed in the SAME ObjectHashAggregate pass (map-side partial sketches); the rank-bracket grading is one broadcast-joined second aggregate co-partitioned on the group key",
    "hll_distinct": "HLL distinct — one ObjectHashAggregate with map-side partial DataSketches state; the shuffle moves groups x 2^lgk-byte sketch blobs, independent of row count or distinct count (operator plan, not the gate's exact-count grading wrapper)",
    "link_prediction": "link prediction — ONE wedge self-join keyed on the middle vertex (hub cap available for power-law skew), map-side partially aggregated pair groupBy, anti-join against the canonical edge set, two degree joins",
    "asof_join": "as-of join — tagged union + ONE key-partitioned window (last non-null right payload); no range self-join, the only exchange is the key shuffle; left payload re-attached by a narrow rowid join",
    "range_join": "range join (bucketed path) — intervals exploded into covered fixed-width buckets, plain equi-join on bucket + residual predicate; fan-out bounded by interval_width/bucket_width",
    "lm_scores": "unigram-LM scoring — explode → vocab-bounded partial-agg count shuffle; the (token, −log2 p) model re-joins the token stream via BroadcastExchange; one mean per doc",
    "frequent_tokens": "heavy hitters — mapInPandas candidate nomination (ONE per-partition SpaceSaving summary accumulated across Arrow batches, O(capacity) memory and candidates), exact counting pass semi-joined to the broadcast candidate set; the corpus-wide shuffle carries only candidate partial counts",
    "semdedup": "SemDeDup — broadcast-centroid GEMM assignment (mapInPandas), ONE exchange keyed on cluster id into the applyInPandas within-cluster cosine scan",
    "dup_spans": "ExactSubstr duplicated spans — codegen transform+posexplode positional n-gram index, partial-agg hash count, semi-join back, ONE doc-keyed gaps-and-islands window",
    "structural_holes": "Burt structural holes — triangle kernel for effective size; constraint's wedge join keyed on the middle vertex with partial-agg pair sums",
    "rich_club": "rich club — histogram-only: two max-degree-sized aggregates + descending cumulative-sum windows, never a per-k pass",
    "chunk_documents": "context-window chunking — ONE scan + generate (sequence->slice->explode), ZERO shuffles; fan-out = ceil(tokens/stride) rows per doc, exactly the training-sample count",
    "winnow_fingerprints": "winnowing — gram explode, then ONE per-doc window min over the packed (hash, rightmost-pos) key; never a global window",
    "readability_scores": "Flesch readability — regexp counts over the scan, zero shuffles, full codegen",
    "token_zipf": "Zipf fit — explode -> vocab-bounded partial-agg count; top-k is TakeOrderedAndProject; the rank window + OLS run over <=k rows",
    "bipartite_projection": "bipartite projection — distinct + right-key self-join over the ONCE-persisted capped edge set (max_degree anti-skew cap), partial-agg pair counts, Jaccard from two broadcast degree joins; the operator eagerly materializes (truncate_plan) so the dump shows the checkpointed result, the join shape is in the description",
    "feature_propagation": "SGC propagation — per round ONE weighted-edge join + 64 independent SUM aggregates (map-side combinable); shuffle = n rows of dim doubles, no collect_list",
    "lcc_directed": "directed LCC (r5) — numerator rides the shared degree-ordered triangle kernel (corner gains popcount of the opposite pair's direction mask), one explode+groupBy, two broadcast joins for degree/count attach; no wedge-squared hub blowup",
    "gremlin_traversal": "string-Gremlin front end (r5) — the TEXTUAL query parses onto the same Traversal chain, so the physical plan is identical to gie_traversal's: lang filter pushed into the vertex scan, hops as plain equi-joins (the parser adds zero plan nodes)",
    "cypher_select_path": "Cypher front end (r5) — MATCH two-hop with var<>var filter and implicit grouping compiles to the alias-projection join chain + one pair-keyed partial aggregate; same plan family as gie_select_path",
    "pyg_blocks": "PyG mini-batch export (r5) — neighbor_sample blocks re-keyed to per-root local indices via two (root,vid)-keyed joins against the window-ranked local-index table, ONE per-root collect (fanout-bounded payloads), sort_array for deterministic tensor order",
    "repetition_scores": "Gopher repetition filters — two explode→partial-agg chains (lines, n-grams) keyed by doc_id, window co-partitioned with the 2-gram aggregate, zero UDFs. Deliberately scan-heavy/shuffle-light: the text column is re-scanned per chain (projection-pruned, sequential IO) so every aggregate keeps map-side partial aggregation — the shuffled bytes are distinct (doc, gram) counts, not the raw token stream a single-scan window formulation would have to sort-shuffle.",
}

MAX_TREE_LINES = 90  # subgraph-census trees run to ~800 nodes; keep the head


def _ann_factory(which):
    def build(spark):
        from graphscope_spark.datapipe.similarity import ivf_ann_topk, lsh_ann_topk

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        if which == "ivf":
            return ivf_ann_topk(emb, k=5, n_centroids=16, nprobe=8)
        return lsh_ann_topk(emb, k=5, num_planes=24, bands=8)

    return build


def _hll_factory(spark):
    from graphscope_spark.datapipe import hll_distinct
    from graphscope_spark.datapipe.dedup import char_shingles

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sh = char_shingles(docs, 5, hashed=True).join(
        docs.select("doc_id", "lang"), "doc_id"
    )
    return hll_distinct(sh, ["lang"], "shingle", lgk=14)


# picks whose GATE wrapper collects eagerly and returns a scalar/truncated
# frame — explain the real operator DataFrame instead
FACTORIES = {
    "ann_lsh_topk": _ann_factory("lsh"),
    "ann_ivf_topk": _ann_factory("ivf"),
    "hll_distinct": _hll_factory,
}


def summarize(plan: str) -> str:
    n_exch = len(re.findall(r"Exchange", plan))
    n_wsc = len(re.findall(r"WholeStageCodegen", plan))
    n_scan = len(re.findall(r"Scan parquet", plan))
    pushed = re.findall(r"PushedFilters: \[[^\]]*[A-Za-z][^\]]*\]", plan)
    return (
        f"*{n_exch} exchanges, {n_wsc} whole-stage-codegen spans, "
        f"{n_scan} parquet scans, {len(pushed)} scans with pushed filters*"
    )


NOTES = """\
## Iterative-loop cost notes (round 4, measured at sf0.01 on an idle box)

Loop operators have no single plan to dump; their cost shape was measured
directly (tools/check_gate timings + controlled warm-process A/Bs):

* **Peel loops (degeneracy_order / onion_layers)** — per-round cost is
  driver-side plan work, ~0.2 s/round warm; sf0.01 peel depth is 112
  rounds, so wall time = depth x driver floor. Three designs were A/B'd:
  (1) leaf-cutting the persisted edge table (ExistingRDD rebuild) — NO
  effect, the doc→edges subtree was never the cost; (2) truncating the
  state plan every k rounds instead of every round — CATASTROPHIC for
  k=8 (100+ s): each round's plan references the state twice, so an
  uncut chain re-expands the shared DAG into a tree that doubles per
  round (2^k nodes); (3) truncate-every-round + stopping-count fused to
  one action per fused_rounds block — the round-4 shape (peel 125.7 →
  ~91 s, onion 123.4 → ~63 s cold; ~19 s warm). That shape is now
  bsp.run_bsp's one fused loop, which the peel loops, coreness,
  topological_generations, PageRank and BFS/SSSP all run on: every inner
  round is cut and each fused block ends in the stats-resetting rebuild
  (a cut every 4 rounds instead took coreness past 4 min). ROUND 5
  closed the rest of the gap with a guarded LOCAL TAIL FINISH: after each block the
  stopping aggregate already counts the residual, and once it (and the
  counted residual-internal edge set) fits under explicit cutoffs the
  remaining cascade finishes in one bounded driver pass with ranks
  offset by the completed rounds — distributed while wide, never
  barrier-bound in the deep sparse tail (gate SF: degeneracy 53 → 22 s,
  onion 31 → 11 s; `topological_generations` got the same two-regime
  rewrite plus Kahn settledness tracking, 75 → 17 s). At real scale the
  wide rounds carry O(frontier-edges) distributed work and the tail
  cutoffs bound driver memory; rounds = peel-cascade depth is inherent
  to the reference semantics (flash core/*-ordering.h run the same
  round count).
* **min_vertex_cover** — phase 2's round-parallel id-max prune serializes
  into Theta(longest monotone-id candidate chain) rounds (380 rounds /
  330 s at sf0.1, where phase 1 covers every vertex). Its unique fixpoint
  equals the sequential decreasing-id greedy over the candidate-induced
  subgraph, so below max_driver_edges the prune resolves in ONE driver
  pass (194 → 14.5 s at sf0.1, output sets identical); above the bound
  the distributed loop runs with incremental candidate maintenance
  (monotone candidacy — removals and their neighbours leave, nobody
  re-enters), never a full O(m) recompute per round.
* **Session-2 loop/fit operators** (measured at sf0.1,
  BENCH/BENCH_IDLE_r4e.json): `local_community` 10.1 s — 6 sparse-PPR
  rounds (full-outer mass merge + frontier spread join each, 12 plan
  cuts) + a two-window sweep over the K-ball support; barrier count is
  CONSTANT in graph size. `node_embeddings` 7.9 s — 6 walk supersteps +
  the Word2Vec fit (driver holds the O(vocab·dim) model, the budget any
  embedding consumer needs). `simrank` 4.5 s — walk-corpus generation
  dominates; the meeting join is int-only on (walk, step, position).
  `edge_betweenness` 3.9 s — shares the Brandes pair tables with
  betweenness_sampled; the edge-flow join chain is noise-band on top.
  `kmeans`/`label_spreading`/`incremental_triangles` (gate-only):
  3× (broadcast centroid join + two aggregates) over the n·dim long
  form / cdlp's plan with a clamp branch / 3-batch replay of
  wedge-join + pair-semi-join + batch-triangle counts, all bounded by
  the batch wedge count.
* **coreness (h-index fixpoint)** — frontier-incremental: only neighbours
  of last round's changed vertices recompute their H (work per round ∝
  frontier-incident edges, not O(m)); the H-index itself is a histogram +
  cumulative-count window, never a gathered neighbour array. Round count
  is the correction-wave depth — measured ~600 rounds at sf0.1 (a 1-unit
  wave crossing a ~4,900-vertex sliding-window chain at ~8 ids/round;
  true fixpoint: every core = 4). Round 4 found TWO defects here: the old
  loop silently returned UNCONVERGED cores when max_rounds ran out (now
  raises, mirroring coloring), and ~600 rounds of un-released
  localCheckpoints leaked ~1,200 persistentRdds entries and OOM'd an 8g
  driver. Mitigations shipped: per-block checkpoint release
  (bsp.release_truncated) + gc, and the default driver heap raised to 24g
  (the JVM additionally retains per-round plan metadata that survives both
  — measured OOM at 8g, stable at 24g; a long-running cluster driver is
  provisioned the same way). Validated: the full ~600-round distributed
  run converges (434.8 s, sum(core)=20000, max=4).
* **Bounded-driver fast paths (coreness / degeneracy_order /
  onion_layers / min_vertex_cover / dfs_preorder)** — when the (candidate)
  subproblem fits max_driver_edges, the round-synchronous process is
  resolved driver-side in one pass with IDENTICAL output (pytest pins
  two-path equality; the driver gate forces max_driver_edges=0 so the
  oracle always checks the distributed path). On one machine the
  correction-wave/peel depth is pure barrier floor for a graph that fits
  in memory; at cluster scale the distributed loop is the only path and
  its per-round work is frontier-sized.
* **bcc** (12.6 s in BENCH_r04's suite at sf0.1) — three chained
  iterative phases: BFS forest on the shared `multi_source_bfs` loop
  (one job per fused 8-hop block; rounds = forest depth), level-
  synchronous LCA climb of every non-tree edge (one job per round;
  rounds = forest depth; emits (non-tree, tree) cover pairs, one truncated
  leaf per round, unioned once), then alternating min-label propagation
  over the bipartite cover graph (rounds = cycle-chain diameter). ~3x a single BSP kernel's round count is inherent to
  the block-decomposition semantics, not a plan defect: every round is a
  keyed join + partial-aggregated min with the same truncate-fusion as
  wcc, and the emitted cover volume (O(m*depth), depth O(log n) on web
  graphs) is the dominant distributed cost — which scales, unlike a
  driver-side Tarjan low-link pass, which doesn't exist at 10^11 edges.
* **incremental_pagerank** — the gate row runs FOUR solves (bulk + two
  warm deltas + the independent cold cross-check), so its gate time is
  4x a pagerank row by construction, not an operator defect. Warm-start
  economics: supersteps saved ≈ log(warm-start error / uniform-start
  error) / log(1/contraction) — large on slow-mixing (α-limited) web
  graphs with small crawl deltas, nil when a batch rewrites the graph
  (measured: 1/3-graph slices make warm WORSE than cold; the honest
  pinned invariants are identical-fixpoint parity and 1-superstep
  convergence from the exact solution).
"""


def main():
    from graphscope_spark.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark(
        "plans",
        master="local[8]",
        shuffle_partitions=16,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    qs = entry_mod.queries()
    out = [
        "# BENCH/PLANS.md — physical plans of representative operators",
        "",
        "Captured by tools/explain_plans.py at sf0.01 (plans are",
        "shape-stable across SF; AQE re-plans sizes at runtime).",
        "",
    ]
    for name, why in PICKS.items():
        if name in FACTORIES:
            df = FACTORIES[name](spark)
        else:
            df = qs[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # keep the operator tree; drop the verbose per-node details
        tree = plan.split("\n\n")[0]
        lines = tree.splitlines()
        if len(lines) > MAX_TREE_LINES:
            lines = lines[:MAX_TREE_LINES] + [
                f"... ({len(tree.splitlines()) - MAX_TREE_LINES} more plan lines"
                " — same join/agg shapes repeated)"
            ]
        tree = "\n".join(lines)
        out += [f"## {name}", "", why, "", summarize(plan), "", "```", tree, "```", ""]
    out += [NOTES]
    (REPO / "BENCH" / "PLANS.md").write_text("\n".join(out))
    print(f"wrote {REPO / 'BENCH' / 'PLANS.md'}")
    spark.stop()


if __name__ == "__main__":
    main()
