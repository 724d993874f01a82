"""One measured pass of a workload, in a fresh process.

``run.py`` starts this script once per pass, with its working directory at
the root of a checkout, and reads back ``pass.json`` and the result tables
from ``--out``. The script only drives the library's public API:
``get_spark``, ``read_pages``, ``extract.edges_from_pages``, ``build_graph``
/ ``from_edge_df`` and ``algorithms``. Each timed call ends with its result
written to parquet, which is also what the oracle check reads.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from contextlib import contextmanager

sys.path.insert(0, os.getcwd())

from tracing import Tracer, median  # noqa: E402

PR_ALPHA = 0.85
PR_L1_TARGET = 1e-6   # crawl_pipeline: absolute L1 change between rounds
PR_FIXED_ROUNDS = 8   # pagerank_scale: tol=0, fixed rounds
RESUME_AFTER = 20     # crawl_pipeline: first PageRank leg's round budget
CHECKPOINT_EVERY = 5


def _dir_stats(root: str) -> tuple[int, int]:
    """(checkpoint step directories, bytes) under ``root``."""
    steps, size = 0, 0
    for d, dirs, files in os.walk(root):
        steps += sum(1 for x in dirs if x.startswith("step=") and not x.endswith(".tmp"))
        size += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return steps, size


def trend(walls: list[float]) -> float:
    """Median of the last 10 supersteps over the median of supersteps 2-11."""
    if len(walls) < 3:
        return 1.0
    head = walls[1:11]
    tail = walls[max(len(walls) - 10, 1):]
    return median(tail) / median(head)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--size", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--setups", type=int, required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    args = ap.parse_args()

    tracer = Tracer(enabled=bool(args.trace))

    from graphscope_spark import bsp, get_spark
    from graphscope_spark.bsp import BSPResult
    from graphscope_spark.algorithms import cdlp, pagerank, wcc
    from graphscope_spark.algorithms.triangles import triangles
    from graphscope_spark.extract import edges_from_pages
    from graphscope_spark.graph import build_graph, from_edge_df
    from graphscope_spark.sources import read_pages

    import gen

    if tracer.enabled:
        tracer.watch_supersteps(bsp)

    nproc = len(os.sched_getaffinity(0))
    parts = 2 * nproc
    crawl = args.workload == "crawl_pipeline"
    work = os.path.abspath(args.out)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }

    def load(spark):
        if crawl:
            pages = read_pages(spark, args.input).persist()
            return {"pages": pages, "n_pages": pages.count()}
        n_vertices, n_random = gen.SCALE_SIZES[args.size]
        edges = gen.scale_edges_spark(spark, args.seed, n_vertices, n_random, parts)
        g = from_edge_df(edges, num_partitions=parts)
        g.edges = g.edges.persist()
        g.vertices = g.vertices.persist()
        return {"graph": g, "edges": g.edges.count(), "vertices": g.vertices.count()}

    # -- set-up, several times: the first from process start, then restarts ----
    setups, spark, data, load_span = [], None, None, None
    for k in range(args.setups):
        if spark is not None:
            tracer.sc = None
            spark.stop()
        t0 = args.t_spawn if k == 0 else time.time()
        with tracer.span("setup", "op", index=k):
            with tracer.span("get_spark", "session"):
                spark = get_spark("perfbench", master=f"local[{nproc}]", extra_conf=conf)
                tracer.sc = spark.sparkContext
            t_session = time.time()
            with tracer.span("load input", "sources" if crawl else "graph") as load_span:
                data = load(spark)
        setups.append({"session_s": t_session - t0, "total_s": time.time() - t0})
    tracer.collect()

    ops: dict[str, float] = {}
    failures: list[str] = []
    results: dict[str, list[dict]] = {}
    info: dict = {"setups": setups}

    @contextmanager
    def timed(name):
        """One timed call; an exception is recorded and the pass goes on."""
        with tracer.span(name, "op") as rec:
            try:
                yield
            except Exception as e:  # counted as a failed operation
                failures.append(f"{name}: {e!r}")
                traceback.print_exc()
        ops[name] = rec["end"] - rec["start"]
        tracer.collect()

    def algo(name, fn, **kw):
        with tracer.span(name, "algorithms", **kw) as s:
            res = fn()
        if isinstance(res, BSPResult):
            results.setdefault(name, []).append({
                "call_s": s["end"] - s["start"],
                "supersteps": res.supersteps, "converged": res.converged,
                "walls": [m["wall_s"] for m in res.metrics]})
        return res

    def write(df, name):
        with tracer.span(f"write {name}", "materialise"):
            df.write.mode("overwrite").parquet(os.path.join(work, name))

    def write_state(res, name):
        write(res.state, name)
        res.release()

    ck_root = os.path.join(work, "checkpoints")
    if crawl:
        pages, g = data["pages"], None
        info["pages"] = data["n_pages"]
        with timed("ingest"):
            with tracer.span("edges_from_pages", "extract") as ex_span:
                links = edges_from_pages(pages).persist()
                info["links"] = links.count()
            info["extract_s"] = ex_span["end"] - ex_span["start"]
            with tracer.span("build_graph", "graph") as build_span:
                g = build_graph(pages, num_partitions=parts)
                g.edges = g.edges.persist()
                g.vertices = g.vertices.persist()
                info["edges"], info["vertices"] = g.edges.count(), g.vertices.count()
                links.unpersist()
            info["build_s"] = build_span["end"] - build_span["start"]
        if g is not None:
            tol = PR_L1_TARGET / info["vertices"]
            ck_pr = os.path.join(ck_root, "pagerank")
            with timed("pagerank"):
                r = algo("pagerank", lambda: pagerank(
                    g, alpha=PR_ALPHA, tol=tol, max_rounds=RESUME_AFTER,
                    checkpoint_dir=ck_pr, checkpoint_every=CHECKPOINT_EVERY), leg=1)
                r.release()
                t_resume = time.time()
                r = algo("pagerank", lambda: pagerank(
                    g, alpha=PR_ALPHA, tol=tol, max_rounds=1000, checkpoint_dir=ck_pr,
                    checkpoint_every=CHECKPOINT_EVERY, resume=True), leg=2)
                write_state(r, "pagerank")
                info["resume_s"] = time.time() - t_resume
            with timed("wcc"):
                write_state(algo("wcc", lambda: wcc(
                    g, checkpoint_dir=os.path.join(ck_root, "wcc"),
                    checkpoint_every=CHECKPOINT_EVERY)), "wcc")
            with timed("cdlp"):
                write_state(algo("cdlp", lambda: cdlp(g, max_rounds=10)), "cdlp")
            with timed("triangles"):
                write(algo("triangles", lambda: triangles(g)), "triangles")
            # check artefacts, outside timing
            g.vertices.select("vid", "url").write.parquet(os.path.join(work, "vertices"))
            g.edges.select("src", "dst").write.parquet(os.path.join(work, "edges"))
    else:
        g = data["graph"]
        info["edges"], info["vertices"] = data["edges"], data["vertices"]
        info["build_s"] = load_span["end"] - load_span["start"]
        with timed("pagerank"):
            write_state(algo("pagerank", lambda: pagerank(
                g, alpha=PR_ALPHA, tol=0.0, max_rounds=PR_FIXED_ROUNDS)), "pagerank")
        with timed("wcc"):
            write_state(algo("wcc", lambda: wcc(g)), "wcc")

    info["ops"] = ops
    info["failures"] = failures
    info["results"] = {k: [{x: v[x] for x in ("supersteps", "converged", "call_s")}
                           for v in vs] for k, vs in results.items()}
    info["checkpoints_written"], info["checkpoint_bytes"] = _dir_stats(ck_root)
    materialise = [s for s in tracer.spans if s["layer"] == "materialise"]
    info["materialise_s"] = sum(s["end"] - s["start"] for s in materialise)
    info["prepare_s"] = {k: sum(v["call_s"] - sum(v["walls"]) for v in vs)
                         for k, vs in results.items()}
    pr_walls = [w for v in results.get("pagerank", []) for w in v["walls"]]
    # supersteps executed: a resumed call reports the absolute round it ended at
    info["bsp"] = {"supersteps": sum(len(v["walls"]) for vs in results.values() for v in vs),
                   "pr_supersteps": len(pr_walls),
                   "first": pr_walls[0] if pr_walls else 0.0,
                   "p50": median(pr_walls), "trend": trend(pr_walls),
                   "walls": pr_walls}

    if tracer.enabled:
        info["trace"] = summarize_trace(tracer, build_span if crawl else load_span)
        tracer.dump(os.path.join(work, "trace.json"),
                    {"supersteps": info["trace"].pop("supersteps")})
    spark.stop()
    with open(os.path.join(work, "pass.json"), "w") as f:
        json.dump(info, f)
    return 0


def summarize_trace(tracer: Tracer, build_span: dict) -> dict:
    steps = tracer.supersteps()
    pr = [s for s in steps if s["algorithm"] == "pagerank"]

    def med(key):
        return median([s[key] for s in pr if key in s])

    ops = {s["id"]: s for s in tracer.spans if s["layer"] == "op" and s["name"] != "setup"}
    top = [s for s in tracer.spans if s["parent"] in ops]
    op_time = sum(s["end"] - s["start"] for s in ops.values())
    tri_ops = [i for i, s in ops.items() if s["name"] == "triangles"]
    tri_spans = [s["id"] for s in top if s["parent"] in tri_ops]
    return {
        "supersteps": steps,
        "bsp.jobs_per_superstep": med("jobs"),
        "bsp.stages_per_superstep": med("stages"),
        "bsp.tasks_per_superstep": med("tasks"),
        "bsp.job_busy_s": med("job_busy_s"),
        "bsp.driver_gap_s": med("driver_gap_s"),
        "bsp.poll_s": med("poll_s"),
        "bsp.task_s.p50": med("task_p50_s"),
        "bsp.task_s.p99": med("task_p99_s"),
        "bsp.task_s.max": med("task_max_s"),
        "bsp.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in steps),
        "bsp.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in steps),
        "bsp.spill_bytes": sum(s["spill_bytes"] for s in steps),
        "graph.shuffle_write_bytes": sum(st["shuffleWriteBytes"]
                                         for st in tracer.group_stages(build_span["id"])),
        "algorithms.triangles.task_s": sum(st["executorRunTime"] for i in tri_spans
                                           for st in tracer.group_stages(i)) / 1000.0,
        "trace.layer_coverage": sum(s["end"] - s["start"] for s in top) / op_time,
        **{f"trace.self_s.{k}": v for k, v in tracer.self_times().items()},
    }


if __name__ == "__main__":
    sys.exit(main())
