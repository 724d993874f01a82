"""Layered link-graph benchmark.

    python3 perfbench/run.py --workload crawl_pipeline --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The command makes the workload's inputs and
oracle answers from ``--seed`` (cached under ``.bench_build/perfbench``,
outside any timing), then runs measured passes until ``--seconds`` have
passed, at least one. Each pass is a fresh process (``worker.py``) at
``local[nproc]``. Every result is checked against the oracle. The last line
of standard output is one JSON object with the end-to-end metrics
(``--trace 0``) or the per-layer metrics of a traced pass (``--trace 1``);
the lines above it print every metric by name with its unit. See README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracles  # noqa: E402

WORKLOADS = ("crawl_pipeline", "pagerank_scale")
SETUPS_PER_PASS = 2
RUN_BUDGET_S = 170  # every pass of a run must end by then; the limit is 180

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "pagerank_s": "s", "wcc_s": "s",
    "edges_per_s_per_superstep": "1/s",
}
PER_LAYER = {
    "session.start_s": "s",
    "extract.s": "s", "extract.pages_per_s": "1/s", "extract.links": "count",
    "graph.build_s": "s", "graph.edges": "count", "graph.vertices": "count",
    "graph.shuffle_write_bytes": "bytes",
    "bsp.supersteps": "count", "bsp.superstep_s.first": "s", "bsp.superstep_s.p50": "s",
    "bsp.superstep_s.trend": "ratio", "bsp.jobs_per_superstep": "count",
    "bsp.stages_per_superstep": "count", "bsp.tasks_per_superstep": "count",
    "bsp.job_busy_s": "s", "bsp.driver_gap_s": "s", "bsp.poll_s": "s",
    "bsp.shuffle_read_bytes": "bytes", "bsp.shuffle_write_bytes": "bytes",
    "bsp.spill_bytes": "bytes", "bsp.task_s.p50": "s", "bsp.task_s.p99": "s",
    "bsp.task_s.max": "s", "bsp.checkpoints_written": "count", "bsp.checkpoint_bytes": "bytes",
    "algorithms.pagerank.prepare_s": "s", "algorithms.wcc.prepare_s": "s",
    "algorithms.cdlp.prepare_s": "s", "algorithms.triangles.task_s": "s",
    "materialise.s": "s",
    "stage.ingest_s": "s", "stage.resume_s": "s", "stage.cdlp_s": "s",
    "stage.triangles_s": "s", "error_rate": "ratio",
    "trace.overhead_s": "s", "trace.layer_coverage": "ratio",
    "trace.self_s.session": "s", "trace.self_s.sources": "s", "trace.self_s.extract": "s",
    "trace.self_s.graph": "s", "trace.self_s.algorithms": "s", "trace.self_s.bsp": "s",
    "trace.self_s.materialise": "s",
}


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


# --- box hygiene --------------------------------------------------------------------


def cpu_times() -> list[int]:
    """Aggregate /proc/stat jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def box() -> dict:
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) * 1024
    return {"nproc": len(os.sched_getaffinity(0)), "mem_available_bytes": mem["MemAvailable"],
            "loadavg": list(os.getloadavg()), "cpu_times": cpu_times()}


def driver_memory(avail_bytes: int) -> str:
    """3 GiB, or a quarter of the free memory if that is less: the library's
    24g default would overcommit a small box shared with other jobs. A fixed
    size keeps the heap, and so garbage collection, the same from run to run."""
    return f"{max(1, min(3, avail_bytes // 4 // (1 << 30)))}g"


# --- inputs and oracles -------------------------------------------------------------


def prepare(workload: str, size: str, seed: int, cache_root: str) -> tuple[str, dict]:
    """(input path, oracle arrays), built once per seed and cached."""
    key = os.path.join(cache_root, f"{workload}-{size}-s{seed}-v{gen.GEN_VERSION}")
    if not os.path.exists(os.path.join(key, "oracle.npz")):
        tmp = key + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "pages"))
        if workload == "crawl_pipeline":
            oracle = _crawl_oracle(seed, gen.CRAWL_SIZES[size], os.path.join(tmp, "pages"))
        else:
            oracle = _scale_oracle(seed, *gen.SCALE_SIZES[size])
        np.savez(os.path.join(tmp, "oracle.npz"), **oracle)
        shutil.rmtree(key, ignore_errors=True)
        os.replace(tmp, key)
    with np.load(os.path.join(key, "oracle.npz")) as z:
        oracle = {k: z[k] for k in z.files}
    return os.path.join(key, "pages"), oracle


def _crawl_oracle(seed: int, n_pages: int, pages_dir: str) -> dict:
    table, url_edges = gen.crawl_pages(seed, n_pages)
    gen.write_pages(table, pages_dir)
    urls = sorted(set(table.column("url").to_pylist()) | {d for _, d in url_edges})
    vid_of = {u: gen.xxhash64(u.encode()) for u in urls}
    vids = np.array(sorted(vid_of.values()), dtype=np.int64)
    if len(vids) != len(np.unique(vids)):
        raise RuntimeError("vertex id collision in generated crawl")
    idx = {v: i for i, v in enumerate(vids.tolist())}
    src = np.array([idx[vid_of[s]] for s, _ in url_edges], dtype=np.int64)
    dst = np.array([idx[vid_of[d]] for _, d in url_edges], dtype=np.int64)
    n = len(vids)
    pr, rounds, converged = oracles.pagerank(src, dst, n, tol=1e-6 / n, max_rounds=1000)
    if not converged or rounds <= 20:
        raise RuntimeError(f"crawl PageRank needs more than 20 rounds, took {rounds}")
    url_by_vid = {v: u for u, v in vid_of.items()}
    return {"vids": vids, "urls": np.array([url_by_vid[v] for v in vids.tolist()]),
            "src": src, "dst": dst, "pr": pr, "pr_rounds": np.array(rounds),
            "wcc": vids[oracles.wcc(src, dst, n)],
            "cdlp": oracles.cdlp(src, dst, n, labels=vids),
            "tri": oracles.triangles(src, dst, n)}


def _scale_oracle(seed: int, n_vertices: int, n_random: int) -> dict:
    e = np.unique(gen.scale_edges_numpy(seed, n_vertices, n_random), axis=0)
    src, dst = e[:, 0], e[:, 1]
    pr, _, _ = oracles.pagerank(src, dst, n_vertices, tol=0.0, max_rounds=8)
    return {"n_edges": np.array(len(e)), "n_vertices": np.array(n_vertices),
            "pr": pr, "wcc": oracles.wcc(src, dst, n_vertices)}


# --- checks ---------------------------------------------------------------------------


def _table(out: str, name: str):
    return pq.read_table(os.path.join(out, name)).to_pandas()


def _by_vid(out: str, name: str, col: str, vids: np.ndarray) -> np.ndarray:
    df = _table(out, name).sort_values("vid")
    if not np.array_equal(df["vid"].to_numpy(), vids):
        raise AssertionError(f"{name}: vertex set differs")
    return df[col].to_numpy()


def checks(workload: str, oracle: dict, out: str, info: dict) -> dict[str, bool]:
    """Oracle comparison of one pass, outside timing: check name → passed."""
    res = info.get("results", {})

    def run(fn) -> bool:
        try:
            return bool(fn())
        except Exception as e:  # a missing or malformed result is a mismatch
            print(f"perfbench: check failed: {e!r}", file=sys.stderr)
            return False

    if workload == "crawl_pipeline":
        vids = oracle["vids"]

        def ingest():
            urls = _by_vid(out, "vertices", "url", vids)
            e = _table(out, "edges")
            got = np.unique(np.stack([np.searchsorted(vids, e["src"]),
                                      np.searchsorted(vids, e["dst"])], axis=1), axis=0)
            want = np.unique(np.stack([oracle["src"], oracle["dst"]], axis=1), axis=0)
            return (np.array_equal(urls.astype(str), oracle["urls"]) and len(e) == len(got)
                    and np.array_equal(got, want))

        def pr_legs():
            return [(r["supersteps"], r["converged"]) for r in res["pagerank"]]

        rounds = int(oracle["pr_rounds"])
        ranks = lambda: _by_vid(out, "pagerank", "rank", vids)  # noqa: E731
        return {
            "ingest": run(ingest),
            "pagerank_leg1": run(lambda: pr_legs()[0] == (20, False)),
            "pagerank": run(lambda: pr_legs()[1] == (rounds, True)
                            and np.allclose(ranks(), oracle["pr"], rtol=0, atol=1e-6)),
            "resume": run(lambda: np.abs(ranks() - oracle["pr"]).max() <= 1e-12),
            "wcc": run(lambda: np.array_equal(_by_vid(out, "wcc", "comp", vids), oracle["wcc"])),
            "cdlp": run(lambda: np.array_equal(_by_vid(out, "cdlp", "label", vids), oracle["cdlp"])),
            "triangles": run(lambda: np.array_equal(_by_vid(out, "triangles", "tri", vids),
                                                    oracle["tri"])),
        }
    vids = np.arange(int(oracle["n_vertices"]))
    return {
        "graph": run(lambda: (info["edges"], info["vertices"])
                     == (int(oracle["n_edges"]), int(oracle["n_vertices"]))),
        "pagerank": run(lambda: res["pagerank"][0]["supersteps"] == 8 and np.allclose(
            _by_vid(out, "pagerank", "rank", vids), oracle["pr"], rtol=0, atol=1e-9)),
        "wcc": run(lambda: np.array_equal(_by_vid(out, "wcc", "comp", vids), oracle["wcc"])),
    }


# --- passes -----------------------------------------------------------------------------


def _group_running(pgid: int) -> bool:
    """Whether a process of the group has not ended yet. An ended process
    stays a zombie until init reaps it, which takes about a second."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, _ppid, pgrp = f.read().rsplit(")", 1)[1].split()[:3]
        except OSError:  # the process went away while we looked
            continue
        if int(pgrp) == pgid and state != "Z":
            return True
    return False


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop everything the pass started (the JVM and Python workers share
    the worker's process group) and wait until it has ended. By then the
    worker has written its results and stopped Spark, so nothing is lost."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.time() + 30
    while _group_running(proc.pid):
        if time.time() > deadline:
            print("perfbench: processes of the pass outlived SIGKILL", file=sys.stderr)
            return
        time.sleep(0.05)


def run_pass(args, input_path: str, oracle: dict, work_root: str, trace: int,
             env_box: dict, results_dir: str, deadline: float) -> dict | None:
    pass_dir = os.path.join(work_root, f"pass-{os.getpid()}-{time.time_ns()}")
    out = os.path.join(pass_dir, "out")
    for d in ("spark-local", "tmp", "out"):
        os.makedirs(os.path.join(pass_dir, d))
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(pass_dir, "spark-local"),
               TMPDIR=os.path.join(pass_dir, "tmp"),
               SPARK_DRIVER_MEMORY=driver_memory(env_box["mem_available_bytes"]),
               PYSPARK_PYTHON=sys.executable, PYTHONDONTWRITEBYTECODE="1",
               # every JVM of the pass, the launcher's too, keeps its temp
               # files in the pass directory
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(pass_dir, 'tmp')}")
    log_path = os.path.join(results_dir, "last-pass.log")
    try:
        with open(log_path, "w") as log:
            t_spawn = time.time()
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
                 "--size", args.size, "--seed", str(args.seed), "--input", input_path,
                 "--out", out, "--trace", str(trace), "--setups", str(SETUPS_PER_PASS),
                 "--t-spawn", repr(t_spawn)],
                cwd=os.getcwd(), env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True)
            try:
                proc.wait(timeout=max(1.0, deadline - time.time()))
            except subprocess.TimeoutExpired:
                print("perfbench: pass did not finish within the run's time budget",
                      file=sys.stderr)
            finally:
                t_exit = time.time()
                _stop_group(proc)
        info_path = os.path.join(out, "pass.json")
        if proc.returncode != 0 or not os.path.exists(info_path):
            print(f"perfbench: worker exited with {proc.returncode}; log: {log_path}",
                  file=sys.stderr)
            return None
        with open(info_path) as f:
            info = json.load(f)
        t_gone = time.time()
        info["checks"] = checks(args.workload, oracle, out, info)
        info["timeline"] = {"worker_s": t_exit - t_spawn, "stop_s": t_gone - t_exit,
                            "check_s": time.time() - t_gone}
        if trace:
            shutil.copy(os.path.join(out, "trace.json"), os.path.join(
                results_dir, f"{args.workload}-{args.size}-s{args.seed}-trace.json"))
        return info
    finally:
        shutil.rmtree(pass_dir, ignore_errors=True)


# --- metrics ----------------------------------------------------------------------------


def failed(p: dict) -> int:
    """Failed operations of a pass: oracle mismatches, or exceptions where
    they left no mismatch behind (an exception usually fails its check too)."""
    return max(len(p["checks"]) - sum(p["checks"].values()), len(p["failures"]))


def end_to_end(p: dict) -> dict[str, float]:
    ops = p["ops"]
    return {
        "wall_s": sum(ops.values()),
        "pagerank_s": ops["pagerank"],
        "wcc_s": ops["wcc"],
        "edges_per_s_per_superstep": p["edges"] * p["bsp"]["pr_supersteps"] / ops["pagerank"],
    }


def per_layer(p: dict, workload: str, untraced_wall: float) -> dict[str, float]:
    crawl = workload == "crawl_pipeline"
    t, b, ops = p["trace"], p["bsp"], p["ops"]
    prep = p["prepare_s"]
    return {
        "session.start_s": p["setups"][0]["session_s"],
        "extract.s": p.get("extract_s", 0.0),
        "extract.pages_per_s": p["pages"] / p["extract_s"] if crawl else 0.0,
        "extract.links": p.get("links", 0),
        "graph.build_s": p["build_s"], "graph.edges": p["edges"], "graph.vertices": p["vertices"],
        "bsp.supersteps": b["supersteps"], "bsp.superstep_s.first": b["first"],
        "bsp.superstep_s.p50": b["p50"], "bsp.superstep_s.trend": b["trend"],
        "bsp.checkpoints_written": p["checkpoints_written"],
        "bsp.checkpoint_bytes": p["checkpoint_bytes"],
        "algorithms.pagerank.prepare_s": prep.get("pagerank", 0.0),
        "algorithms.wcc.prepare_s": prep.get("wcc", 0.0),
        "algorithms.cdlp.prepare_s": prep.get("cdlp", 0.0),
        "materialise.s": p["materialise_s"],
        "stage.ingest_s": ops.get("ingest", 0.0), "stage.resume_s": p.get("resume_s", 0.0),
        "stage.cdlp_s": ops.get("cdlp", 0.0), "stage.triangles_s": ops.get("triangles", 0.0),
        "error_rate": failed(p) / len(p["checks"]),
        "trace.overhead_s": sum(ops.values()) - untraced_wall,
        **t,
    }


def _untraced_wall(args, results_dir: str) -> float | None:
    """Median untraced wall_s recorded in this checkout: same seed if any,
    else any seed of the workload."""
    recs = []
    for path in glob.glob(os.path.join(results_dir, f"{args.workload}-{args.size}-s*-t0-*.json")):
        with open(path) as f:
            recs.append(json.load(f))
    same = [r["metrics"]["wall_s"] for r in recs if r["seed"] == args.seed]
    walls = same or [r["metrics"]["wall_s"] for r in recs]
    return statistics.median(walls) if walls else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="input size; smoke is for the benchmark's own tests")
    args = ap.parse_args()
    deadline = time.time() + RUN_BUDGET_S

    if not os.path.isfile(os.path.join("graphscope_spark", "__init__.py")):
        return fail("run from the root of a checkout: graphscope_spark/ not found")
    root = os.path.join(".bench_build", "perfbench")
    cache_root, work_root, results_dir = (os.path.abspath(os.path.join(root, d))
                                          for d in ("cache", "runs", "results"))
    for d in (cache_root, work_root, results_dir):
        os.makedirs(d, exist_ok=True)

    input_path, oracle = prepare(args.workload, args.size, args.seed, cache_root)
    env_box = box()

    untraced_wall = None
    if args.trace:
        untraced_wall = _untraced_wall(args, results_dir)
        if untraced_wall is None:  # no untraced run to compare with yet: make one
            ref = run_pass(args, input_path, oracle, work_root, 0, env_box, results_dir,
                           deadline)
            if ref is None:
                return fail("untraced reference pass failed")
            untraced_wall = sum(ref["ops"].values())

    passes, t_start = [], time.time()
    while True:
        p = run_pass(args, input_path, oracle, work_root, args.trace, env_box, results_dir,
                     deadline)
        if p is None:
            return fail("pass failed")
        passes.append(p)
        elapsed = time.time() - t_start
        per_pass = elapsed / len(passes)
        if args.trace or elapsed + per_pass > args.seconds or time.time() + per_pass > deadline:
            break

    attempted = sum(len(p["checks"]) for p in passes)
    n_failed = sum(failed(p) for p in passes)
    if any(not {"pagerank", "wcc"} <= p["ops"].keys() for p in passes):
        return fail(f"a pass stopped before its timed calls: {[p['failures'] for p in passes]}")
    e2e_all = [end_to_end(p) for p in passes]
    e2e = {k: statistics.median(e[k] for e in e2e_all) for k in e2e_all[0]}
    e2e["setup_s"] = statistics.median(s["total_s"] for p in passes for s in p["setups"])
    if args.trace:
        metrics = {k: float(v) for k, v in per_layer(passes[0], args.workload, untraced_wall).items()}
        units = PER_LAYER
    else:
        metrics, units = e2e, END_TO_END
    missing = set(units) - set(metrics)
    if missing:
        return fail(f"metrics not measured: {sorted(missing)}")

    env_box["loadavg_end"] = list(os.getloadavg())
    spent = [b - a for a, b in zip(env_box.pop("cpu_times"), cpu_times())]
    env_box["cpu_busy_share"] = 1 - (spent[3] + spent[4]) / max(1, sum(spent))
    env_box["cpu_steal_share"] = spent[7] / max(1, sum(spent))
    record = {"workload": args.workload, "size": args.size, "seed": args.seed,
              "trace": args.trace, "passes": len(passes), "box": env_box,
              "checks": [p["checks"] for p in passes], "failures": [p["failures"] for p in passes],
              "timeline": [p["timeline"] for p in passes],
              "ops": [p["ops"] for p in passes], "bsp": [p["bsp"] for p in passes],
              "metrics": metrics}
    if not args.trace:
        record["stages"] = {k: statistics.median(p["ops"].get(k, 0.0) for p in passes)
                            for k in ("ingest", "cdlp", "triangles")}
        record["stages"]["resume"] = statistics.median(p.get("resume_s", 0.0) for p in passes)
    with open(os.path.join(results_dir, f"{args.workload}-{args.size}-s{args.seed}"
                                        f"-t{args.trace}-{time.time_ns()}.json"), "w") as f:
        json.dump(record, f, indent=1)

    print(f"# {args.workload} seed={args.seed} size={args.size} trace={args.trace} "
          f"passes={len(passes)} nproc={env_box['nproc']} "
          f"mem_available={env_box['mem_available_bytes'] / (1 << 30):.1f}GiB "
          f"loadavg={env_box['loadavg'][0]:.2f}->{env_box['loadavg_end'][0]:.2f} "
          f"cpu_busy={env_box['cpu_busy_share']:.2f} steal={env_box['cpu_steal_share']:.3f}")
    for k, v in metrics.items():
        print(f"{k:34s} {v:16.6g} {units[k]}")
    if not args.trace:
        for k, v in record["stages"].items():
            if v:
                print(f"{k + '_s':34s} {v:16.6g} s")
        print(f"{'error_rate':34s} {n_failed / attempted:16.6g} ratio")
    print(json.dumps({
        "correct": n_failed == 0, "attempted": attempted, "failed": n_failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
