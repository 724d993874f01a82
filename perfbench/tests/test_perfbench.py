"""The benchmark's own tests: oracles, generators, and an end-to-end smoke run.

    python3 -m pytest perfbench/tests -q

Run from the repository root. The Spark-backed tests start a local session;
the smoke tests run ``perfbench/run.py --size smoke`` on both workloads.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pytest

BENCH = Path(__file__).resolve().parents[1]
REPO = BENCH.parent
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402


def _reference_oracles():
    spec = importlib.util.spec_from_file_location("reference_oracles", REPO / "tests" / "oracles.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _tiny_graphs():
    """A hand-made graph (self-loop, dangling sink, two components, a
    reciprocal pair) and a seeded random one with label ties."""
    hand = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 3), (1, 4), (5, 6), (6, 7),
            (7, 7), (2, 8), (10, 11), (11, 12), (12, 10), (10, 12)]
    rng = np.random.default_rng(7)
    rand = sorted({(int(a), int(b)) for a, b in rng.integers(0, 40, size=(90, 2))})
    return [hand, rand]


@pytest.mark.parametrize("edges", _tiny_graphs())
def test_oracles_agree_with_reference(edges):
    ref = _reference_oracles()
    vertices = sorted({v for e in edges for v in e})
    idx = {v: i for i, v in enumerate(vertices)}
    src = np.array([idx[s] for s, _ in edges])
    dst = np.array([idx[d] for _, d in edges])
    n, vids = len(vertices), np.array(vertices)

    for tol, rounds in ((1e-10, 200), (0.0, 8)):
        want = ref.pagerank_oracle(edges, set(vertices), tol=tol, max_rounds=rounds)
        got, _, _ = oracles.pagerank(src, dst, n, tol=tol, max_rounds=rounds)
        assert np.allclose(got, [want[v] for v in vertices], rtol=0, atol=1e-12)
    want = ref.wcc_oracle(edges, set(vertices))
    assert vids[oracles.wcc(src, dst, n)].tolist() == [want[v] for v in vertices]
    want = ref.cdlp_oracle(edges, set(vertices))
    assert oracles.cdlp(src, dst, n, labels=vids).tolist() == [want[v] for v in vertices]
    want = ref.triangles_oracle(edges, set(vertices))
    assert oracles.triangles(src, dst, n).tolist() == [want[v] for v in vertices]


def test_crawl_generator_is_a_function_of_the_seed(tmp_path):
    def files(seed, name):
        out = tmp_path / name
        out.mkdir()
        table, edges = gen.crawl_pages(seed, 300)
        gen.write_pages(table, str(out))
        return [p.read_bytes() for p in sorted(out.iterdir())], edges

    a, ea = files(3, "a")
    b, eb = files(3, "b")
    c, ec = files(4, "c")
    assert a == b and ea == eb
    assert a != c and ea != ec


def test_scale_generator_is_a_function_of_the_seed():
    a = gen.scale_edges_numpy(3, 500, 2000)
    assert np.array_equal(a, gen.scale_edges_numpy(3, 500, 2000))
    assert not np.array_equal(a, gen.scale_edges_numpy(4, 500, 2000))


def test_benchmark_json_names_the_reported_metrics():
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false").getOrCreate())
    yield s
    s.stop()


def test_xxhash64_is_sparks_vertex_id(spark):
    from pyspark.sql import functions as F

    urls = ["", "a", "http://site3.test/p7", "http://external1.test/missing12345",
            "http://site31.test/p1999" * 3]
    got = spark.createDataFrame([(u,) for u in urls], "u string") \
        .select(F.xxhash64("u").alias("h")).collect()
    assert [r["h"] for r in got] == [gen.xxhash64(u.encode()) for u in urls]


def test_spark_and_numpy_scale_generators_agree(spark):
    rows = gen.scale_edges_spark(spark, 5, 1000, 4000, 2).collect()
    got = sorted((r["src"], r["dst"]) for r in rows)
    want = sorted(map(tuple, gen.scale_edges_numpy(5, 1000, 4000).tolist()))
    assert got == want


def _run(cwd, *args):
    return subprocess.run([sys.executable, str(Path(cwd) / "perfbench" / "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_smoke_run(workload, trace):
    proc = _run(REPO, "--workload", workload, "--seed", "11", "--seconds", "1",
                "--trace", str(trace), "--size", "smoke")
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    names = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == names
    if trace:
        m = {k: v["value"] for k, v in out["metrics"].items()}
        assert abs(m["trace.layer_coverage"] - 1.0) < 0.05
        assert m["bsp.supersteps"] > 0 and m["bsp.shuffle_read_bytes"] > 0
    else:
        assert all(v["value"] > 0 for v in out["metrics"].values())


def test_bare_directory_fails_without_a_result(tmp_path):
    shutil.copy(REPO / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, "--workload", run.WORKLOADS[0], "--seed", "1",
                "--seconds", "1", "--trace", "0")
    assert proc.returncode != 0
    assert "{" not in proc.stdout
    assert sorted(os.listdir(tmp_path)) == ["BENCHMARK.json", "perfbench"]
