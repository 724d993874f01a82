"""Shared fixtures. One session-scoped local[4] SparkSession; small
deterministic graphs (FIXTURES.md F1/F2)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from graphscope_spark.session import get_spark  # noqa: E402
from graphscope_spark import corpus  # noqa: E402
from graphscope_spark.graph import build_graph, from_edge_df  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "graphscope-spark-tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.enabled": "true", "spark.ui.showConsoleProgress": "false"},
    )
    yield s
    s.stop()


# Hand-written 12-vertex graph with self-loops, duplicate-ish structure,
# two components, triangles, degree ties, and a dangling sink (FIXTURES.md F2).
TINY_EDGES = [
    (1, 2), (2, 3), (3, 1),          # triangle 1-2-3
    (3, 4), (4, 5), (5, 3),          # triangle 3-4-5
    (1, 4),                          # closes triangle? 1-4 + 4-5 + 5-1? no
    (5, 6), (6, 7),                  # tail
    (7, 7),                          # self-loop
    (2, 8),                          # 8: dangling sink (no out-edges)
    (10, 11), (11, 12), (12, 10),    # second component: triangle 10-11-12
    (10, 12),                        # duplicate-direction edge (10-12 both ways)
]
TINY_VERTICES = {1, 2, 3, 4, 5, 6, 7, 8, 10, 11, 12}

# A graph deeper than two fused 8-hop BFS blocks: triangle 1-2-3, a 20-edge
# tail 3-4-…-23, then the square 23-24-26-25 (two shortest paths to 26, and
# the 23-24 edge in both directions). BFS depth from vertex 1 is 23.
DEEP_EDGES = (
    [(1, 2), (2, 3), (3, 1)]
    + [(v, v + 1) for v in range(3, 23)]
    + [(23, 24), (24, 23), (23, 25), (24, 26), (25, 26)]
)
DEEP_VERTICES = set(range(1, 27))


@pytest.fixture(scope="session")
def tiny_graph(spark):
    df = spark.createDataFrame(TINY_EDGES, "src long, dst long")
    return from_edge_df(df, num_partitions=4)


@pytest.fixture(scope="session")
def pages_small(spark):
    return corpus.generate_pages(spark, n_pages=200, n_hosts=8).cache()


@pytest.fixture(scope="session")
def corpus_graph(spark, pages_small):
    return build_graph(pages_small, num_partitions=4)
