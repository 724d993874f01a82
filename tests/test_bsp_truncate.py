"""run_bsp loop contracts: fused overshoot and a crash-safe final
checkpoint."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from graphscope_spark.bsp import load_checkpoint, run_bsp


def test_sssp_fused_overshoot_equivalence(corpus_graph):
    """fused_rounds far past the fixpoint must not disturb SSSP distances
    (the monotone-overshoot contract run_bsp's docstring claims)."""
    from graphscope_spark.algorithms.traversal import sssp

    src = corpus_graph.vertices.agg(F.min("vid")).collect()[0][0]
    base = {
        (r["vid"]): r["dist"]
        for r in sssp(corpus_graph, source=src).state.collect()
    }
    fused = {
        (r["vid"]): r["dist"]
        for r in sssp(corpus_graph, source=src, fused_rounds=100).state.collect()
    }
    assert len(base) > 1 and base == fused


def test_final_checkpoint_survives_crash_in_promotion(spark, tmp_path, monkeypatch):
    """A run that converges on a round it just wrote durably must not
    rewrite that checkpoint: a crash while promoting the rewritten step
    directory would leave the manifest pointing at nothing."""
    ck = str(tmp_path / "ck")
    state0 = spark.range(0, 20).select(F.col("id").alias("vid"), F.lit(0).alias("x"))
    converged = []
    real_replace = os.replace

    def crashing_replace(src, dst):
        if converged and os.path.isdir(src):
            raise OSError(f"injected crash promoting {src}")
        return real_replace(src, dst)

    def converged_fn(below, rnd):
        if below == 0:
            converged.append(rnd)
        return below == 0

    monkeypatch.setattr(os, "replace", crashing_replace)
    try:
        run_bsp(
            state0,
            lambda st, rnd: st.select(
                "vid", F.least(F.col("x") + 1, F.lit(3)).alias("x")
            ),
            max_rounds=10,
            scalar_fn=lambda st: st.where(F.col("x") < 3).count(),
            converged_fn=converged_fn,
            checkpoint_dir=ck,
            checkpoint_every=1,
            meta={"algorithm": "count_to_3"},
        )
    except OSError:
        pass  # the crash is the point; the last-good state must survive it
    monkeypatch.undo()
    assert converged == [3]
    state, step, man = load_checkpoint(spark, ck)
    assert step == 3 and man.get("final")
    assert {r["x"] for r in state.collect()} == {3}
