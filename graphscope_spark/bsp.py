"""Shared BSP superstep driver — the Spark stand-in for GRAPE's PIE loop.

The reference runs ``PEval`` then rounds of ``IncEval`` until no messages
(`/root/reference/docs/analytical_engine/programming_model_pie.md:25-30`);
message shuffles between rounds are MPI all-to-alls. Here a superstep is a
lazy DataFrame transformation and the "message shuffle" is whatever exchange
Catalyst plans for the round's joins/aggregations; the driver loop only
evaluates one scalar action per round (the convergence aggregate) so it
never serializes the cluster.

Scale concerns handled centrally (north rule):

* **Lineage truncation** — iterative plans grow unboundedly; every round the
  new state is either ``localCheckpoint``-ed (fast, in-memory) or, every
  ``checkpoint_every`` rounds, written to parquet with a JSON manifest
  (superstep, partition count, input fingerprint) so a killed job resumes
  mid-iteration (reference analog: SERIALIZE_GRAPH snapshots,
  `framework/dag_utils.py:1115`).
* **Per-superstep metrics** — wall time, rows changed, and (best-effort via
  the Spark UI REST API) shuffle read/write bytes and task-time skew
  (max/median task duration), the observability the north rule names.
"""

from __future__ import annotations

import gc
import json
import os
import re
import shutil
import time
import urllib.request
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


# --- lineage truncation ---------------------------------------------------------


def truncate_plan(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + rebuild the DataFrame over the materialized RDD.

    ``Dataset.localCheckpoint`` keeps the origin plan's computed Catalyst
    Statistics. In iterative rounds whose plan references the state twice or
    more (any self-join shape: Louvain k_ic⋈tot, k-core alive⋈alive, SCC
    trim, WCC state⋈msgs), join size estimates MULTIPLY, so the DIGIT COUNT
    of ``sizeInBytes`` doubles per round — measured 5 → 429,935 digits in 18
    rounds on an 18-vertex graph, after which every planning pass burns CPU
    in million-digit ``BigInteger.multiplyToomCook3`` (rounds went 0.5 s →
    90 s). Rebuilding over the checkpointed RDD resets the node to leaf
    defaults; stats stay flat forever.

    Trade-off: the rebuilt node loses outputPartitioning metadata, which can
    cost one extra exchange of the (small) state side per round — noise next
    to the stats blowup. Falls back to the plain checkpoint if the internal
    constructor is unavailable.
    """
    sc = df.sparkSession.sparkContext
    before = _persistent_ids(sc)
    ck = df.localCheckpoint(eager=eager)
    try:
        spark = ck.sparkSession
        jdf = ck._jdf
        new_jdf = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = DataFrame(new_jdf, spark)
    except Exception:  # pragma: no cover - internal API moved/renamed
        out = ck
    _tag_ck_ids(sc, before, out)
    return out


def _persistent_ids(sc) -> set | None:
    try:
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())
    except Exception:  # pragma: no cover - monitoring API unavailable
        return None


def _tag_ck_ids(sc, before: set | None, df: DataFrame) -> None:
    if before is None:
        return
    try:
        after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        df._graft_ck_ids = sorted(after - before)
    except Exception:  # pragma: no cover
        pass


def local_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """``Dataset.localCheckpoint`` that RECORDS the RDD ids it registers
    (``_graft_ck_ids``, same channel as ``truncate_plan``) so the blocks
    are actually freeable later. ``Dataset.unpersist()`` is a
    CacheManager-only call — measured a NO-OP on checkpoint-backed frames
    (the checkpointed RDD stays in persistentRDDs), so a loop that
    localCheckpoints every round and releases with unpersist retains every
    round's state blocks. Registration happens at the localCheckpoint CALL
    even with ``eager=False`` (verified), so the before/after delta is
    race-free as long as no concurrent persist runs on the same session
    (the driver loop is single-threaded)."""
    sc = df.sparkSession.sparkContext
    before = _persistent_ids(sc)
    out = df.localCheckpoint(eager=eager)
    _tag_ck_ids(sc, before, out)
    return out


def release_state(df: DataFrame) -> None:
    """Release a spent loop state of ANY kind: plain ``persist`` frames
    via unpersist (CacheManager), ``truncate_plan``/``local_checkpoint``
    frames via their recorded checkpoint RDD ids. Safe to call on frames
    of either kind — each path is a no-op on the other."""
    try:
        df.unpersist()
    except Exception:  # pragma: no cover - best-effort release
        pass
    release_truncated(df)


def release_truncated(df: DataFrame) -> None:
    """Free the localCheckpoint blocks (and their persistentRdds entries)
    behind a ``truncate_plan``/``truncate_plan_lazy`` result. Long loops
    (hundreds of truncation points) MUST release spent states: each
    checkpoint registers an RDD in the context's persistent-RDD map, and a
    600-round loop was measured leaking ~1,200 entries — enough retained
    driver-heap metadata to OOM an 8g driver. Call ONLY once a NEWER
    truncation point has materialized (the checkpointed blocks are the
    severed lineage's only source; releasing them earlier makes dependents
    unrecomputable)."""
    ids = getattr(df, "_graft_ck_ids", None)
    if not ids:
        return
    try:
        m = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
        for i in ids:
            r = m.get(i)
            if r is not None:
                r.unpersist(False)
    except Exception:  # pragma: no cover - best-effort release
        pass


def truncate_plan_lazy(df: DataFrame) -> DataFrame:
    """``truncate_plan`` with deferred materialization: the NEXT action on
    the result is the job that computes and caches it — one scheduler
    barrier per round instead of two (materialize + aggregate). The plan is
    still cut at construction time (the stats-blowup guard does not depend
    on eagerness).

    Use ONLY where an action on the result runs before any upstream
    ``unpersist()``: unpersisting an input local-checkpoint first would
    delete blocks the deferred computation still needs (localCheckpoint
    truncates RDD lineage, so lost blocks are unrecoverable)."""
    return truncate_plan(df, eager=False)


# --- metrics ------------------------------------------------------------------


class SparkStageMetrics:
    """Best-effort shuffle/skew metrics from the local Spark UI REST API.

    Uses only the public monitoring REST surface (/api/v1); degrades to
    zeros when the UI is disabled (e.g. spark.ui.enabled=false in tests).
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        try:
            self.base = spark.sparkContext.uiWebUrl
            self.app_id = spark.sparkContext.applicationId
        except Exception:
            self.base = None
        self._seen: set[int] = set()

    def snapshot(self) -> dict:
        out = {"shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "task_time_max_ms": 0, "task_time_median_ms": 0}
        if not self.base:
            return out
        try:
            url = f"{self.base}/api/v1/applications/{self.app_id}/stages?status=complete"
            with urllib.request.urlopen(url, timeout=2) as r:
                stages = json.loads(r.read())
        except Exception:
            return out
        durations = []
        for st in stages:
            key = (st["stageId"], st["attemptId"])
            if key in self._seen:
                continue
            self._seen.add(key)
            out["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            out["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            if st.get("numCompleteTasks"):
                avg = st.get("executorRunTime", 0) / max(1, st["numCompleteTasks"])
                durations.append(avg)
        if durations:
            durations.sort()
            out["task_time_max_ms"] = round(durations[-1], 1)
            out["task_time_median_ms"] = round(durations[len(durations) // 2], 1)
        return out


# --- checkpoint manifest --------------------------------------------------------


def _require_local_dir(ckpt_dir: str | None) -> None:
    """Refuse a ``scheme://`` checkpoint directory: manifests and promotion
    use local file APIs, so on e.g. HDFS a resume would silently restart
    from round 0 and a save would fail after writing its parquet state."""
    m = re.match(r"([A-Za-z][A-Za-z0-9+.-]*)://", ckpt_dir or "")
    if m:
        raise ValueError(
            f"checkpoint_dir {ckpt_dir!r}: the {m.group(1)}:// scheme is not "
            "supported; checkpoints need a local (or NFS-mounted) path"
        )


def _manifest_path(ckpt_dir: str) -> str:
    return os.path.join(ckpt_dir, "MANIFEST.json")


def _write_manifest(ckpt_dir: str, manifest: dict) -> None:
    tmp_manifest = _manifest_path(ckpt_dir) + ".tmp"
    with open(tmp_manifest, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp_manifest, _manifest_path(ckpt_dir))


def save_checkpoint(
    state: DataFrame, ckpt_dir: str, superstep: int, meta: dict | None = None
) -> DataFrame:
    """Write state to parquet + manifest; return the re-read (lineage-free)
    DataFrame. Writes to a temp dir then promotes, so a crash mid-write never
    corrupts the last good checkpoint."""
    spark = state.sparkSession
    step_dir = os.path.join(ckpt_dir, f"step={superstep}")
    tmp_dir = step_dir + ".tmp"
    state.write.mode("overwrite").parquet(tmp_dir)
    if os.path.exists(step_dir):
        shutil.rmtree(step_dir)
    os.replace(tmp_dir, step_dir)
    _write_manifest(ckpt_dir, {
        "superstep": superstep,
        "path": step_dir,
        "num_partitions": state.rdd.getNumPartitions(),
        "schema": state.schema.json(),
        "ts": time.time(),
        **(meta or {}),
    })
    return spark.read.parquet(step_dir)


def load_checkpoint(spark: SparkSession, ckpt_dir: str) -> tuple[DataFrame, int, dict] | None:
    """Resume point, or None if no checkpoint exists."""
    _require_local_dir(ckpt_dir)
    mp = _manifest_path(ckpt_dir)
    if not os.path.exists(mp):
        return None
    with open(mp) as f:
        manifest = json.load(f)
    return spark.read.parquet(manifest["path"]), manifest["superstep"], manifest


# manifest fields written by save_checkpoint / run_bsp itself; everything
# else in a manifest is the caller's ``meta``
_MANIFEST_KEYS = {"superstep", "path", "num_partitions", "schema", "ts", "final"}


def _check_resume_meta(manifest: dict, meta: dict | None, ckpt_dir: str) -> None:
    """Refuse to resume a checkpoint written under different parameters —
    continuing e.g. a PageRank run with another ``alpha`` would silently mix
    two computations. Budgets (``max_rounds``) are run_bsp arguments, not
    meta, so a resume may always extend them."""
    stored = {k: v for k, v in manifest.items() if k not in _MANIFEST_KEYS}
    asked = json.loads(json.dumps(meta or {}))  # same JSON round-trip as stored
    if stored != asked:
        raise ValueError(
            f"resume: checkpoint at {ckpt_dir} was written with parameters "
            f"{stored} but this run asked for {asked}; resume with the "
            "original parameters or use a fresh checkpoint_dir"
        )


# --- the loop -------------------------------------------------------------------


@dataclass
class BSPResult:
    state: DataFrame
    supersteps: int
    converged: bool
    metrics: list[dict] = field(default_factory=list)
    # checkpoint RDD ids behind the final state, captured at return time —
    # algorithms typically re-select the state (dropping the DataFrame's
    # _graft_ck_ids attribute), so the ids live here for release()
    ck_ids: list = field(default_factory=list)

    def release(self) -> None:
        """Free the result state's cache/checkpoint blocks. Call when the
        state has been consumed (written out / collected) — afterwards the
        DataFrame is only recomputable from durable storage."""
        try:
            self.state.unpersist()
        except Exception:  # pragma: no cover - best-effort release
            pass
        if self.ck_ids:
            self.state._graft_ck_ids = self.ck_ids
            release_truncated(self.state)
            self.ck_ids = []


# stats-resetting rebuild cadence of an unfused loop (see run_bsp)
_STATS_RESET_EVERY = 8


def run_bsp(
    state: DataFrame,
    superstep_fn: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
    scalar_fn: Callable[[DataFrame], float],
    converged_fn: Callable[[float, int], bool],
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    meta: dict | None = None,
    fused_rounds: int = 1,
) -> BSPResult:
    """Run supersteps until convergence.

    ``superstep_fn(state, round)`` returns the *lazy* next state, which may
    carry helper columns (e.g. the previous value). Each round the loop
    materializes it once (localCheckpoint, or durable parquet every
    ``checkpoint_every`` rounds), then ``scalar_fn(materialized)`` computes
    the convergence measure — a cheap aggregate over truncated lineage, the
    Spark analog of GRAPE's ``Sum()`` allreduce
    (`pagerank_networkx.h:85,146`). ``converged_fn(scalar, round)`` decides
    termination — reference analogs: PageRank's ``Σ|Δ| < tol·N``
    (`pagerank_networkx.h:135-148`), WCC's "no vertex changed"
    (`wcc_projected.h:175-180`).

    ``fused_rounds=k`` stacks k supersteps into ONE Spark job: the inner
    applications only compose lazy plans; the block's convergence aggregate
    is the single action that materializes them all. Only valid for
    MONOTONE supersteps where an all-quiet round stays quiet forever (BFS /
    SSSP relaxation / min-label propagation / peeling) — there, overshooting
    the fixpoint by up to k-1 rounds is semantically free (empty frontiers
    produce no messages), so the block-end convergence check is exact. For
    fixed-round semantics (CDLP's exactly-10-rounds contract, PageRank with
    tol=0) the budget is still hit exactly: ``max_rounds`` truncates the
    last block to fit. ``superstep_fn`` always receives the TRUE round
    number; with k>1 the reported ``BSPResult.supersteps`` (and the metrics'
    'superstep' field) is the BLOCK-END round — up to k-1 past the true
    convergence round. Checkpoint manifests store true round numbers, so a
    run may resume under a different ``fused_rounds``.

    ``meta`` identifies the computation; ``resume=True`` refuses (ValueError)
    a checkpoint whose stored meta differs from it.
    """
    spark = state.sparkSession
    start_round = 0
    _require_local_dir(checkpoint_dir)
    if resume and checkpoint_dir:
        loaded = load_checkpoint(spark, checkpoint_dir)
        if loaded is not None:
            state, start_round, man = loaded
            _check_resume_meta(man, meta, checkpoint_dir)
            if man.get("final"):  # already converged — nothing to redo
                return BSPResult(state=state, supersteps=start_round, converged=True)
    mon = SparkStageMetrics(spark)
    mon.snapshot()  # drain stages from setup
    metrics: list[dict] = []
    converged = False
    k = max(1, int(fused_rounds))
    rnd = last_durable = last_reset = start_round
    while rnd < max_rounds:
        t0 = time.time()
        block = min(k, max_rounds - rnd)
        new_state = state
        # Inner rounds compose LAZY plans, each cut (truncate_plan_lazy: a
        # deferred localCheckpoint whose Catalyst node carries leaf stats)
        # so in-block self-join stats can't multiply. Each superstep
        # references the previous state two or three times (frontier, join
        # base, dangling mass), so a chain of d uncut rounds re-executes its
        # first round up to 3^(d-1) times — a cut every 4 rounds took the
        # sf0.01 coreness gate row from ~45 s to over 4 min. The cuts
        # materialize together with the block's single convergence action.
        inner_cuts: list[DataFrame] = []
        for j in range(1, block + 1):
            new_state = superstep_fn(new_state, rnd + j)
            if j < block:
                new_state = truncate_plan_lazy(new_state)
                inner_cuts.append(new_state)
        rnd += block
        # One Spark action per BLOCK: the convergence aggregate below both
        # materializes the new state and returns the scalar. Lineage is cut
        # every block (lazy localCheckpoint) and durably every
        # `checkpoint_every` rounds (parquet + manifest) — iterative plans
        # otherwise grow without bound.
        # A plain localCheckpoint keeps the round output's partitioning, so
        # the next round's state⋈edges join reuses it; the stats-resetting
        # RDD rebuild (truncate_plan) runs only every _STATS_RESET_EVERY
        # unfused rounds — a per-round rebuild costs an extra full-state
        # exchange each round AND replaces real stats with
        # defaultSizeInBytes (measured 7.3 → 20.5 s/superstep at 100M
        # edges), while every-8 caps sizeInBytes digit growth at ~19·2⁸ —
        # microseconds of BigInteger math. A fused block already rebuilt
        # every inner round, so it ends in the rebuild too.
        # Both truncations are lazy: the convergence aggregate is the action
        # that materializes them — ONE job per block, not two.
        if checkpoint_dir and rnd - last_durable >= checkpoint_every:
            last_durable = rnd
            new_state = save_checkpoint(new_state, checkpoint_dir, rnd, meta)
        elif block > 1 or rnd - last_reset >= _STATS_RESET_EVERY:
            last_reset = rnd
            new_state = truncate_plan(new_state, eager=False)
            # cyclic Python refs delay py4j detach of spent rounds' JVM
            # objects (plans, RDD handles) until a gc cycle runs — without
            # this, hundreds of rounds of pinned plan trees OOM the driver
            gc.collect()
        else:
            new_state = local_checkpoint(new_state, eager=False)
        # Materialize the new state (the convergence aggregate is the one
        # action) BEFORE releasing the old — evicting first would force
        # recomputation of the whole since-last-truncation lineage.
        scalar = scalar_fn(new_state)
        # new_state's lineage is severed: the previous state and the
        # in-block plan cuts (cached by the action above) are releasable.
        # release_state, not unpersist: these frames are checkpoint-backed,
        # and unpersist alone leaves their blocks registered forever (one
        # full state copy per round).
        release_state(state)
        for st in inner_cuts:
            release_state(st)
        state = new_state
        m = {"superstep": rnd, "rounds_in_job": block,
             "wall_s": round(time.time() - t0, 4),
             "convergence": scalar, **mon.snapshot()}
        metrics.append(m)
        if converged_fn(scalar, rnd):
            converged = True
            break
    # Mark final only on true convergence: a max_rounds-bounded run must stay
    # resumable with a larger budget (e.g. PageRank stopped early by budget).
    if checkpoint_dir and converged and rnd == last_durable:
        # the converged state IS the checkpoint just written: rewriting it
        # would delete the directory the manifest points at before the new
        # copy is promoted — only the manifest changes
        with open(_manifest_path(checkpoint_dir)) as f:
            _write_manifest(checkpoint_dir, {**json.load(f), "final": True})
    elif checkpoint_dir and converged:
        state = save_checkpoint(state, checkpoint_dir, rnd, {**(meta or {}), "final": True})
    elif checkpoint_dir and rnd != last_durable:
        state = save_checkpoint(state, checkpoint_dir, rnd, meta)
    return BSPResult(
        state=state, supersteps=rnd, converged=converged, metrics=metrics,
        ck_ids=list(getattr(state, "_graft_ck_ids", None) or []),
    )
