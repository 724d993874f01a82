"""Spans, Spark job groups and REST reads for the benchmark's traced run.

A ``Tracer`` records a span around every call the worker makes into a layer
of the library. With ``enabled`` it also tags the Spark jobs each span
submits with a job group, reads ``/api/v1`` jobs, stages and task summaries
for them after each top-level operation, and records when each BSP
superstep started and ended. Everything stays in memory until ``dump``.
Disabled, it only keeps the spans' clock readings, which is what the
untraced run times.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone

LAYERS = ("session", "sources", "extract", "graph", "algorithms", "bsp", "materialise")


def _ts(s: str) -> float:
    """Spark REST timestamp ("2026-01-01T00:00:00.123GMT") → epoch seconds."""
    return datetime.strptime(s[:-3], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.stages: dict[int, list[dict]] = {}
        self.bsp_runs: list[dict] = []
        self._stack: list[int] = []
        self._seen_jobs: set[int] = set()
        self.sc = None

    def group(self, span_id: int) -> str:
        return f"{self.run_id}:{span_id}"

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        rec = {"id": len(self.spans), "run_id": self.run_id, "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(self.group(rec["id"]), name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self.enabled and self.sc is not None and self._stack:
                self.sc.setJobGroup(self.group(self._stack[-1]), self.spans[self._stack[-1]]["name"])

    # -- BSP superstep boundaries ------------------------------------------------

    def watch_supersteps(self, bsp_module) -> None:
        """Time each ``SparkStageMetrics.snapshot`` call ``run_bsp`` makes:
        one when its loop starts and one after every superstep, so the gaps
        between them are the supersteps. Observation only; the wrapped
        method's result is returned unchanged."""
        tracer = self
        base = bsp_module.SparkStageMetrics

        class Watched(base):
            def __init__(self, spark):
                super().__init__(spark)
                self._run = {"span": tracer._stack[-1] if tracer._stack else None,
                             "snapshots": []}
                tracer.bsp_runs.append(self._run)

            def snapshot(self):
                t0 = time.time()
                out = super().snapshot()
                self._run["snapshots"].append((t0, time.time()))
                return out

        bsp_module.SparkStageMetrics = Watched

    # -- Spark REST ----------------------------------------------------------------

    def _get(self, path: str):
        url = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def collect(self) -> None:
        """Read the jobs this run has submitted since the last call, with
        their completed stages. Called between operations, outside timing."""
        if not (self.enabled and self.sc is not None):
            return
        new = [j for j in self._get("/jobs")
               if (j.get("jobGroup") or "").startswith(self.run_id + ":")
               and j["jobId"] not in self._seen_jobs and j.get("completionTime")]
        if not new:
            return
        for st in self._get("/stages?status=complete"):
            self.stages.setdefault(st["stageId"], [])
            if all(a["attemptId"] != st["attemptId"] for a in self.stages[st["stageId"]]):
                self.stages[st["stageId"]].append(st)
        for j in new:
            self._seen_jobs.add(j["jobId"])
            span_id = int(j["jobGroup"].split(":")[1])
            self.jobs.append({"job_id": j["jobId"], "span": span_id,
                              "start": _ts(j["submissionTime"]), "end": _ts(j["completionTime"]),
                              "stage_ids": j["stageIds"]})

    def _job_stages(self, job: dict) -> list[dict]:
        return [a for sid in job["stage_ids"] for a in self.stages.get(sid, [])]

    def task_quantiles(self, stage: dict) -> list[float]:
        """p50, p99 and max task duration (s) of one stage attempt."""
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                      "/taskSummary?quantiles=0.5,0.99,1.0")
        return [x / 1000.0 for x in q["duration"]]

    def group_stages(self, span_id: int) -> list[dict]:
        return [st for j in self.jobs if j["span"] == span_id for st in self._job_stages(j)]

    # -- analysis --------------------------------------------------------------------

    def supersteps(self) -> list[dict]:
        """One record per superstep of every traced ``run_bsp`` call, with the
        jobs that started inside it. Also adds a ``bsp`` span per superstep
        under its algorithm span."""
        out = []
        for run in self.bsp_runs:
            snaps = run["snapshots"]
            algo = self.spans[run["span"]]
            for k in range(1, len(snaps)):
                start, end = snaps[k - 1][1], snaps[k][0]
                jobs = [j for j in self.jobs
                        if j["span"] == run["span"] and start - 0.002 <= j["start"] < end]
                stages = [st for j in jobs for st in self._job_stages(j)]
                rec = {"span": algo["id"], "algorithm": algo["name"], "index": k,
                       "start": start, "end": end, "wall_s": end - start, "poll_s": snaps[k][1] - snaps[k][0],
                       "jobs": len(jobs), "stages": len(stages),
                       "tasks": sum(st["numTasks"] for st in stages),
                       "job_busy_s": _union([(max(j["start"], start), min(j["end"], end))
                                             for j in jobs]),
                       "shuffle_read_bytes": sum(st["shuffleReadBytes"] for st in stages),
                       "shuffle_write_bytes": sum(st["shuffleWriteBytes"] for st in stages),
                       "spill_bytes": sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                                          for st in stages)}
                rec["driver_gap_s"] = rec["wall_s"] - rec["job_busy_s"]
                if stages:
                    top = max(stages, key=lambda st: st["executorRunTime"])
                    rec["task_p50_s"], rec["task_p99_s"], rec["task_max_s"] = \
                        self.task_quantiles(top)
                out.append(rec)
                self.spans.append({"id": len(self.spans), "run_id": self.run_id,
                                   "name": f"superstep {rec['index']}", "layer": "bsp",
                                   "parent": run["span"], "start": start, "end": end})
        return out

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by the span's child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = dict.fromkeys(LAYERS, 0.0)
        for s in self.spans:
            if s["layer"] in out:
                out[s["layer"]] += (s["end"] - s["start"]) - _union(children.get(s["id"], []))
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "jobs": self.jobs, **extra},
                      f, indent=1)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
