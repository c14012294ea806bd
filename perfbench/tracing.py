"""Spans and Spark stage metrics, recorded from outside the engine.

A span times one call into a public engine function. While it is open,
every Spark job the call fires is tagged with the span's job group, so
after the call its jobs, their stages and the stages' task metrics can be
read back from Spark's live status store (populated even with the UI
off). Spans stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[dict] = []
        self._next_id = 0
        gw = self.sc._gateway
        self._store = self.sc._jsc.sc().statusStore()
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    @contextmanager
    def span(self, name: str, kind: str):
        parent = self._open[-1] if self._open else None
        rec = {"id": self._next_id, "name": name,
               "kind": kind, "parent": parent and parent["id"],
               "run": self.run_id}
        self._next_id += 1
        rec["group"] = f"{self.run_id}-{rec['id']}"
        self.sc.setJobGroup(rec["group"], name)
        self._open.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            rec["jobs"] = sorted(
                self.sc.statusTracker().getJobIdsForGroup(rec["group"]))
            self.spans.append(rec)

    def finish(self) -> None:
        """Attach job timings and stage metrics to every closed span not
        yet resolved. Call after each top-level span closes, before the
        status store's retention limits can drop its stages."""
        for s in self.spans:
            if "stages" in s:
                continue
            s["job_s"], stage_ids = [], set()
            for j in s["jobs"]:
                data = self._store.job(j)
                sub, end = data.submissionTime(), data.completionTime()
                if sub.isDefined() and end.isDefined():
                    s["job_s"].append(
                        (end.get().getTime() - sub.get().getTime()) / 1000)
                info = self.sc.statusTracker().getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            s["stages"] = [m for sid in sorted(stage_ids)
                           if (m := self._stage(sid)) is not None]

    def _stage(self, stage_id: int) -> dict | None:
        """Metrics of the last completed attempt of one stage; None for a
        stage that was skipped (its shuffle output was reused)."""
        attempts = self._store.stageData(stage_id, False, None, False,
                                         self._quantiles)
        done = None
        for i in range(attempts.size()):
            a = attempts.apply(i)
            if a.status().toString() == "COMPLETE":
                done = a
        if done is None:
            return None
        m = {"id": stage_id, "tasks": done.numCompleteTasks(),
             "task_ms": done.executorRunTime(),
             "shuffle_read": done.shuffleReadBytes(),
             "shuffle_write": done.shuffleWriteBytes(),
             "spill": done.memoryBytesSpilled() + done.diskBytesSpilled()}
        if m["tasks"] > 1:
            summary = self._store.taskSummary(stage_id, done.attemptId(),
                                              self._quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                m["task_median_ms"], m["task_max_ms"] = run.apply(0), \
                    run.apply(1)
        return m


def add_self_time(spans: list[dict]) -> None:
    """Set each span's ``self_s``: its duration minus the time its direct
    children cover."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["self_s"] = s["end"] - s["start"]
    for s in spans:
        if s["parent"] in by_id:
            by_id[s["parent"]]["self_s"] -= s["end"] - s["start"]


def stage_totals(spans: list[dict], cores: int, exec_s: float) -> dict:
    """Execution-layer metrics over the stages of ``spans`` (each stage
    counted once even when several spans saw it)."""
    stages = {}
    jobs = set()
    for s in spans:
        jobs.update(s["jobs"])
        for m in s.get("stages", ()):
            stages[m["id"]] = m
    st = list(stages.values())
    task_s = sum(m["task_ms"] for m in st) / 1000
    multi = [m for m in st if "task_median_ms" in m]
    med = sum(m["task_median_ms"] for m in multi)
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(st),
        "exec.single_task_stages": sum(m["tasks"] == 1 for m in st),
        "exec.task_s": task_s,
        "exec.busy_ratio": task_s / (exec_s * cores) if exec_s else 0.0,
        "exec.task_skew": (sum(m["task_max_ms"] for m in multi) / med
                           if med else 1.0),
        "exec.shuffle_read_bytes": sum(m["shuffle_read"] for m in st),
        "exec.shuffle_write_bytes": sum(m["shuffle_write"] for m in st),
        "exec.spill_bytes": sum(m["spill"] for m in st),
    }
