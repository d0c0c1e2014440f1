"""In-memory spans around calls into the program, with one child span per
Spark job those calls start, read from Spark's status store.

Each traced call runs under its own job group. After the call the tracer
drains the listener bus and reads every job of the group with
``statusStore().job(id)`` and each of its stages with
``statusStore().lastStageAttempt(id)``; both are populated with
``spark.ui.enabled=false``. Nothing is recorded when tracing is off.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s: list[float] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, parent: dict | None = None):
        """Record a span around the block. When tracing is on, the block's
        Spark jobs become child spans and their stage counters are summed
        into ``span["spark"]``."""
        s = {
            "id": next(self._ids),
            "parent": parent["id"] if parent else None,
            "name": name,
            "start": time.time(),
        }
        group = f"perfbench-{s['id']}"
        if self.enabled:
            outer = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, name)
        try:
            yield s
        finally:
            s["end"] = time.time()
            if self.enabled:
                self.sc.setLocalProperty("spark.jobGroup.id", outer)
                self.spans.append(s)
                t0 = time.perf_counter()
                s["spark"] = self._collect_jobs(group, s)
                self.overhead_s.append(time.perf_counter() - t0)

    def _collect_jobs(self, group: str, parent: dict) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        totals = {
            "jobs": 0, "stages": 0, "tasks": 0, "task_run_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0,
        }
        for job_id in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            job = store.job(job_id)
            stage_ids = [job.stageIds().apply(i) for i in range(job.stageIds().size())]
            stages = []
            for sid in stage_ids:
                st = store.lastStageAttempt(sid)
                if st.status().toString() == "SKIPPED":
                    continue
                stages.append(
                    {
                        "stage": sid,
                        "tasks": st.numCompleteTasks(),
                        "task_run_s": st.executorRunTime() / 1000.0,
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                        "task_run_s_max_median": _task_skew(store, sid, st.attemptId()),
                    }
                )
            done = job.completionTime()
            self.spans.append(
                {
                    "id": next(self._ids),
                    "parent": parent["id"],
                    "name": f"spark.job.{job_id}",
                    "start": job.submissionTime().get().getTime() / 1000.0,
                    "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                    "status": job.status().toString(),
                    "stages": stages,
                }
            )
            totals["jobs"] += 1
            for st in stages:
                totals["stages"] += 1
                for k in ("tasks", "task_run_s", "shuffle_write_bytes", "spill_bytes"):
                    totals[k] += st[k]
        return totals

    def children(self, span: dict) -> list[dict]:
        """The Spark job spans directly below ``span``."""
        return [s for s in self.spans if s["parent"] == span["id"] and "stages" in s]

    def spark_totals(self, span: dict) -> dict:
        """Stage counters of ``span`` plus those of the spans directly below
        it that ran their own job groups."""
        out = dict(span["spark"])
        for s in self.spans:
            if s["parent"] == span["id"] and "spark" in s:
                for k, v in s["spark"].items():
                    out[k] += v
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)
            f.write("\n")


def _task_skew(store, stage_id: int, attempt: int) -> float | None:
    """Max over median task run time of one stage (None below 2 tasks)."""
    tasks = store.taskList(stage_id, attempt, 100000)
    runs = []
    for i in range(tasks.size()):
        m = tasks.apply(i).taskMetrics()
        if m.isDefined():
            runs.append(m.get().executorRunTime())
    if len(runs) < 2:
        return None
    med = statistics.median(runs)
    return max(runs) / med if med > 0 else None
