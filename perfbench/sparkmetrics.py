"""Spark-side counters for the traced run.

* Jobs and stages come from the driver-local status REST API at
  ``sc.uiWebUrl``.  A window is attributed by job id: every job with an id
  at or above the first id submitted after the window opened.  Job ids are
  dense, so a gap in the returned ids means the UI retention evicted a job;
  the run raises the retention limits and reports the number evicted.
* Catalyst phase times come from ``QueryExecution.tracker().phases()``.
* Streaming micro-batch progress comes from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import json
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


class JobWindow:
    """Jobs and stages submitted between ``open()`` and ``close()``."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._first = None

    def _jobs(self) -> list[dict]:
        return _get(f"{self._base}/jobs")

    def _settled_jobs(self) -> list[dict]:
        """Jobs once the asynchronous UI listener has seen them finish."""
        jobs = self._jobs()
        for _ in range(100):
            if all(j["status"] != "RUNNING" for j in jobs):
                break
            time.sleep(0.1)
            jobs = self._jobs()
        return jobs

    def open(self) -> None:
        jobs = self._settled_jobs()
        self._first = 1 + max((j["jobId"] for j in jobs), default=-1)

    def close(self) -> dict[str, float]:
        jobs = [j for j in self._settled_jobs() if j["jobId"] >= self._first]
        ids = sorted(j["jobId"] for j in jobs)
        evicted = (ids[-1] - ids[0] + 1 - len(ids)) if ids else 0
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [
            s
            for s in _get(f"{self._base}/stages")
            if s["stageId"] in stage_ids and s["status"] == "COMPLETE"
        ]
        return {
            "jobs": float(len(jobs)),
            "jobs_evicted": float(evicted),
            "stages": float(len(stages)),
            "exec_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "exec_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / 2**20,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / 2**20,
            "input_records": float(sum(s["inputRecords"] for s in stages)),
            "task_skew": self._skew(stages),
        }

    def _skew(self, stages: list[dict], top: int = 20) -> float:
        """Worst max/median task run time over the ``top`` longest
        multi-task stages (1.0 when no stage has two tasks)."""
        worst = 1.0
        multi = [s for s in stages if s["numTasks"] > 1]
        for s in sorted(multi, key=lambda s: -s["executorRunTime"])[:top]:
            q = _get(
                f"{self._base}/stages/{s['stageId']}/{s['attemptId']}"
                "/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            if q[0] > 0:
                worst = max(worst, q[1] / q[0])
        return worst


def catalyst_phases_ms(df) -> dict[str, float]:
    """Analysis/optimization/planning ms of ``df``'s own QueryExecution,
    planning it if it has not been planned yet."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)  # a scala.Option
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


class StreamProgress(StreamingQueryListener):
    """Sums micro-batch progress over every streaming query it sees."""

    def __init__(self) -> None:
        self.batches = 0
        self.add_batch_ms = 0.0
        self.wal_commit_ms = 0.0
        self.state_rows = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches += 1
        self.add_batch_ms += p.durationMs.get("addBatch", 0)
        self.wal_commit_ms += p.durationMs.get("walCommit", 0)
        self.state_rows += sum(s.numRowsTotal for s in p.stateOperators)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

