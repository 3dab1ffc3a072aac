"""Spark event-log reader for the traced run.

Spark writes the log itself (``spark.eventLog.enabled``, uncompressed),
so the library is measured without being edited. ``EventLog`` indexes
jobs, their tasks and SQL executions by wall-clock time; the worker
then asks for the executor totals of a time window (a pass) and for
the part of a window covered by running jobs (a unit's builder).
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

# SQL metric names of Spark 4.1's PythonSQLMetrics, as they appear in
# task accumulator updates (values in ms or bytes).
PYTHON_METRICS = {
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_s",
    "data sent to Python workers": "python_bytes_sent",
}


@dataclass
class Job:
    start_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class SqlExec:
    start_ms: int
    plan: str
    end_ms: int = 0


def _zero() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
        "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
        "spill_bytes": 0, "input_bytes": 0, "python_boot_s": 0.0,
        "python_init_s": 0.0, "python_s": 0.0, "python_bytes_sent": 0,
    }


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.sql: dict[int, SqlExec] = {}
        self.stage_done: set[int] = set()
        self.stage_tasks: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                self._add(json.loads(line))

    @classmethod
    def find(cls, log_dir: str) -> "EventLog":
        """The single application log under ``log_dir``, in Spark 4's
        layout ``eventlog_v2_<app>/events_<n>_<app>``."""
        files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        return cls(files[0])

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = Job(e["Submission Time"], stages=e["Stage IDs"])
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            self.stage_done.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            self._add_task(e)
        elif kind.endswith("SQLExecutionStart"):
            self.sql[e["executionId"]] = SqlExec(e["time"], e.get("physicalPlanDescription", ""))
        elif kind.endswith("SQLExecutionEnd"):
            ex = self.sql.get(e["executionId"])
            if ex:
                ex.end_ms = e["time"]

    def _add_task(self, e: dict) -> None:
        m = e.get("Task Metrics") or {}
        s = self.stage_tasks.setdefault(e["Stage ID"], _zero())
        s["tasks"] += 1
        s["run_s"] += m.get("Executor Run Time", 0) / 1e3
        s["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        s["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
            "Shuffle Bytes Written", 0
        )
        rd = m.get("Shuffle Read Metrics", {})
        s["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
            "Local Bytes Read", 0
        )
        s["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        s["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        for acc in e.get("Task Info", {}).get("Accumulables", []):
            key = PYTHON_METRICS.get(acc.get("Name"))
            if key and acc.get("Update") is not None:
                v = float(acc["Update"])
                s[key] += v / 1e3 if key.endswith("_s") else v

    def jobs_in(self, t0_ms: float, t1_ms: float) -> list[Job]:
        """Jobs submitted inside [t0_ms, t1_ms]."""
        return [j for j in self.jobs.values() if t0_ms <= j.start_ms <= t1_ms]

    def exec_totals(self, t0_ms: float, t1_ms: float) -> dict:
        """Executor totals over every job submitted in the window."""
        out = _zero()
        stages = set()
        for job in self.jobs_in(t0_ms, t1_ms):
            out["jobs"] += 1
            stages.update(s for s in job.stages if s in self.stage_done)
        out["stages"] = len(stages)
        for sid in stages:
            for k, v in self.stage_tasks.get(sid, {}).items():
                out[k] += v
        return out

    def covered_s(self, t0_ms: float, t1_ms: float) -> float:
        """Seconds of [t0_ms, t1_ms] during which at least one job ran."""
        spans = sorted(
            (max(j.start_ms, t0_ms), min(j.end_ms or t1_ms, t1_ms))
            for j in self.jobs.values()
            if j.start_ms < t1_ms and (j.end_ms or t1_ms) > t0_ms
        )
        total, cur_s, cur_e = 0.0, None, None
        for s, e in spans:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
        return total / 1e3

    def write_s(self, t0_ms: float, t1_ms: float, path_prefix: str) -> float:
        """Seconds of SQL executions in the window that write files
        under ``path_prefix`` (matched in the physical plan text)."""
        return sum(
            (ex.end_ms - ex.start_ms) / 1e3
            for ex in self.sql.values()
            if t0_ms <= ex.start_ms <= t1_ms
            and ex.end_ms
            and "InsertIntoHadoopFsRelationCommand" in ex.plan
            and path_prefix in ex.plan
        )
