"""Reader for the JSON event log Spark writes with ``spark.eventLog.enabled``.

The benchmark writes the log uncompressed and unrolled (one JSON event per
line). The reader keeps three things:

* jobs: submit/end time, job tags, stage ids and SQL execution id;
* stages: submit/complete time, per-task durations and summed task metrics;
* SQL metrics by plan-node name: each ``SparkListenerSQLExecutionStart`` and
  ``SparkListenerSQLAdaptiveExecutionUpdate`` maps accumulator ids to
  (node name, metric name, metric type); task updates (per stage) and driver
  updates (per SQL execution) are summed under that key.

:meth:`EventLog.jobs_for` attributes jobs to one operation: a job carrying
the operation's tag, or an untagged job (one started from a helper thread,
which does not inherit the tag) submitted inside the operation's window.
:meth:`EventLog.layers` turns a set of jobs into the per-layer numbers.
"""

from __future__ import annotations

import json
import statistics
from collections import Counter
from dataclasses import dataclass, field

from perfbench.spans import TAG_PREFIX

# SQL metric types -> factor to base units (seconds, bytes, counts)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0, "sum": 1.0}


@dataclass
class Stage:
    id: int
    submit_ms: int = 0
    end_ms: int = 0
    task_ms: list[int] = field(default_factory=list)
    task: Counter = field(default_factory=Counter)
    sql: Counter = field(default_factory=Counter)  # (node, metric) -> value


@dataclass
class Job:
    id: int
    submit_ms: int
    end_ms: int
    tags: tuple[str, ...]
    stage_ids: list[int]
    execution: int | None


def _task_metrics(m: dict) -> Counter:
    return Counter({
        "gc_ms": m.get("JVM GC Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
    })


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, Stage] = {}
        self.driver_sql: dict[int, Counter] = {}
        accum: dict[int, tuple[str, str, str]] = {}
        task_updates: list[tuple[int, int, float]] = []
        driver_updates: list[tuple[int, int, float]] = []
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    tags = tuple(t for t in props.get("spark.job.tags", "").split(",") if t)
                    ex = props.get("spark.sql.execution.id")
                    self.jobs[e["Job ID"]] = Job(e["Job ID"], e["Submission Time"], 0, tags,
                                                 list(e["Stage IDs"]), int(ex) if ex else None)
                elif ev == "SparkListenerJobEnd":
                    self.jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif ev == "SparkListenerStageSubmitted":
                    si = e["Stage Info"]
                    self.stages.setdefault(si["Stage ID"], Stage(si["Stage ID"]))
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = self.stages.setdefault(si["Stage ID"], Stage(si["Stage ID"]))
                    st.submit_ms, st.end_ms = si.get("Submission Time", 0), si.get("Completion Time", 0)
                elif ev == "SparkListenerTaskEnd":
                    st = self.stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                    info = e["Task Info"]
                    st.task_ms.append(info["Finish Time"] - info["Launch Time"])
                    st.task.update(_task_metrics(e.get("Task Metrics") or {}))
                    for a in info.get("Accumulables", []):
                        if a.get("Metadata") == "sql" and "Update" in a:
                            task_updates.append((st.id, a["ID"], float(a["Update"])))
                elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_accumulators(e["sparkPlanInfo"], accum)
                elif ev.endswith("DriverAccumUpdates"):
                    for acc_id, value in e["accumUpdates"]:
                        driver_updates.append((e["executionId"], acc_id, float(value)))
        for stage_id, acc_id, v in task_updates:
            if acc_id in accum:
                node, name, kind = accum[acc_id]
                self.stages[stage_id].sql[(node, name)] += v * _SCALE.get(kind, 0.0)
        for ex, acc_id, v in driver_updates:
            if acc_id in accum:
                node, name, kind = accum[acc_id]
                self.driver_sql.setdefault(ex, Counter())[(node, name)] += v * _SCALE.get(kind, 0.0)

    def jobs_for(self, tag: str, t0_ms: float, t1_ms: float) -> list[Job]:
        own = "-" + TAG_PREFIX + tag
        out = []
        for j in self.jobs.values():
            ours = [t for t in j.tags if TAG_PREFIX in t]
            if any(t.endswith(own) for t in ours) or (not ours and t0_ms <= j.submit_ms <= t1_ms):
                out.append(j)
        return out

    def ran_stages(self, jobs: list[Job]) -> list[Stage]:
        """Stages these jobs ran (a skipped stage has no completion event)."""
        ids = {s for j in jobs for s in j.stage_ids}
        return [self.stages[s] for s in sorted(ids) if s in self.stages and self.stages[s].end_ms]

    def layers(self, jobs: list[Job]) -> dict[str, float]:
        stages = self.ran_stages(jobs)
        sql, task = Counter(), Counter()
        for st in stages:
            sql.update(st.sql)
            task.update(st.task)
        for ex in {j.execution for j in jobs} - {None}:
            sql.update(self.driver_sql.get(ex, Counter()))

        def node(prefix: str, metric: str) -> float:
            return sum(v for (n, m), v in sql.items() if n.startswith(prefix) and m == metric)

        busiest = max(stages, key=lambda s: sum(s.task_ms), default=None)
        skew = 0.0
        if busiest is not None and busiest.task_ms:
            skew = max(busiest.task_ms) / max(statistics.median(busiest.task_ms), 1)
        return {
            "pip.python_s": node("MapInArrow", "time to run Python workers"),
            "pip.worker_init_s": node("MapInArrow", "time to start Python workers")
            + node("MapInArrow", "time to initialize Python workers"),
            "pip.arrow_in_bytes": node("MapInArrow", "data sent to Python workers"),
            "pip.arrow_out_bytes": node("MapInArrow", "data returned from Python workers"),
            "cells.python_s": node("ArrowEvalPython", "time to run Python workers"),
            "cells.arrow_in_bytes": node("ArrowEvalPython", "data sent to Python workers"),
            "exchange.shuffle_bytes": node("Exchange", "shuffle bytes written"),
            "exchange.shuffle_write_s": node("Exchange", "shuffle write time"),
            "exchange.fetch_wait_s": node("Exchange", "fetch wait time"),
            "exchange.records": node("Exchange", "shuffle records written"),
            "stage.task_skew": skew,
            "spark.jobs": len(jobs),
            "spark.stages": len(stages),
            "spark.tasks": sum(len(st.task_ms) for st in stages),
            "io.bytes_read": node("Scan parquet", "size of files read"),
            "io.scan_s": node("Scan parquet", "scan time"),
            "io.bytes_written": node("", "written output"),
            "io.files_written": node("", "number of written files"),
            "io.task_commit_s": node("", "task commit time"),
            "io.job_commit_s": node("", "job commit time"),
            "jvm.gc_s": task["gc_ms"] / 1e3,
            "jvm.executor_cpu_s": task["cpu_ns"] / 1e9,
        }


def _plan_accumulators(plan: dict, out: dict[int, tuple[str, str, str]]) -> None:
    stack = [plan]
    while stack:
        n = stack.pop()
        for m in n.get("metrics", []):
            out[m["accumulatorId"]] = (n["nodeName"], m["name"], m["metricType"])
        stack.extend(n.get("children", []))


def covered_ms(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of the union of ``intervals`` clipped to [t0, t1]."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total
