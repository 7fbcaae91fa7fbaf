"""Spark event-log reader: jobs, stages, task metrics and SQL metrics,
attributed to the benchmark's spans by time.

A job belongs to a span when the job was submitted inside the span's
interval.  SQL metrics (such as a ``MapInArrow`` node's "time to run
Python workers") are found through the physical plans that each
SQL-execution and adaptive-update event carries: the plan names the node
that owns each accumulator id, and task-end events carry the updates.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
_SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

# SQL metric types whose values are durations, and their scale to seconds
_TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


class EventLog:
    def __init__(self, log_dir: str):
        files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.accum_meta: dict[int, tuple[str, str, str]] = {}
        # accumulator updates summed per stage: stage -> acc id -> value
        self.stage_accums: dict[int, dict[int, float]] = defaultdict(lambda: defaultdict(float))
        # SQL execution id -> {"start", "end", "write"}
        self.executions: dict[int, dict] = {}
        with open(files[0]) as f:
            for line in f:
                self._event(json.loads(line))

    def _plan(self, node: dict) -> bool:
        """Record the plan's metrics; True when the plan writes files."""
        for m in node.get("metrics", []):
            self.accum_meta[m["accumulatorId"]] = (node["nodeName"], m["name"], m["metricType"])
        writes = "InsertInto" in node["nodeName"]
        for child in node.get("children", []):
            writes = self._plan(child) or writes
        return writes

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {"submit": e["Submission Time"] / 1e3, "end": None}
            for s in e["Stage IDs"]:
                self.stage_job.setdefault(s, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            st = self.stage_tasks[e["Stage ID"]]
            st["tasks"] += 1
            tm = e.get("Task Metrics") or {}
            st["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            st["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            acc = self.stage_accums[e["Stage ID"]]
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                upd = a.get("Update")
                if isinstance(upd, str) and upd.lstrip("-").isdigit():
                    upd = int(upd)
                if isinstance(upd, (int, float)) and not isinstance(upd, bool):
                    acc[a["ID"]] += upd
        elif kind == _SQL_START:
            self.executions[e["executionId"]] = {
                "start": e["time"] / 1e3, "end": None, "write": self._plan(e["sparkPlanInfo"])}
        elif kind == _SQL_END:
            if e["executionId"] in self.executions:
                self.executions[e["executionId"]]["end"] = e["time"] / 1e3
        elif kind == _SQL_ADAPTIVE:
            self._plan(e["sparkPlanInfo"])

    # -- attribution ---------------------------------------------------
    def jobs_in(self, spans) -> list[int]:
        """Jobs submitted inside any of the given spans."""
        return sorted(
            j for j, info in self.jobs.items()
            if any(s["start"] <= info["submit"] <= s["end"] for s in spans)
        )

    def write_s(self, span) -> float:
        """Wall of the file-writing SQL executions started inside the span
        (from execution start to end, so AQE re-planning between a
        write's stages counts as write time)."""
        return _union_s([(x["start"], x["end"] or x["start"]) for x in self.executions.values()
                         if x["write"] and span["start"] <= x["start"] <= span["end"]])

    def stages_of(self, jobs) -> list[int]:
        js = set(jobs)
        return [s for s, j in self.stage_job.items() if j in js]

    def busy_s(self, jobs) -> float:
        """Length of the union of the jobs' [submit, end] intervals."""
        return _union_s([(self.jobs[j]["submit"], self.jobs[j]["end"] or self.jobs[j]["submit"])
                         for j in jobs])

    def task_sum(self, jobs, key: str) -> float:
        return sum(self.stage_tasks[s][key] for s in self.stages_of(jobs)
                   if s in self.stage_tasks)

    def n_stages(self, jobs) -> int:
        return sum(1 for s in self.stages_of(jobs) if s in self.stage_tasks)

    def sql_metric(self, jobs, node_pred, metric: str) -> float:
        """Sum of a SQL metric over the plan nodes matching ``node_pred``,
        for tasks of the given jobs; durations are returned in seconds."""
        total = 0.0
        for s in self.stages_of(jobs):
            for acc_id, v in self.stage_accums.get(s, {}).items():
                meta = self.accum_meta.get(acc_id)
                if meta and meta[1] == metric and node_pred(meta[0]):
                    total += v * _TIME_SCALE.get(meta[2], 1.0)
        return total

    def spark_totals(self, jobs) -> dict:
        """The cross-layer ``spark.*`` counters over the given jobs."""
        return {
            "spark.jobs": len(jobs),
            "spark.stages": self.n_stages(jobs),
            "spark.tasks": self.task_sum(jobs, "tasks"),
            "spark.executor_run_s": self.task_sum(jobs, "run_s"),
            "spark.shuffle_write_bytes": self.task_sum(jobs, "shuffle_write_bytes"),
            "spark.python_boot_s": self.sql_metric(jobs, python_node, "time to start Python workers"),
        }


def _union_s(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def python_node(name: str) -> bool:
    return name.startswith(("MapInArrow", "MapInPandas", "PythonMapInArrow",
                            "ArrowEvalPython", "BatchEvalPython",
                            "FlatMapGroupsInPandas", "FlatMapGroupsInArrow"))


def scan_node(name: str) -> bool:
    return name.startswith("Scan ")
