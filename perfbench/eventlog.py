"""Spark event-log parser (stdlib ``json`` only).

Jobs are attributed to a benchmark pass by the ``perfbench.pass`` local
property the benchmark sets before each pass; a pass's stages are the
completed stages of its jobs.  Task metrics come from ``SparkListenerTaskEnd``,
SQL metrics (the Python-UDF crossing, explode row counts) from the stage
accumulables, matched to plan nodes through the accumulator ids listed in
``SparkListenerSQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate`` plans.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

PASS_PROPERTY = "perfbench.pass"

# Python-UDF SQL metrics (Spark 4.1 names) -> (benchmark metric, scale)
PYTHON_METRICS = {
    "time to run Python workers": ("functions.python_total_s", 1e-3),
    "time to start Python workers": ("functions.python_boot_s", 1e-3),
    "time to initialize Python workers": ("functions.python_init_s", 1e-3),
    "data sent to Python workers": ("functions.bytes_to_python", 1),
    "data returned from Python workers": ("functions.bytes_from_python", 1),
    "number of output rows": ("functions.udf_rows", 1),
}
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _is_python_node(name: str) -> bool:
    return "Python" in name or "Pandas" in name or "Arrow" in name


def _num(value) -> float:
    return float(value) if value not in (None, "") else 0.0


class EventLog:
    def __init__(self, lines):
        self.job_pass: dict[int, str] = {}
        self.job_stages: dict[int, list[int]] = {}
        self.stage_accums: dict[int, dict[int, float]] = {}
        self.stage_tasks: dict[int, list[dict]] = defaultdict(list)
        # accumulator id -> benchmark metric name
        self.sql_accums: dict[int, str] = {}
        for line in lines:
            if line.strip():
                self._add(json.loads(line))

    @classmethod
    def from_file(cls, path: str) -> "EventLog":
        with open(path, encoding="utf-8") as f:
            return cls(f)

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            label = (e.get("Properties") or {}).get(PASS_PROPERTY)
            if label is not None:
                self.job_pass[e["Job ID"]] = label
                self.job_stages[e["Job ID"]] = list(e["Stage IDs"])
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            self.stage_accums[info["Stage ID"]] = {
                a["ID"]: _num(a.get("Value")) for a in info.get("Accumulables", [])
            }
        elif kind == "SparkListenerTaskEnd":
            if e.get("Task Metrics"):
                self.stage_tasks[e["Stage ID"]].append(e["Task Metrics"])
        elif kind in (_SQL_START, _SQL_AQE):
            self._walk(e["sparkPlanInfo"])

    def _walk(self, node: dict) -> None:
        name = node.get("nodeName", "")
        for m in node.get("metrics", []):
            if _is_python_node(name) and m["name"] in PYTHON_METRICS:
                self.sql_accums[m["accumulatorId"]] = PYTHON_METRICS[m["name"]][0]
            elif name == "Generate" and m["name"] == "number of output rows":
                self.sql_accums[m["accumulatorId"]] = "operators.exploded_spans"
        for child in node.get("children", []):
            self._walk(child)

    def labels(self) -> list[str]:
        return sorted(set(self.job_pass.values()))

    def pass_metrics(self, label: str) -> dict[str, float]:
        jobs = [j for j, lab in self.job_pass.items() if lab == label]
        stages = sorted(
            {s for j in jobs for s in self.job_stages[j] if s in self.stage_accums}
        )
        out: dict[str, float] = {name: 0.0 for name, _ in PYTHON_METRICS.values()}
        out["operators.exploded_spans"] = 0.0
        scale = {name: k for name, k in PYTHON_METRICS.values()}
        udf_stages = []
        for s in stages:
            for acc_id, value in self.stage_accums[s].items():
                name = self.sql_accums.get(acc_id)
                if name is None:
                    continue
                out[name] += value * scale.get(name, 1)
                if name == "functions.python_total_s":
                    udf_stages.append(s)
        tasks = [t for s in stages for t in self.stage_tasks.get(s, [])]
        out.update(
            {
                "plans.jobs": len(jobs),
                "plans.stages": len(stages),
                "plans.tasks": len(tasks),
                "plans.executor_run_s": sum(t["Executor Run Time"] for t in tasks) / 1e3,
                "plans.executor_cpu_s": sum(t["Executor CPU Time"] for t in tasks) / 1e9,
                "plans.gc_s": sum(t["JVM GC Time"] for t in tasks) / 1e3,
                "operators.shuffle_write_bytes": sum(
                    t["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks
                ),
                "operators.shuffle_read_bytes": sum(
                    t["Shuffle Read Metrics"]["Local Bytes Read"]
                    + t["Shuffle Read Metrics"]["Remote Bytes Read"]
                    for t in tasks
                ),
                "operators.spill_bytes": sum(t["Disk Bytes Spilled"] for t in tasks),
                "operators.task_skew": self._skew(udf_stages or stages),
            }
        )
        return out

    def _skew(self, stages: list[int]) -> float:
        """max / median task run time of the busiest of ``stages``."""
        runs = [
            [t["Executor Run Time"] for t in self.stage_tasks.get(s, [])] for s in stages
        ]
        runs = [r for r in runs if r]
        if not runs:
            return 0.0
        busiest = max(runs, key=sum)
        median = statistics.median(busiest)
        return max(busiest) / median if median else float(max(busiest) > 0)
