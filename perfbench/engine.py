"""Engine-layer metrics read from a Spark event log.

A job belongs to the face phase (construction or execution) whose wall
window contains its submission time; its stages and tasks follow it. SQL
executions are matched the same way, and their last reported physical
plan (after adaptive re-planning) gives the exchange count.
"""

from __future__ import annotations

import bisect
import json
import os

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def read_events(events_dir: str) -> list[dict]:
    events = []
    for root, _dirs, files in os.walk(events_dir):
        for name in sorted(files):
            with open(os.path.join(root, name)) as fh:
                for line in fh:
                    try:
                        events.append(json.loads(line))
                    except ValueError:  # a line cut short by shutdown
                        continue
    return events


class Windows:
    """Sorted, non-overlapping ``(start_ms, end_ms, phase)`` windows."""

    def __init__(self, windows: list[tuple[float, float, str]]):
        self.w = sorted(windows)
        self.starts = [w[0] for w in self.w]

    def phase(self, t_ms: float) -> str | None:
        i = bisect.bisect_right(self.starts, t_ms) - 1
        if i >= 0 and t_ms <= self.w[i][1]:
            return self.w[i][2]
        return None


def _exchanges(plan: dict) -> int:
    name = plan.get("nodeName", "")
    own = name.endswith("Exchange") and not name.startswith("Reused")
    return int(own) + sum(_exchanges(c) for c in plan.get("children", []))


def engine_metrics(events: list[dict], windows: Windows) -> dict[str, float]:
    jobs = {"construct": 0, "execute": 0}
    stage_in: set[int] = set()
    plans: dict[int, dict] = {}
    sql_in: set[int] = set()
    m = dict.fromkeys(
        ("stages", "tasks", "empty_tasks", "task_run_s", "gc_s", "input_bytes",
         "output_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
         "spill_bytes"),
        0.0,
    )
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            ph = windows.phase(e["Submission Time"])
            if ph:
                jobs[ph] += 1
                stage_in.update(e.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            if e["Stage Info"]["Stage ID"] in stage_in:
                m["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if e["Stage ID"] not in stage_in:
                continue
            tm = e.get("Task Metrics") or {}
            inp = tm.get("Input Metrics") or {}
            out = tm.get("Output Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            m["tasks"] += 1
            if not inp.get("Records Read") and not sr.get("Total Records Read"):
                m["empty_tasks"] += 1
            m["task_run_s"] += tm.get("Executor Run Time", 0) / 1000
            m["gc_s"] += tm.get("JVM GC Time", 0) / 1000
            m["input_bytes"] += inp.get("Bytes Read", 0)
            m["output_bytes"] += out.get("Bytes Written", 0)
            m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        elif kind == SQL_START:
            if windows.phase(e["time"]):
                sql_in.add(e["executionId"])
                plans[e["executionId"]] = e["sparkPlanInfo"]
        elif kind == SQL_UPDATE and e["executionId"] in sql_in:
            plans[e["executionId"]] = e["sparkPlanInfo"]
    tasks = m.pop("tasks")
    empty = m.pop("empty_tasks")
    return {
        "jobs": jobs["construct"] + jobs["execute"],
        "eager_jobs": jobs["construct"],
        "tasks": tasks,
        "empty_task_share": empty / tasks if tasks else 0.0,
        "exchanges": sum(_exchanges(plans[i]) for i in sql_in),
        **m,
    }
