"""Stdlib reader for Spark's JSON-lines event log.

Attributes every task of a stage to the job group of the first job that
ran the stage, and sums, per job group: jobs, tasks, executor run time,
shuffle bytes and records, disk spill and the SQL metric "time to run
Python workers".
"""

from __future__ import annotations

import json
from collections import defaultdict

PYTHON_TIME = "time to run Python workers"
MB = 1024.0 * 1024.0


def _group_totals() -> dict[str, float]:
    return {
        "jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_records": 0, "spill_mb": 0.0,
        "python_s": 0.0,
    }


def read(path: str) -> dict[str, dict[str, float]]:
    """job group id -> summed metrics of the jobs tagged with it."""
    stage_group: dict[int, str] = {}
    ns_timers: set[int] = set()  # accumulator ids of nanosecond SQL timers
    out: dict[str, dict[str, float]] = defaultdict(_group_totals)

    def plan_metrics(info: dict) -> None:
        for m in info.get("metrics", []):
            if m.get("metricType") == "nsTiming":
                ns_timers.add(m["accumulatorId"])
        for child in info.get("children", []):
            plan_metrics(child)

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, group)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                plan_metrics(ev.get("sparkPlanInfo", {}))
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                g = out[group]
                g["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                g["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
                sw = tm.get("Shuffle Write Metrics", {})
                g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                g["shuffle_records"] += sw.get("Shuffle Records Written", 0)
                sr = tm.get("Shuffle Read Metrics", {})
                g["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                g["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == PYTHON_TIME:
                        scale = 1e-9 if acc["ID"] in ns_timers else 1e-3
                        g["python_s"] += float(acc.get("Update", 0)) * scale
    return dict(out)
