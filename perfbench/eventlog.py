"""Per-job-group totals from a Spark event log (stdlib JSON only).

The log must be written uncompressed (``spark.eventLog.compress=false``).
Spark 4 writes a rolling log: a directory of ``events_<n>_<app>`` files,
read here in order.  Jobs are attributed to the job group set with
``SparkContext.setJobGroup`` when they were submitted; a task is
attributed through its stage to the first job that listed the stage.

SQL metrics (the Python-worker counters among them) arrive as task
accumulator updates; their unit comes from the ``metricType`` in the
plan info of the SQL execution events.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict
from typing import Iterable, Iterator

#: SQL metric name -> key in the group totals (values in bytes or ms)
PYTHON_METRICS = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
}

_TIME_SCALE_TO_MS = {"timing": 1.0, "nsTiming": 1e-6}

COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "task_run_ms",
    "task_cpu_ns",
    "gc_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
) + tuple(PYTHON_METRICS.values())


def log_files(path: str) -> list[str]:
    """The event files of one application log, in write order: ``path``
    itself if it is a file, else the ``events_<n>_*`` files of the
    directory sorted by ``n``."""
    if os.path.isfile(path):
        return [path]
    files = glob.glob(os.path.join(path, "events_*"))

    def index(name: str) -> int:
        m = re.match(r"events_(\d+)_", os.path.basename(name))
        return int(m.group(1)) if m else 0

    return sorted(files, key=index)


def read_events(paths: Iterable[str]) -> Iterator[dict]:
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def _plan_metric_types(node: dict, out: dict[int, str]) -> None:
    for metric in node.get("metrics", []):
        out[metric["accumulatorId"]] = metric.get("metricType", "sum")
    for child in node.get("children", []):
        _plan_metric_types(child, out)


def _new_group() -> dict:
    group = {key: 0 for key in COUNTERS}
    group["job_wall_ms"] = []
    return group


def group_totals(events: Iterable[dict]) -> dict[str, dict]:
    """Totals per job group; jobs without a group are under ``""``.

    Each group holds the ``COUNTERS`` plus ``job_wall_ms``, the wall time
    of each of its jobs from submission to completion."""
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, int] = {}
    metric_types: dict[int, str] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            name = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[ev["Job ID"]] = name
            job_submit[ev["Job ID"]] = ev.get("Submission Time", 0)
            groups[name]["jobs"] += 1
            for stage_id in ev.get("Stage IDs", []):
                stage_group.setdefault(stage_id, name)
        elif kind == "SparkListenerJobEnd":
            job_id = ev["Job ID"]
            if job_id in job_group and "Completion Time" in ev:
                wall = ev["Completion Time"] - job_submit[job_id]
                groups[job_group[job_id]]["job_wall_ms"].append(wall)
        elif kind == "SparkListenerStageCompleted":
            stage_id = ev["Stage Info"]["Stage ID"]
            groups[stage_group.get(stage_id, "")]["stages"] += 1
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metric_types(ev.get("sparkPlanInfo", {}), metric_types)
        elif kind == "SparkListenerTaskEnd":
            _add_task(groups[stage_group.get(ev["Stage ID"], "")], ev, metric_types)
    return dict(groups)


def _add_task(group: dict, ev: dict, metric_types: dict[int, str]) -> None:
    group["tasks"] += 1
    metrics = ev.get("Task Metrics") or {}
    group["task_run_ms"] += metrics.get("Executor Run Time", 0)
    group["task_cpu_ns"] += metrics.get("Executor CPU Time", 0)
    group["gc_ms"] += metrics.get("JVM GC Time", 0)
    group["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
    read = metrics.get("Shuffle Read Metrics") or {}
    group["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0)
    write = metrics.get("Shuffle Write Metrics") or {}
    group["shuffle_write_bytes"] += write.get("Shuffle Bytes Written", 0)
    group["output_bytes"] += (metrics.get("Output Metrics") or {}).get("Bytes Written", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name", ""))
        if key is None or "Update" not in acc:
            continue
        value = float(acc["Update"])
        if key.endswith("_ms"):
            value *= _TIME_SCALE_TO_MS.get(metric_types.get(acc["ID"], "timing"), 1.0)
        group[key] += value


def merge(groups: Iterable[dict]) -> dict:
    """Sum of several groups' totals."""
    out = _new_group()
    for group in groups:
        for key in COUNTERS:
            out[key] += group[key]
        out["job_wall_ms"].extend(group["job_wall_ms"])
    return out
