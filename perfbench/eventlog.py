"""Fold a Spark event log (uncompressed JSON lines) into per-op layer counts.

An op is the job group the benchmark sets with ``setJobGroup(op_id)``
before each op. Stages are attributed to the job group found in their
``SparkListenerStageSubmitted`` properties; tasks to their stage.

Units: task metrics carry executor run time in ms and executor CPU
time in ns. The Python-worker numbers are SQL metrics reported as task
accumulables; each task's own contribution is the accumulable's
``Update`` (``Value`` is the running total across tasks, and summing it
over-counts). Their unit comes from the SQL plan's ``metricType``:
``timing`` is ms, ``nsTiming`` ns, ``size`` bytes.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path

# "time to initialize Python workers" is left out: its per-task Update
# exceeds the task's own executor run time (29 s against 0.28 s seen in a
# sf0.01 log), so it is not a per-task duration.
PY_METRICS = {
    "time to run Python workers": "pyworker.run_s",
    "time to start Python workers": "pyworker.init_s",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_returned",
}
_UNIT_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1.0}

COUNTERS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.job_wall_s",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.input_bytes",
    "pyworker.run_s",
    "pyworker.init_s",
    "pyworker.bytes_sent",
    "pyworker.bytes_returned",
    "pyworker.tasks",
)


def _walk_plan(node: dict, types: dict[int, str]) -> None:
    for m in node.get("metrics", ()):
        types[m["accumulatorId"]] = m["metricType"]
    for child in node.get("children", ()):
        _walk_plan(child, types)


def fold_events(lines) -> dict[str, dict[str, float]]:
    """Per job group: the ``COUNTERS`` above. Jobs without a group go under ``""``."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    metric_type: dict[int, str] = {}
    stages_seen: set[tuple[int, int]] = set()
    for line in lines:
        e = json.loads(line)
        ev = e["Event"]
        if "sparkPlanInfo" in e:
            _walk_plan(e["sparkPlanInfo"], metric_type)
        elif ev == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            job_group[e["Job ID"]] = g
            job_start[e["Job ID"]] = e["Submission Time"]
            out[g]["spark.jobs"] += 1
        elif ev == "SparkListenerJobEnd":
            g = job_group.get(e["Job ID"], "")
            if e["Job ID"] in job_start:
                out[g]["spark.job_wall_s"] += (
                    e["Completion Time"] - job_start[e["Job ID"]]
                ) / 1e3
        elif ev == "SparkListenerStageSubmitted":
            sid = e["Stage Info"]["Stage ID"]
            g = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stage_group[sid] = g
        elif ev == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"], "")
            acc = out[g]
            key = (e["Stage ID"], e["Stage Attempt ID"])
            if key not in stages_seen:
                stages_seen.add(key)
                acc["spark.stages"] += 1
            acc["spark.tasks"] += 1
            if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                acc["spark.failed_tasks"] += 1
            m = e.get("Task Metrics") or {}
            acc["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            acc["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            acc["spark.shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            acc["spark.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            acc["spark.input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            py_task = False
            for a in (e.get("Task Info") or {}).get("Accumulables", ()):
                name = PY_METRICS.get(a.get("Name"))
                if name is None or "Update" not in a:
                    continue
                default = "timing" if name.endswith("_s") else "size"
                scale = _UNIT_SCALE[metric_type.get(a["ID"], default)]
                acc[name] += float(a["Update"]) * scale
                py_task = True
            if py_task:
                acc["pyworker.tasks"] += 1
    return {g: dict(v) for g, v in out.items()}


def fold_dir(log_dir: Path) -> dict[str, dict[str, float]]:
    """Fold every event-log file under ``log_dir`` (plain or rolling layout)."""
    files = sorted(
        p for p in Path(log_dir).rglob("*") if p.is_file() and not p.name.startswith(".")
        and "appstatus" not in p.name
    )
    lines = (ln for f in files for ln in f.open() if ln.strip())
    return fold_events(lines)
