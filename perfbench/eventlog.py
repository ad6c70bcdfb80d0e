"""Per-span metrics from Spark's own event log (stdlib json only).

The benchmark runs each span of a traced run under its own job group
(`<span>#<sample>`) and records the span's driver-side start and end.
This module folds the uncompressed event log(s) of that run into one
metrics dict per span sample:

  wall_s               driver-measured span wall time
  driver_s             part of the wall with no Spark job running
  core_idle_frac       1 - sum(task run time) / (wall * cores)
  task_cpu_s, gc_s     summed task executor CPU and JVM GC time
  jobs, stages, stages_skipped, tasks, task_failures
  shuffle_write_bytes, shuffle_read_bytes, spill_bytes (disk)
  udf_rows, udf_s      rows out of, and time in, Python-worker plan
                       nodes (ArrowEvalPython, MapInPandas, ...)
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

# SQL metric names of the Python-worker plan nodes
_UDF_METRICS = {"number of output rows": "udf_rows", "time to run Python workers": "udf_ms"}
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

FIELDS = (
    "wall_s", "driver_s", "core_idle_frac", "task_cpu_s", "gc_s", "jobs",
    "stages", "stages_skipped", "tasks", "task_failures",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "udf_rows", "udf_s",
)


def _is_python_node(name: str) -> bool:
    return "Python" in name or "InPandas" in name or "InArrow" in name


def _python_accumulators(plan: dict, out: dict) -> None:
    if _is_python_node(plan["nodeName"]):
        for m in plan["metrics"]:
            if m["name"] in _UDF_METRICS:
                out[m["accumulatorId"]] = _UDF_METRICS[m["name"]]
    for child in plan["children"]:
        _python_accumulators(child, out)


def _fold_log(path: str, groups: dict) -> None:
    """Add one application's events to per-job-group accumulators.
    SQL metric updates are summed per accumulator id and resolved at
    the end: AQE can announce a re-planned node after its tasks ran."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    udf_acc: dict[int, str] = {}
    acc_sums: dict[str, dict[int, int]] = defaultdict(lambda: defaultdict(int))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                gid = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if gid is None:
                    continue
                job_group[e["Job ID"]] = gid
                g = groups[gid]
                g["jobs"] += 1
                g["stages_listed"] += len(e["Stage IDs"])
                g["job_start"][e["Job ID"]] = e["Submission Time"]
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, gid)
            elif ev == "SparkListenerJobEnd":
                gid = job_group.get(e["Job ID"])
                if gid is not None:
                    g = groups[gid]
                    g["intervals"].append(
                        (g["job_start"].pop(e["Job ID"]), e["Completion Time"])
                    )
            elif ev == "SparkListenerStageCompleted":
                gid = stage_group.get(e["Stage Info"]["Stage ID"])
                if gid is not None:
                    groups[gid]["stages"] += 1
            elif ev == "SparkListenerTaskEnd":
                gid = stage_group.get(e["Stage ID"])
                if gid is None:
                    continue
                g = groups[gid]
                info = e["Task Info"]
                g["tasks"] += 1
                g["task_ms"] += info["Finish Time"] - info["Launch Time"]
                if e["Task End Reason"]["Reason"] != "Success":
                    g["task_failures"] += 1
                tm = e.get("Task Metrics") or {}
                g["task_cpu_ns"] += tm.get("Executor CPU Time", 0)
                g["gc_ms"] += tm.get("JVM GC Time", 0)
                g["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                g["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                rd = tm.get("Shuffle Read Metrics", {})
                g["shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0
                )
                for acc in info.get("Accumulables", ()):
                    if acc.get("Metadata") == "sql":
                        acc_sums[gid][acc["ID"]] += int(acc.get("Update") or 0)
            elif ev in (_SQL_START, _SQL_AQE):
                _python_accumulators(e["sparkPlanInfo"], udf_acc)
    for gid, sums in acc_sums.items():
        for acc_id, total in sums.items():
            kind = udf_acc.get(acc_id)
            if kind is not None:
                groups[gid][kind] += total


def _new_group() -> dict:
    g: dict = defaultdict(int)
    g["intervals"] = []
    g["job_start"] = {}
    return g


def _busy_ms(intervals: list, t0: float, t1: float) -> float:
    """Length of the union of job intervals, clipped to [t0, t1]."""
    busy, end = 0.0, t0
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, t1)
        if e > s:
            busy += e - s
            end = e
    return busy


def event_logs(log_dir: str) -> list[str]:
    return sorted(
        os.path.join(log_dir, n)
        for n in os.listdir(log_dir)
        if not n.startswith(".") and not n.endswith(".crc")
    )


def span_metrics(log_dir: str, spans: list[dict], cores: int) -> list[dict]:
    """One metrics dict per recorded span sample. `spans` items carry
    name, group (the job group id) and t0/t1 (epoch seconds)."""
    groups: dict = defaultdict(_new_group)
    for path in event_logs(log_dir):
        _fold_log(path, groups)
    out = []
    for sp in spans:
        g = groups[sp["group"]]
        t0, t1 = sp["t0"] * 1000.0, sp["t1"] * 1000.0
        wall_ms = max(t1 - t0, 1e-9)
        out.append(
            {
                "name": sp["name"],
                "wall_s": wall_ms / 1000.0,
                "driver_s": (wall_ms - _busy_ms(g["intervals"], t0, t1)) / 1000.0,
                "core_idle_frac": 1.0 - g["task_ms"] / (wall_ms * cores),
                "task_cpu_s": g["task_cpu_ns"] / 1e9,
                "gc_s": g["gc_ms"] / 1000.0,
                "jobs": g["jobs"],
                "stages": g["stages"],
                "stages_skipped": g["stages_listed"] - g["stages"],
                "tasks": g["tasks"],
                "task_failures": g["task_failures"],
                "shuffle_write_bytes": g["shuffle_write_bytes"],
                "shuffle_read_bytes": g["shuffle_read_bytes"],
                "spill_bytes": g["spill_bytes"],
                "udf_rows": g["udf_rows"],
                "udf_s": g["udf_ms"] / 1000.0,
            }
        )
    return out
