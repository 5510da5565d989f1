"""Fold Spark's JSON event log into per-span layer costs.

The traced run enables Spark's own event log as uncompressed,
non-rolling JSON lines and tags every query with
``setJobGroup("<workload>.<query>", "pass <i>")``. Each job carries
that group and description in its JobStart properties, so TaskEnd,
StageCompleted and JobEnd records fold into one row per (query, pass).
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

# RDD names / operator scopes of stages whose tasks run Python workers
_PYTHON_OPS = (
    "PythonRDD",
    "MapInArrow",
    "MapInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInPandas",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session conf for a plain-JSON, single-file local event log."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        text = f"{rdd.get('Name', '')} {rdd.get('Scope', '')}"
        if any(op in text for op in _PYTHON_OPS):
            return True
    return False


def empty_row() -> dict:
    return {
        "jobs": 0,
        "intervals": [],
        "tasks": 0,
        "ok_tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "deserialize_s": 0.0,
        "gc_s": 0.0,
        "scheduler_delay_s": 0.0,
        "shuffle_write_bytes": 0,
        "shuffle_read_bytes": 0,
        "spill_bytes": 0,
        "peak_exec_mem_bytes": 0,
        "python_task_s": 0.0,
        "python_tasks": 0,
    }


def fold(log_dir: str) -> dict[tuple[str, str], dict]:
    """Rows keyed by (job group, job description). Times are seconds;
    ``intervals`` holds each job's (submit, end) in epoch seconds."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    jobs: dict[int, tuple[str, str]] = {}
    job_t: dict[int, list[float]] = {}
    stage_key: dict[int, tuple[str, str]] = {}
    python_stages: set[int] = set()
    tasks: list[dict] = []
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    key = (
                        props.get("spark.jobGroup.id") or "",
                        props.get("spark.job.description") or "",
                    )
                    jid = ev["Job ID"]
                    jobs[jid] = key
                    job_t[jid] = [ev["Submission Time"] / 1e3, None]
                    for sid in ev.get("Stage IDs", []):
                        stage_key.setdefault(sid, key)
                    for info in ev.get("Stage Infos", []):
                        if _is_python_stage(info):
                            python_stages.add(info["Stage ID"])
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_t:
                        job_t[ev["Job ID"]][1] = ev["Completion Time"] / 1e3
                elif kind in ("SparkListenerStageSubmitted", "SparkListenerStageCompleted"):
                    info = ev.get("Stage Info", {})
                    if _is_python_stage(info):
                        python_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)

    rows: dict[tuple[str, str], dict] = defaultdict(empty_row)
    for jid, key in jobs.items():
        row = rows[key]
        row["jobs"] += 1
        t0, t1 = job_t[jid]
        if t1 is not None:
            row["intervals"].append((t0, t1))
    for ev in tasks:
        sid = ev["Stage ID"]
        key = stage_key.get(sid)
        if key is None:
            continue
        row = rows[key]
        info = ev.get("Task Info") or {}
        met = ev.get("Task Metrics") or {}
        reason = (ev.get("Task End Reason") or {}).get("Reason")
        run_s = met.get("Executor Run Time", 0) / 1e3
        des_s = met.get("Executor Deserialize Time", 0) / 1e3
        ser_s = met.get("Result Serialization Time", 0) / 1e3
        dur_s = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
        get_s = 0.0
        if info.get("Getting Result Time"):
            get_s = (info["Finish Time"] - info["Getting Result Time"]) / 1e3
        row["tasks"] += 1
        row["ok_tasks"] += reason == "Success"
        row["executor_run_s"] += run_s
        row["executor_cpu_s"] += met.get("Executor CPU Time", 0) / 1e9
        row["deserialize_s"] += des_s
        row["gc_s"] += met.get("JVM GC Time", 0) / 1e3
        row["scheduler_delay_s"] += max(0.0, dur_s - run_s - des_s - ser_s - get_s)
        sw = met.get("Shuffle Write Metrics") or {}
        sr = met.get("Shuffle Read Metrics") or {}
        row["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        row["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
            "Local Bytes Read", 0
        )
        row["spill_bytes"] += met.get("Disk Bytes Spilled", 0)
        row["peak_exec_mem_bytes"] = max(
            row["peak_exec_mem_bytes"], met.get("Peak Execution Memory", 0)
        )
        if sid in python_stages:
            row["python_task_s"] += run_s
            row["python_tasks"] += 1
    return dict(rows)


def covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of [t0, t1] covered by the union of ``intervals``."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total
