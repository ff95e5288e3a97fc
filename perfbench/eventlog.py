"""Roll a Spark event log up per job group.

The benchmark wraps every query it issues in `sc.setJobGroup(<id>)`
and runs the traced session with the event log on; this module reads
the log after the session stops and folds job-start, stage and
task-end records into one record per job group, so the numbers come
from outside the package.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from statistics import median

MB = 1e6

# SQL accumulables the Arrow/pandas-UDF operators publish per task
PY_ACCUMULABLES = {
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
    "time to run Python workers": "py_run_ms",
    "time to start Python workers": "py_start_ms",
}


def event_log_conf(log_dir: str) -> dict[str, str]:
    """Session settings that turn the event log on. Spark 4.1 compresses
    it with zstd by default; the log is written plain so this parser
    needs no codec."""
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
    }


def _empty() -> dict:
    return {
        "jobs": 0,
        "stages": set(),
        "tasks": 0,
        "run_ms": 0,
        "cpu_ns": 0,
        "gc_ms": 0,
        "shuffle_write": 0,
        "shuffle_read": 0,
        "spill": 0,
        "output": 0,
        "peak_mem": 0,
        "intervals": [],
        "stage_runs": defaultdict(list),
        "stage_intervals": defaultdict(list),
        "writing_stages": set(),
        **{k: 0 for k in PY_ACCUMULABLES.values()},
    }


def read_groups(log_dir: str) -> defaultdict[str, dict]:
    """job group id -> raw totals over every job the group ran (empty
    totals for a group that ran no job)."""
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    files = [
        os.path.join(d, f)
        for d, _dirs, names in os.walk(log_dir)
        for f in sorted(names)
        if f.startswith("events_")
    ]
    groups: dict[str, dict] = defaultdict(_empty)
    stage_group: dict[int, str] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    groups[gid]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev["Stage ID"])
                    if gid is None:
                        continue
                    _add_task(groups[gid], ev)
    return groups


def _add_task(g: dict, ev: dict) -> None:
    info = ev["Task Info"]
    tm = ev.get("Task Metrics") or {}
    g["tasks"] += 1
    g["stages"].add(ev["Stage ID"])
    run = tm.get("Executor Run Time", 0)
    g["run_ms"] += run
    g["stage_runs"][ev["Stage ID"]].append(run)
    g["cpu_ns"] += tm.get("Executor CPU Time", 0)
    g["gc_ms"] += tm.get("JVM GC Time", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    g["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    g["shuffle_write"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    g["spill"] += tm.get("Disk Bytes Spilled", 0)
    written = (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
    g["output"] += written
    if written:
        g["writing_stages"].add(ev["Stage ID"])
    g["peak_mem"] = max(g["peak_mem"], tm.get("Peak Execution Memory", 0))
    span = (info["Launch Time"], info["Finish Time"])
    g["intervals"].append(span)
    g["stage_intervals"][ev["Stage ID"]].append(span)
    for acc in info.get("Accumulables", []):
        key = PY_ACCUMULABLES.get(acc.get("Name"))
        if key is not None:
            g[key] += int(acc.get("Update", 0))


def _busy_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of task intervals, clipped to [lo, hi]."""
    busy, end = 0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            busy += b - a
            end = b
    return busy


def _skew(stage_runs: dict[int, list[int]]) -> float:
    """Worst stage's max/median task run time (stages of >= 2 tasks)."""
    worst = 1.0
    for runs in stage_runs.values():
        med = median(runs) if len(runs) >= 2 else 0
        if med > 0:
            worst = max(worst, max(runs) / med)
    return worst


def query_record(g: dict, t0: float, t1: float, cores: int) -> dict:
    """Per-query engine metrics for one job group, given the query's
    driver-side wall-clock window [t0, t1] in epoch seconds."""
    wall = t1 - t0
    lo, hi = int(t0 * 1000), int(t1 * 1000)
    busy = _busy_ms(g["intervals"], lo, hi) / 1000
    writing = [s for sid in g["writing_stages"] for s in g["stage_intervals"][sid]]
    return {
        "jobs": g["jobs"],
        "stages": len(g["stages"]),
        "tasks": g["tasks"],
        "task_run_s": g["run_ms"] / 1000,
        "task_cpu_s": g["cpu_ns"] / 1e9,
        "gc_s": g["gc_ms"] / 1000,
        "shuffle_write_mb": g["shuffle_write"] / MB,
        "shuffle_read_mb": g["shuffle_read"] / MB,
        "spill_mb": g["spill"] / MB,
        "output_mb": g["output"] / MB,
        "write_s": _busy_ms(writing, lo, hi) / 1000,
        "peak_exec_mem_mb": g["peak_mem"] / MB,
        "skew": _skew(g["stage_runs"]),
        "core_busy": g["run_ms"] / 1000 / (wall * cores) if wall > 0 else 0.0,
        "driver_s": max(wall - busy, 0.0),
        "py_mb_in": g["py_bytes_in"] / MB,
        "py_mb_out": g["py_bytes_out"] / MB,
        "py_run_s": g["py_run_ms"] / 1000,
        "py_start_s": g["py_start_ms"] / 1000,
    }


COUNTS = ("jobs", "stages", "tasks")


def roll_up(records: list[dict]) -> dict:
    """One op's records (timed queries, in issue order) -> counts from
    the first query, so they repeat exactly for one seed, and medians of
    everything else."""
    first = records[0]
    return {
        k: (first[k] if k in COUNTS else median(r[k] for r in records))
        for k in first
    }
