"""Spark event-log parser for the traced run.

The traced session runs with ``spark.eventLog.enabled`` into a private
directory (the UI stays off). Each job carries the job group of the
span that was innermost when it was submitted, so every task maps to a
span and from there to the benchmark's unit operation. This module
turns the listener JSON lines into per-operation engine counters.
"""

from __future__ import annotations

import json
import os
from typing import Any, Dict, Iterable, List, Optional

from perfbench.trace import _union_length

#: engine counters per operation, in the order they are reported
COUNTERS = (
    "jobs", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_bytes", "spill_bytes", "input_rows", "input_bytes",
)


def read_events(path: str) -> Iterable[Dict[str, Any]]:
    """Events from one log file, or from every event file under a log
    directory (Spark 4 writes rolling logs as ``eventlog_v2_<app>/
    events_<n>_<app>`` beside an ``appstatus_`` marker)."""
    if os.path.isdir(path):
        paths = sorted(
            os.path.join(dp, f)
            for dp, _, files in os.walk(path)
            for f in files
            if not f.startswith(("appstatus", "."))
        )
    else:
        paths = [path]
    for p in paths:
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    yield json.loads(line)


def parse(events: Iterable[Dict[str, Any]]) -> Dict[str, Any]:
    """{"jobs": {job_id: {"group", "tasks": [...]}}} where each task is
    {start, end (epoch seconds), run_s, cpu_s, shuffle_bytes,
    spill_bytes, input_rows, input_bytes}. A stage that
    several jobs list runs its tasks in the first job that submitted it."""
    jobs: Dict[int, Dict[str, Any]] = {}
    stage_job: Dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {"group": props.get("spark.jobGroup.id"), "tasks": []}
            for sid in ev.get("Stage IDs", ()):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(ev.get("Stage ID"))
            if jid is None:
                continue
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            inp = m.get("Input Metrics") or {}
            jobs[jid]["tasks"].append({
                "start": info.get("Launch Time", 0) / 1000.0,
                "end": info.get("Finish Time", 0) / 1000.0,
                "run_s": m.get("Executor Run Time", 0) / 1000.0,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "shuffle_bytes": sw.get("Shuffle Bytes Written", 0),
                "spill_bytes": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
                "input_rows": inp.get("Records Read", 0),
                "input_bytes": inp.get("Bytes Read", 0),
            })
    return {"jobs": jobs}


def per_group(parsed: Dict[str, Any]) -> Dict[Optional[str], Dict[str, Any]]:
    """Job group -> summed counters plus the task intervals."""
    out: Dict[Optional[str], Dict[str, Any]] = {}
    for job in parsed["jobs"].values():
        g = out.setdefault(job["group"], _empty())
        g["jobs"] += 1
        for t in job["tasks"]:
            g["tasks"] += 1
            g["executor_run_s"] += t["run_s"]
            g["executor_cpu_s"] += t["cpu_s"]
            for k in ("shuffle_bytes", "spill_bytes", "input_rows", "input_bytes"):
                g[k] += t[k]
            g["intervals"].append((t["start"], t["end"]))
    return out


def _empty() -> Dict[str, Any]:
    d: Dict[str, Any] = {k: 0 for k in COUNTERS}
    d["executor_run_s"] = d["executor_cpu_s"] = 0.0
    d["intervals"] = []
    return d


def per_op(groups: Dict[Optional[str], Dict[str, Any]],
           spans: List[Dict[str, Any]],
           ops: List[Dict[str, Any]]) -> Dict[int, Dict[str, Any]]:
    """Operation index -> counters summed over the groups of its spans,
    plus ``no_task_s``: the operation's wall time during which no task of
    its jobs was running (planning, dispatch and driver-side commit I/O)."""
    from perfbench.trace import Tracer

    out: Dict[int, Dict[str, Any]] = {}
    for s in spans:
        if s.get("op") is None:
            continue
        g = groups.get(Tracer.group(s["id"]))
        acc = out.setdefault(s["op"], _empty())
        if g is None:
            continue
        for k in COUNTERS:
            acc[k] += g[k]
        acc["intervals"].extend(g["intervals"])
    for rec in ops:
        acc = out.setdefault(rec["i"], _empty())
        busy = _union_length(acc["intervals"], rec["start"], rec["end"])
        acc["no_task_s"] = max(0.0, (rec["end"] - rec["start"]) - busy)
    return out
