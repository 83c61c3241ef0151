"""Per-span runtime numbers from Spark's own event log.

The traced run turns on ``spark.eventLog.enabled`` with compression and
rolling off, so the log is one plain JSON-lines file per application.
Spans are the harness's wall-clock intervals around public calls. Jobs,
stages and tasks are attributed to a span by time: with one closed-loop
client, everything that starts inside a span's interval belongs to it.
That also catches jobs on the engine's check threads, which do not
inherit the job description the harness sets.
"""

from __future__ import annotations

import json
import os

# SQL metric names (PythonSQLMetrics) carried as task accumulables; the
# time is a millisecond timing metric
_PY_TIME = "time to run Python workers"
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def read_log(path: str) -> dict:
    """Parse one uncompressed, non-rolling event log into jobs, stages
    and tasks (times in epoch milliseconds)."""
    jobs, stages, tasks = [], {}, []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs.append({
                    "id": ev["Job ID"],
                    "submit_ms": ev["Submission Time"],
                    "description": (ev.get("Properties") or {}).get(
                        "spark.job.description"
                    ),
                })
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    stages[(info["Stage ID"], info["Stage Attempt ID"])] = (
                        info["Submission Time"], info["Completion Time"]
                    )
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                acc = {}
                for a in info.get("Accumulables") or ():
                    name = a.get("Name")
                    if name in (_PY_TIME, _PY_SENT, _PY_RECV):
                        acc[name] = acc.get(name, 0) + int(a.get("Update") or 0)
                tasks.append({
                    "launch_ms": info["Launch Time"],
                    "cpu_ns": m.get("Executor CPU Time", 0),
                    "gc_ms": m.get("JVM GC Time", 0),
                    "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "python_ms": acc.get(_PY_TIME, 0),
                    "arrow_bytes": acc.get(_PY_SENT, 0) + acc.get(_PY_RECV, 0),
                })
    return {"jobs": jobs, "stages": list(stages.values()), "tasks": tasks}


def find_log(eventlog_dir: str) -> str:
    """The single application log the run wrote."""
    names = [n for n in os.listdir(eventlog_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {eventlog_dir}, found {names}")
    return os.path.join(eventlog_dir, names[0])


def _covered_ms(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def span_fields(log: dict, start_ms: float, end_ms: float) -> dict:
    """Runtime fields of one span [start_ms, end_ms]."""
    inside = lambda t: start_ms <= t <= end_ms  # noqa: E731
    tasks = [t for t in log["tasks"] if inside(t["launch_ms"])]
    wall_ms = end_ms - start_ms
    return {
        "wall_s": wall_ms / 1e3,
        "jobs": sum(1 for j in log["jobs"] if inside(j["submit_ms"])),
        "cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
        "python_s": sum(t["python_ms"] for t in tasks) / 1e3,
        "arrow_bytes": sum(t["arrow_bytes"] for t in tasks),
        "shuffle_bytes": sum(t["shuffle_bytes"] for t in tasks),
        "input_bytes": sum(t["input_bytes"] for t in tasks),
        "driver_s": (wall_ms - _covered_ms(log["stages"], start_ms, end_ms)) / 1e3,
    }
