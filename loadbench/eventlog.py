"""Per-query profiles from a Spark event log, attributed by time window.

The benchmark runs one query at a time, so every job, task and
adaptive re-plan that starts inside a query's wall-clock window
belongs to that query. Windows are used instead of job groups because
streaming micro-batch jobs run under the stream's own group.

Spark writes the log as a directory of rolling ``events_<n>_<app>``
files when ``spark.eventLog.enabled=true``; ``spark.eventLog.compress``
must be false so the files are JSON lines.
"""

from __future__ import annotations

import bisect
import json
import os
import re
from dataclasses import dataclass

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
AQE_UPDATE = (
    "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
)
_MB = 1024.0 * 1024.0


@dataclass
class Profile:
    """Executor-side work one query window launched."""

    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    aqe_updates: int = 0
    #: epoch ms of the first job submitted in the window, or None
    first_job_ms: int | None = None


def read_events(log_dir: str):
    """Yield every event of every application log under `log_dir`, in
    file order (Spark writes rolling ``events_<index>_<app>`` files)."""

    def order(path):
        m = re.match(r"events_(\d+)_", os.path.basename(path))
        return (os.path.dirname(path), int(m.group(1)) if m else 0)

    paths = []
    for dirpath, _, names in os.walk(log_dir):
        paths += [os.path.join(dirpath, n) for n in names if n.startswith("events_")]
    for path in sorted(paths, key=order):
        with open(path) as f:
            for line in f:
                if line.strip():
                    yield json.loads(line)


def attribute(events, windows: list[tuple[int, int]]) -> list[Profile]:
    """One Profile per (start_ms, end_ms) window. Windows must be
    sorted and disjoint; events outside every window are dropped."""
    starts = [w[0] for w in windows]
    out = [Profile() for _ in windows]
    exec_start: dict[int, int] = {}

    def slot(t):
        i = bisect.bisect_right(starts, t) - 1
        return out[i] if i >= 0 and t <= windows[i][1] else None

    for e in events:
        kind = e.get("Event")
        if kind == SQL_START:
            exec_start[e["executionId"]] = e["time"]
        elif kind == AQE_UPDATE:
            p = slot(exec_start.get(e["executionId"], -1))
            if p is not None:
                p.aqe_updates += 1
        elif kind == "SparkListenerJobStart":
            t = e["Submission Time"]
            p = slot(t)
            if p is not None:
                p.jobs += 1
                if p.first_job_ms is None or t < p.first_job_ms:
                    p.first_job_ms = t
        elif kind == "SparkListenerTaskEnd":
            p = slot(e["Task Info"]["Launch Time"])
            m = e.get("Task Metrics")
            if p is None or not m:
                continue
            p.tasks += 1
            p.task_run_s += m["Executor Run Time"] / 1e3
            p.task_cpu_s += m["Executor CPU Time"] / 1e9
            p.gc_s += m["JVM GC Time"] / 1e3
            p.input_mb += m["Input Metrics"]["Bytes Read"] / _MB
            p.shuffle_mb += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
            p.spill_mb += m["Disk Bytes Spilled"] / _MB
    return out
