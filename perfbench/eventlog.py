"""Spark event-log reader: per-job-group stage intervals and task metrics.

Each stage is attributed to the job group in its submission properties,
which is the id of the innermost span open when its job was submitted
(``Tracer.span`` sets it).  Python-worker traffic comes from the SQL
metrics ``data sent to Python workers`` / ``data returned from Python
workers`` in the task-end accumulables.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class StageStats:
    group: str | None
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    fetch_wait_s: float = 0.0
    spill_b: int = 0
    peak_mem_b: int = 0
    py_sent_b: int = 0
    py_recv_b: int = 0


def event_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir``, in write
    order (plain files, or the parts of a rolling ``eventlog_v2_*`` dir)."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            parts.sort(key=lambda p: int(p.split("_")[1]))
            out.extend(os.path.join(path, p) for p in parts)
        else:
            out.append(path)
    return out


def _accum(task_info: dict, name: str) -> int:
    total = 0
    for acc in task_info.get("Accumulables", ()):
        if acc.get("Name") == name:
            try:
                total += int(acc.get("Update", 0))
            except (TypeError, ValueError):
                pass
    return total


def read_log(log_dir: str) -> tuple[dict[tuple, StageStats], dict[tuple, str | None]]:
    """Stages keyed (app file, stage id, attempt), and the job group of
    every job keyed (app file, job id)."""
    stages: dict[tuple, StageStats] = {}
    jobs: dict[tuple, str | None] = {}
    for path in event_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[(path, ev["Job ID"])] = props.get("spark.jobGroup.id")
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    key = (path, info["Stage ID"], info.get("Stage Attempt ID", 0))
                    props = ev.get("Properties") or {}
                    stages[key] = StageStats(group=props.get("spark.jobGroup.id"))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (path, info["Stage ID"], info.get("Stage Attempt ID", 0))
                    st = stages.setdefault(key, StageStats(group=None))
                    st.start = info.get("Submission Time", 0) / 1000.0
                    st.end = info.get("Completion Time", 0) / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    key = (path, ev["Stage ID"], ev.get("Stage Attempt ID", 0))
                    st = stages.setdefault(key, StageStats(group=None))
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    info = ev.get("Task Info") or {}
                    st.tasks += 1
                    st.run_s += m.get("Executor Run Time", 0) / 1000.0
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    st.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000.0
                    st.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                    st.spill_b += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    st.peak_mem_b = max(st.peak_mem_b, m.get("Peak Execution Memory", 0))
                    st.py_sent_b += _accum(info, PY_SENT)
                    st.py_recv_b += _accum(info, PY_RECV)
    return stages, jobs
