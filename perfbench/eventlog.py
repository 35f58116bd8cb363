"""Reader for Spark's uncompressed, non-rolling JSON-lines event log.

Jobs, stages and tasks are attributed to the job group that was set
when they were submitted (``spark.jobGroup.id``); SQL executions are
attributed through the group of their jobs.  Times are in seconds and
sizes in bytes unless a field name says otherwise.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"

# SQL metric name -> GroupStats field; the timings are in milliseconds
ACCUMULABLES = {
    "time to start Python workers": "py_start_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to run Python workers": "py_run_ms",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_returned_bytes",
    "scan time": "scan_ms",
    "fetch wait time": "fetch_wait_ms",
}


@dataclass
class GroupStats:
    jobs: int = 0
    job_s: float = 0.0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0  # launch to finish, summed over tasks
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    peak_exec_mem_bytes: int = 0  # largest single task
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    py_tasks: int = 0
    py_input_records: int = 0
    py_start_ms: float = 0.0
    py_init_ms: float = 0.0
    py_run_ms: float = 0.0
    py_sent_bytes: float = 0.0
    py_returned_bytes: float = 0.0
    scan_ms: float = 0.0
    fetch_wait_ms: float = 0.0
    max_stage_skew: float = 0.0  # slowest / median task duration, worst stage
    sql_start: float | None = None  # earliest SQL execution start, epoch seconds
    stage_task_s: dict[int, list[float]] = field(default_factory=dict, repr=False)


def read(path: str) -> dict[str, GroupStats]:
    """Per job group statistics of one application's event log."""
    groups: dict[str, GroupStats] = {}
    job_start: dict[int, tuple[str, int]] = {}  # group, submission time in ms
    stage_group: dict[int, str] = {}
    exec_group: dict[str, str] = {}
    exec_start: dict[str, float] = {}

    def group(props: dict | None) -> str:
        return (props or {}).get("spark.jobGroup.id") or ""

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = group(ev.get("Properties"))
                job_start[ev["Job ID"]] = (g, ev["Submission Time"])
                exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                if exec_id is not None:
                    exec_group.setdefault(exec_id, g)
            elif kind == "SparkListenerJobEnd":
                g, t0_ms = job_start[ev["Job ID"]]
                st = groups.setdefault(g, GroupStats())
                st.jobs += 1
                st.job_s += (ev["Completion Time"] - t0_ms) / 1000
            elif kind == "SparkListenerStageSubmitted":
                stage_group[ev["Stage Info"]["Stage ID"]] = group(ev.get("Properties"))
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                groups.setdefault(stage_group.get(sid, ""), GroupStats()).stages += 1
            elif kind == "SparkListenerTaskEnd":
                _add_task(groups.setdefault(stage_group.get(ev["Stage ID"], ""), GroupStats()), ev)
            elif kind == SQL_START:
                exec_start[str(ev["executionId"])] = ev["time"] / 1000

    for exec_id, t in exec_start.items():
        st = groups.get(exec_group.get(exec_id, ""))
        if st is not None and (st.sql_start is None or t < st.sql_start):
            st.sql_start = t
    for st in groups.values():
        for durations in st.stage_task_s.values():
            med = statistics.median(durations)
            if med > 0:
                st.max_stage_skew = max(st.max_stage_skew, max(durations) / med)
    return groups


def _add_task(st: GroupStats, ev: dict) -> None:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    dur = (info["Finish Time"] - info["Launch Time"]) / 1000
    st.tasks += 1
    st.task_s += dur
    st.stage_task_s.setdefault(ev["Stage ID"], []).append(dur)
    st.run_s += m.get("Executor Run Time", 0) / 1000
    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
    st.gc_s += m.get("JVM GC Time", 0) / 1000
    st.peak_exec_mem_bytes = max(st.peak_exec_mem_bytes, m.get("Peak Execution Memory", 0))
    st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    sr = m.get("Shuffle Read Metrics", {})
    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
    out = m.get("Output Metrics", {})
    st.output_bytes += out.get("Bytes Written", 0)
    st.output_records += out.get("Records Written", 0)
    ran_python = False
    for acc in info.get("Accumulables", []):
        name = ACCUMULABLES.get(acc.get("Name"))
        if name is not None and "Update" in acc:
            setattr(st, name, getattr(st, name) + float(acc["Update"]))
            ran_python |= name == "py_sent_bytes"
    if ran_python:
        st.py_tasks += 1
        st.py_input_records += m.get("Input Metrics", {}).get("Records Read", 0)
