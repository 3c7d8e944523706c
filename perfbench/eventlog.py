"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

Stages are attributed to the job description that was set when they were
submitted (the benchmark sets it to the name of the innermost open span), so
every stage metric below belongs to one layer span.  Rows read by parquet
scans are found through the SQL plans the log records: a task's update to the
"number of output rows" metric of a ``Scan parquet`` node.  A plan that reads
a cached layer keeps the cached plan's scan node below its in-memory scan,
but that node's metric only moves when the cache is computed.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
# ms from the worker having the UDF ready to the task's last output row.  The
# "start" and "initialize" timings are left out: a reused worker stamps its
# boot time when it finishes the previous task, so they include idle time.
PY_RUN = "time to run Python workers"
SQL_PLAN_EVENTS = ("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                   "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate")
MB = 1024 * 1024


@dataclass
class StageStats:
    description: str | None
    tasks: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0
    python_run_ms: int = 0
    scan_rows: int = 0
    task_ms: list = field(default_factory=list)


def read_events(path: str):
    """Yield event dicts from one log file or a directory of log files."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    for fname in files:
        if os.path.basename(fname).startswith("."):
            continue
        with open(fname, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _scan_row_metrics(node: dict, out: set) -> None:
    """Accumulator ids of the output-row counts of parquet scans in a plan."""
    if node.get("nodeName", "").startswith("Scan parquet"):
        out.update(m["accumulatorId"] for m in node.get("metrics", [])
                   if m.get("name") == "number of output rows")
    for child in node.get("children", []):
        _scan_row_metrics(child, out)


def stage_stats(events) -> dict[int, StageStats]:
    """Per-stage task totals, keyed by stage id."""
    stages: dict[int, StageStats] = {}
    job_desc: dict[int, str | None] = {}
    scan_ids: set = set()
    for ev in events:
        kind = ev.get("Event")
        if kind in SQL_PLAN_EVENTS:
            _scan_row_metrics(ev.get("sparkPlanInfo") or {}, scan_ids)
        elif kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            for sid in ev.get("Stage IDs", []):
                job_desc.setdefault(sid, desc)
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            desc = (ev.get("Properties") or {}).get("spark.job.description",
                                                     job_desc.get(sid))
            stages.setdefault(sid, StageStats(desc))
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, StageStats(job_desc.get(sid)))
            tm = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            rd = tm.get("Shuffle Read Metrics") or {}
            wr = tm.get("Shuffle Write Metrics") or {}
            st.tasks += 1
            st.run_ms += tm.get("Executor Run Time", 0)
            st.cpu_ns += tm.get("Executor CPU Time", 0)
            st.gc_ms += tm.get("JVM GC Time", 0)
            st.shuffle_read_bytes += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            st.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
            st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
            if "Finish Time" in info and "Launch Time" in info:
                st.task_ms.append(info["Finish Time"] - info["Launch Time"])
            for acc in info.get("Accumulables", []):
                name, update = acc.get("Name"), int(acc.get("Update") or 0)
                if acc.get("ID") in scan_ids:
                    st.scan_rows += update
                elif name == PY_SENT:
                    st.py_sent_bytes += update
                elif name == PY_RETURNED:
                    st.py_returned_bytes += update
                elif name == PY_RUN:
                    st.python_run_ms += update
    return stages


def summarize(stages: list[StageStats], wall_s: float, cores: int) -> dict[str, float]:
    """Totals over a set of stages; ``skew`` is max/median task time of the
    stage with the most task time, ``cpu_util`` is cpu / (wall x cores)."""
    cpu_s = sum(s.cpu_ns for s in stages) / 1e9
    longest = max(stages, key=lambda s: s.run_ms, default=None)
    skew = 1.0
    if longest is not None and longest.task_ms:
        med = statistics.median(longest.task_ms)
        skew = max(longest.task_ms) / med if med > 0 else 1.0
    return {
        "run_s": sum(s.run_ms for s in stages) / 1e3,
        "cpu_s": cpu_s,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "shuffle_write_mb": sum(s.shuffle_write_bytes for s in stages) / MB,
        "shuffle_read_mb": sum(s.shuffle_read_bytes for s in stages) / MB,
        "spill_mb": sum(s.spill_bytes for s in stages) / MB,
        "tasks": float(sum(s.tasks for s in stages)),
        "skew": skew,
        "cpu_util": cpu_s / (wall_s * cores) if wall_s > 0 else 0.0,
        "to_python_mb": sum(s.py_sent_bytes for s in stages) / MB,
        "from_python_mb": sum(s.py_returned_bytes for s in stages) / MB,
        "python_run_s": sum(s.python_run_ms for s in stages) / 1e3,
        "scan_rows": float(sum(s.scan_rows for s in stages)),
    }


def by_description(stages: dict[int, StageStats]) -> dict[str, list[StageStats]]:
    out: dict[str, list[StageStats]] = {}
    for st in stages.values():
        if st.description is not None:
            out.setdefault(st.description, []).append(st)
    return out
