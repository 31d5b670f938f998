"""Spark event-log reader for traced runs.

Reads the JSON-lines log Spark writes with ``spark.eventLog.enabled`` and
returns one record per job: submission time, stage and task counts, and the
task metrics summed over the job's stages. Python-side work is read from the
SQL plan: the ``number of output rows`` of every Python/Pandas evaluation
node, and the executor run time of the stages that ran such a node.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

_PY_NODE_MARKERS = ("Python", "Pandas", "ArrowEval")


@dataclass
class Job:
    id: int
    submit_s: float
    stages: list[int] = field(default_factory=list)


@dataclass
class StageTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    python_rows: int = 0
    python_s: float = 0.0


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, StageTotals]


def log_files(directory: str) -> list[str]:
    """Every event-log file under ``directory`` (plain or rolling layout)."""
    out = []
    for root, _dirs, files in os.walk(directory):
        out.extend(os.path.join(root, f) for f in files if not f.startswith("appstatus"))
    return sorted(out)


def _python_accumulators(plan: dict, acc: set[int]) -> None:
    if any(m in plan.get("nodeName", "") for m in _PY_NODE_MARKERS):
        for metric in plan.get("metrics", []):
            if metric.get("name") == "number of output rows":
                acc.add(int(metric["accumulatorId"]))
    for child in plan.get("children", []):
        _python_accumulators(child, acc)


def parse(paths: list[str]) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[int, StageTotals] = {}
    py_acc: set[int] = set()
    for path in paths:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1000.0,
                        stages=[s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    )
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _python_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], StageTotals())
                    m = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.run_s += m.get("Executor Run Time", 0) / 1000.0
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    inp = m.get("Input Metrics") or {}
                    st.input_bytes += inp.get("Bytes Read", 0)
                    st.input_records += inp.get("Records Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1000.0
                    st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st.spill_bytes += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
                    rows = sum(
                        int(a.get("Update", 0) or 0)
                        for a in (ev.get("Task Info") or {}).get("Accumulables", [])
                        if int(a.get("ID", -1)) in py_acc and str(a.get("Update", "0")).lstrip("-").isdigit()
                    )
                    if rows:
                        st.python_rows += rows
                        st.python_s += m.get("Executor Run Time", 0) / 1000.0
    return EventLog(sorted(jobs.values(), key=lambda j: j.submit_s), stages)
