"""Read Spark's event log and attribute its work to benchmark queries.

The benchmark runs one query at a time and records, for each, the wall
clock interval of every phase (build, collect, release). A job, stage
or SQL execution belongs to the phase whose interval holds its start
time. Attribution is by time, not by job description, because
Structured Streaming micro-batches run on their own thread under a
description Spark sets itself.
"""

from __future__ import annotations

import bisect
import json
from collections import defaultdict
from collections.abc import Iterable
from dataclasses import dataclass

from spans import covered

# Physical operators that run Python code in Spark's Python workers.
PYTHON_NODES = (
    "MapInArrow",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "BatchEvalPython",
)

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_WANTED = (
    "SparkListenerJobStart",
    "SparkListenerStageCompleted",
    "SparkListenerTaskEnd",
    _SQL_START,
    _AQE_UPDATE,
)

FIELDS = (
    "sql_executions",
    "jobs",
    "build_jobs",
    "stages",
    "tasks",
    "aqe_replans",
    "stage_s",
    "run_s",
    "cpu_s",
    "gc_s",
    "deser_s",
    "python_stage_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "input_mb",
    "spill_mb",
)

MB = 1e6


@dataclass(frozen=True)
class Window:
    """One phase of one query run, in epoch milliseconds (Spark's clock)."""

    query: str
    phase: str  # "build" | "collect" | "release"
    start_ms: float
    end_ms: float


class _Windows:
    def __init__(self, windows: list[Window]):
        self.windows = sorted(windows, key=lambda w: w.start_ms)
        self.starts = [w.start_ms for w in self.windows]

    def at(self, t_ms: float) -> Window | None:
        i = bisect.bisect_right(self.starts, t_ms) - 1
        if i >= 0 and t_ms < self.windows[i].end_ms:
            return self.windows[i]
        return None


def _events(lines: Iterable[str]):
    for line in lines:
        head = line[:120]
        if any(name in head for name in _WANTED):
            yield json.loads(line)


def parse(lines: Iterable[str], windows: list[Window]) -> dict[str, dict]:
    """Query name -> the :data:`FIELDS` summed over that query's windows.

    Events outside every window (session set-up, untraced passes) are
    ignored."""
    win = _Windows(windows)
    out: dict[str, dict] = defaultdict(lambda: dict.fromkeys(FIELDS, 0))
    exec_query: dict[int, str] = {}
    python_execs: set[int] = set()
    stage_exec: dict[int, int] = {}
    stage_query: dict[tuple[int, int], str] = {}
    stage_span: dict[tuple[int, int], tuple[float, float]] = {}

    def is_python(plan: str) -> bool:
        return any(node in plan for node in PYTHON_NODES)

    for e in _events(lines):
        ev = e["Event"]
        if ev == _SQL_START:
            w = win.at(e["time"])
            if w is not None:
                exec_query[e["executionId"]] = w.query
                out[w.query]["sql_executions"] += 1
            if is_python(e.get("physicalPlanDescription", "")):
                python_execs.add(e["executionId"])
        elif ev == _AQE_UPDATE:
            q = exec_query.get(e["executionId"])
            if q is not None:
                out[q]["aqe_replans"] += 1
            if is_python(e.get("physicalPlanDescription", "")):
                python_execs.add(e["executionId"])
        elif ev == "SparkListenerJobStart":
            exec_id = (e.get("Properties") or {}).get("spark.sql.execution.id")
            if exec_id is not None:
                for sid in e.get("Stage IDs", []):
                    stage_exec[sid] = int(exec_id)
            w = win.at(e["Submission Time"])
            if w is not None:
                out[w.query]["jobs"] += 1
                out[w.query]["build_jobs"] += w.phase == "build"
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            start, end = si.get("Submission Time"), si.get("Completion Time")
            if start is None or end is None:
                continue
            w = win.at(start)
            if w is not None:
                key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
                stage_query[key] = w.query
                stage_span[key] = (start / 1000.0, end / 1000.0)
                out[w.query]["stages"] += 1
        elif ev == "SparkListenerTaskEnd":
            # TaskEnd precedes its StageCompleted in the log, so tasks
            # are attributed by their own launch time.
            w = win.at((e.get("Task Info") or {}).get("Launch Time", -1))
            if w is None:
                continue
            r = out[w.query]
            tm = e.get("Task Metrics") or {}
            srm = tm.get("Shuffle Read Metrics") or {}
            r["tasks"] += 1
            r["run_s"] += tm.get("Executor Run Time", 0) / 1000.0
            r["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            r["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
            r["deser_s"] += tm.get("Executor Deserialize Time", 0) / 1000.0
            r["shuffle_read_mb"] += (
                srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
            ) / MB
            r["shuffle_write_mb"] += (
                (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            )
            r["input_mb"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            r["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / MB

    per_query_spans: dict[str, list] = defaultdict(list)
    per_query_python: dict[str, list] = defaultdict(list)
    for key, q in stage_query.items():
        per_query_spans[q].append(stage_span[key])
        if stage_exec.get(key[0]) in python_execs:
            per_query_python[q].append(stage_span[key])
    inf = float("inf")
    for q, r in out.items():
        r["stage_s"] = covered(per_query_spans[q], -inf, inf)
        r["python_stage_s"] = covered(per_query_python[q], -inf, inf)
    return dict(out)


def read(path: str, windows: list[Window]) -> dict[str, dict]:
    with open(path, encoding="utf-8") as fh:
        return parse(fh, windows)
