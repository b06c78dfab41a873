"""Reduce a Spark event log to per-call layer metrics.

A call is one span of the traced pass (harness.Spans); its Spark jobs carry
the call's id as their job group.  Per call this module reports the jobs and
tasks it ran, executor time, shuffle/spill/IO bytes from the task-end
metrics, and the JVM->Python hop from the SQL metrics of the Python exec
nodes (MapInPandas, ArrowEvalPython, ...): bytes and rows each way and the
time Python workers spent starting and running.  ``driver_gap_s`` is the
part of the call's wall time not covered by any of its jobs: planning,
collects and other driver-side work.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

# SQL metric name on a Python exec node -> counter it feeds
_PY_METRICS = {
    "data sent to Python workers": "python_bytes_in",
    "data returned from Python workers": "python_bytes_out",
    "number of output rows": "python_rows_out",
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "time to initialize Python workers": "python_start_ms",
}
_ROW_METRICS = ("number of output rows", "records read")

COUNTERS = (
    "jobs", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_s",
    "spill_bytes", "input_bytes", "output_bytes", "output_records",
    "python_bytes_in", "python_bytes_out", "python_rows_in",
    "python_rows_out", "python_run_s", "python_start_s",
)


def read_events(path: Path) -> list[dict]:
    """Events of one uncompressed, non-rolling application log."""
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _is_python_node(name: str) -> bool:
    return any(s in name for s in ("Python", "Pandas", "InArrow"))


def python_accumulators(events: list[dict]) -> dict[int, str]:
    """Accumulator id -> counter, for the Python exec nodes of every plan in
    the log, adaptive re-plans included.  Rows into Python are read off the
    nearest descendant that counts rows (an exchange read or a scan)."""
    acc: dict[int, str] = {}

    def rows_metric(node: dict) -> int | None:
        for m in node.get("metrics", []):
            if m["name"] in _ROW_METRICS:
                return m["accumulatorId"]
        return None

    def walk(node: dict) -> None:
        if _is_python_node(node["nodeName"]):
            for m in node.get("metrics", []):
                if m["name"] in _PY_METRICS:
                    acc[m["accumulatorId"]] = _PY_METRICS[m["name"]]
            child = node["children"][0] if node.get("children") else None
            while child is not None:
                rid = rows_metric(child)
                if rid is not None:
                    acc[rid] = "python_rows_in"
                    break
                child = child["children"][0] if child.get("children") else None
        for c in node.get("children", []):
            walk(c)

    for e in events:
        if "sparkPlanInfo" in e:
            walk(e["sparkPlanInfo"])
    return acc


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def reduce_calls(events: list[dict], calls) -> dict[str, dict[str, float]]:
    """Per call id: COUNTERS plus wall_s, job_s, driver_gap_s and
    task_max_over_median (max / median task run time of the call's
    busiest stage)."""
    wanted = {c.call_id: c for c in calls}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_span: dict[int, list[float]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g
            job_span[e["Job ID"]] = [e["Submission Time"] / 1000.0, None]
            for s in e["Stage IDs"]:
                stage_group[s] = g
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_span:
            job_span[e["Job ID"]][1] = e["Completion Time"] / 1000.0

    pyacc = python_accumulators(events)
    out = {cid: dict.fromkeys(COUNTERS, 0.0) for cid in wanted}
    stage_runs: dict[str, dict[int, list[float]]] = defaultdict(
        lambda: defaultdict(list))
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        cid = stage_group.get(e["Stage ID"])
        if cid not in out:
            continue
        o, tm = out[cid], e.get("Task Metrics") or {}
        sr = tm.get("Shuffle Read Metrics") or {}
        sw = tm.get("Shuffle Write Metrics") or {}
        o["tasks"] += 1
        o["exec_run_s"] += tm.get("Executor Run Time", 0) / 1e3
        o["exec_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        o["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        o["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        o["shuffle_read_bytes"] += (sr.get("Local Bytes Read", 0)
                                    + sr.get("Remote Bytes Read", 0))
        o["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
        o["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        o["input_bytes"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
        om = tm.get("Output Metrics") or {}
        o["output_bytes"] += om.get("Bytes Written", 0)
        o["output_records"] += om.get("Records Written", 0)
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            kind = pyacc.get(a.get("ID"))
            if kind is not None and a.get("Update") is not None:
                v = float(a["Update"])
                if kind.endswith("_ms"):
                    o[kind[:-3] + "_s"] += v / 1e3
                else:
                    o[kind] += v
        stage_runs[cid][e["Stage ID"]].append(tm.get("Executor Run Time", 0))

    for cid, call in wanted.items():
        o = out[cid]
        spans = [(a, b) for j, (a, b) in job_span.items()
                 if job_group.get(j) == cid and b is not None]
        o["jobs"] = float(sum(1 for j in job_group if job_group[j] == cid))
        o["wall_s"] = call.wall_s
        o["job_s"] = _covered(spans, call.start, call.end)
        o["driver_gap_s"] = max(call.wall_s - o["job_s"], 0.0)
        runs = stage_runs.get(cid)
        if runs:
            busiest = max(runs.values(), key=sum)
            med = statistics.median(busiest)
            o["task_max_over_median"] = max(busiest) / med if med > 0 else 1.0
        else:
            o["task_max_over_median"] = 0.0
    return out


def per_op(reduced: dict[str, dict[str, float]], calls) -> dict[str, dict]:
    """Median over the calls of each op, per metric, plus 'n' calls."""
    by_op: dict[str, list[dict]] = defaultdict(list)
    for c in calls:
        if c.call_id in reduced:
            by_op[c.op].append(reduced[c.call_id])
    out = {}
    for op, rows in by_op.items():
        keys = rows[0].keys()
        out[op] = {k: statistics.median(r[k] for r in rows) for k in keys}
        out[op]["n"] = len(rows)
    return out
