"""Spark event log reader for the traced run.

Jobs are attributed to a (rep, key) pair through the local properties the
worker sets before each build and write (``perfbench.rep``,
``perfbench.key``, ``perfbench.phase``); stages and tasks follow their job.
Plan shapes are counted by walking the last ``sparkPlanInfo`` tree Spark
logged for each SQL execution, which under AQE is the final plan.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict

MB = 1 << 20

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"

PLAN_COUNTS = (
    "catalyst.exchanges",
    "catalyst.broadcast_exchanges",
    "catalyst.sorts",
    "catalyst.python_evals",
    "catalyst.plan_nodes",
)

EXEC_SUMS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.empty_tasks",
    "exec.scheduler_delay_s",
    "exec.task_run_s",
    "exec.task_cpu_s",
    "exec.shuffle_read_mb",
    "exec.shuffle_write_mb",
    "exec.gc_s",
    "exec.spill_mb",
    "exec.output_mb",
    "queries.build_jobs",
    "queries.build_job_s",
)


def _plan_counts(node: dict, acc: dict) -> None:
    name = node.get("nodeName", "")
    acc["catalyst.plan_nodes"] += 1
    if name == "Exchange":
        acc["catalyst.exchanges"] += 1
    elif name == "BroadcastExchange":
        acc["catalyst.broadcast_exchanges"] += 1
    elif name == "Sort":
        acc["catalyst.sorts"] += 1
    if "Python" in name or "Pandas" in name or "Arrow" in name:
        acc["catalyst.python_evals"] += 1
    for child in node.get("children", ()):
        _plan_counts(child, acc)


def read_events(path: str):
    files = []
    for root, _dirs, names in os.walk(path):
        files += [os.path.join(root, n) for n in names if not n.startswith(".")]
    for f in sorted(files):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def summarize(path: str) -> dict:
    """Per (rep, key) execution counters plus run-wide task failures.

    Returns ``{"per_rep": {(rep, key): {metric: value}}, "jobs":
    {(rep, key): [(start_ms, end_ms)]}, "task_failures": n}``.
    """
    job_tag: dict[int, tuple] = {}
    job_phase: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    exec_tag: dict[int, tuple] = {}
    exec_plan: dict[int, dict] = {}
    per = defaultdict(lambda: defaultdict(float))
    intervals = defaultdict(list)
    task_failures = 0

    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            tag = (props.get("perfbench.rep"), props.get("perfbench.key"))
            job_tag[jid] = tag
            job_phase[jid] = props.get("perfbench.phase", "")
            job_start[jid] = ev.get("Submission Time", 0)
            for sid in ev.get("Stage IDs", ()):
                stage_job.setdefault(sid, jid)
            eid = props.get("spark.sql.execution.id")
            if eid is not None and tag[0] is not None:
                exec_tag.setdefault(int(eid), tag)
            per[tag]["exec.jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            tag = job_tag.get(jid)
            if tag is None:
                continue
            start, end = job_start[jid], ev.get("Completion Time", 0)
            intervals[tag].append((start, end))
            if job_phase[jid] == "build":
                per[tag]["queries.build_jobs"] += 1
                per[tag]["queries.build_job_s"] += (end - start) / 1000.0
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            tag = job_tag.get(stage_job.get(sid))
            if tag is not None:
                per[tag]["exec.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
            info = ev.get("Task Info") or {}
            if reason != "Success" or info.get("Failed"):
                task_failures += 1
            tag = job_tag.get(stage_job.get(ev.get("Stage ID")))
            if tag is None:
                continue
            _task(per[tag], info, ev.get("Task Metrics") or {})
        elif kind in (SQL_START, SQL_AQE):
            plan = ev.get("sparkPlanInfo")
            if plan is not None:
                exec_plan[int(ev["executionId"])] = plan

    for eid, tag in exec_tag.items():
        plan = exec_plan.get(eid)
        if plan is not None:
            acc = dict.fromkeys(PLAN_COUNTS, 0)
            _plan_counts(plan, acc)
            for k, v in acc.items():
                per[tag][k] += v
    return {
        "per_rep": {tag: dict(m) for tag, m in per.items()},
        "jobs": dict(intervals),
        "task_failures": task_failures,
    }


def _task(acc: dict, info: dict, m: dict) -> None:
    acc["exec.tasks"] += 1
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    shuffle_write = m.get("Shuffle Write Metrics") or {}
    records = (m.get("Input Metrics") or {}).get("Records Read", 0)
    records += shuffle_read.get("Total Records Read", 0)
    if records == 0:
        acc["exec.empty_tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead = (
        run_ms
        + m.get("Executor Deserialize Time", 0)
        + m.get("Result Serialization Time", 0)
        + info.get("Getting Result Time", 0)
    )
    acc["exec.scheduler_delay_s"] += max(0, duration - overhead) / 1000.0
    acc["exec.task_run_s"] += run_ms / 1000.0
    acc["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    acc["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    acc["exec.shuffle_read_mb"] += (
        shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0)
    ) / MB
    acc["exec.shuffle_write_mb"] += shuffle_write.get("Shuffle Bytes Written", 0) / MB
    acc["exec.spill_mb"] += (
        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    ) / MB
    acc["exec.output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
    peak = m.get("Peak Execution Memory", 0) / MB
    acc["exec.peak_exec_mem_mb"] = max(acc["exec.peak_exec_mem_mb"], peak)


def driver_gap_s(span: tuple[float, float], jobs: list[tuple[int, int]]) -> float:
    """Seconds of ``span`` (epoch s) not covered by any job interval (ms)."""
    lo, hi = span
    covered = 0.0
    cur_lo = cur_hi = None
    for s, e in sorted((max(lo, s / 1000.0), min(hi, e / 1000.0)) for s, e in jobs):
        if e <= s:
            continue
        if cur_hi is None or s > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = s, e
        else:
            cur_hi = max(cur_hi, e)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return max(0.0, (hi - lo) - covered)
