"""Per-layer metrics of a traced run, from spans plus the Spark event log.

Each traced repetition of a key yields one value per metric; the key's value
is the median over its traced repetitions, and the workload's value is the
sum over keys (the maximum for ``exec.peak_exec_mem_mb``), matching how
``warm_s`` is formed from the untraced repetitions.
"""

from __future__ import annotations

import statistics

from eventlog import EXEC_SUMS, PLAN_COUNTS, driver_gap_s, summarize
from spans import operator_modules

SPAN_METRICS = {
    # metric prefix -> span names folded into it
    "queries.build": ("queries.build",),
    "session.prep": ("session.prep",),
    "sources.io.table": ("sources.io.table",),
    "sources.connectors.read": (
        "sources.connectors.read",
        "sources.connectors.read_back",
    ),
    "sources.connectors.write": ("sources.connectors.write",),
    "parity.dsum": ("parity.dsum",),
    "exec.checkpoint": ("exec.checkpoint",),
}
MAXED = ("exec.peak_exec_mem_mb",)


def _rep_metrics(layer: dict, ev: dict, tag: tuple, op_names) -> dict:
    m = {}
    for prefix, names in SPAN_METRICS.items():
        m[f"{prefix}_s"] = sum(layer.get(f"{n}.s", 0.0) for n in names)
        m[f"{prefix}_calls"] = sum(layer.get(f"{n}.calls", 0) for n in names)
    for op in op_names:
        m[f"operators.{op}.s"] = layer.get(f"operators.{op}.s", 0.0)
        m[f"operators.{op}.calls"] = layer.get(f"operators.{op}.calls", 0)
    for name in (
        "sources.io.table_distinct",
        "sources.io.staged_mb",
        "exec.cache_mb",
        "catalyst.analysis_s",
        "catalyst.optimization_s",
        "catalyst.planning_s",
    ):
        m[name] = layer.get(name, 0.0)
    counters = ev["per_rep"].get(tag, {})
    for name in EXEC_SUMS + PLAN_COUNTS + MAXED:
        m[name] = counters.get(name, 0.0)
    wall = layer["wall"]
    m["wall_s"] = wall[1] - wall[0]
    m["exec.driver_gap_s"] = driver_gap_s(wall, ev["jobs"].get(tag, []))
    return m


def summarize_layers(res: dict, eventlog_dir: str) -> dict:
    ev = summarize(eventlog_dir)
    op_names = [m.__name__.rsplit(".", 1)[-1] for m in operator_modules()]
    totals: dict[str, float] = {}
    traced_s = warm_s = 0.0
    for key, rec in res["keys"].items():
        if rec["error"] or not rec["layers"]:
            continue
        rows = [
            _rep_metrics(layer, ev, (rep, key), op_names)
            for rep, layer in rec["layers"].items()
        ]
        for name in rows[0]:
            v = statistics.median(r[name] for r in rows)
            if name in MAXED:
                totals[name] = max(totals.get(name, 0.0), v)
            else:
                totals[name] = totals.get(name, 0.0) + v
        traced_s += statistics.median(rec["traced"])
        warm_s += statistics.median(rec["warm"])

    out = dict(totals)
    out["exec.checkpoints"] = out.pop("exec.checkpoint_calls", 0)
    out.pop("exec.checkpoint_s", None)
    distinct = out.pop("sources.io.table_distinct", 0)
    out["sources.io.table_repeat_ratio"] = (
        out.get("sources.io.table_calls", 0) / distinct if distinct else 0.0
    )
    empty = out.pop("exec.empty_tasks", 0)
    out["exec.empty_task_frac"] = empty / out["exec.tasks"] if out.get("exec.tasks") else 0.0
    out["registry.import_s"] = res["setup"]["registry.import_s"]
    out["session.get_spark_s"] = res["setup"]["session.get_spark_s"]
    out["exec.task_failures"] = ev["task_failures"]
    out["trace.warm_s"] = traced_s
    out["trace.overhead_s"] = traced_s - warm_s
    return out
