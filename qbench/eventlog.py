"""Parse an uncompressed Spark event log into the benchmark's Spark metrics.

Two sources, both read by name so that a Spark upgrade which renames one
fails here loudly instead of reporting zeros:

- the ``MapInPandas`` plan node's SQL metrics (Python-worker time, Arrow
  bytes each way, output rows), mapped from accumulator ids announced in
  ``SparkListenerSQLExecutionStart`` / ``...SQLAdaptiveExecutionUpdate``
  to the per-task updates in ``SparkListenerTaskEnd``;
- each ``SparkListenerTaskEnd``'s task metrics (run and CPU time, GC,
  shuffle write, spill).

Only tasks launched and finished inside ``[t0_ms, t1_ms]`` (epoch ms) count,
so one pass of a longer session can be isolated.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

MAP_IN_PANDAS = "MapInPandas"
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_ROWS = "number of output rows"
PY_METRICS = (PY_RUN, PY_START, PY_INIT, PY_SENT, PY_RETURNED, PY_ROWS)
TASK_METRICS = (
    "Executor Run Time", "Executor CPU Time", "JVM GC Time",
    "Memory Bytes Spilled", "Disk Bytes Spilled", "Shuffle Write Metrics",
    "Input Metrics",
)
# SQL metric types → factor to seconds (timings) or 1 (sizes, counts)
_SCALE = {"nsTiming": 1e-9, "timing": 1e-3, "size": 1, "sum": 1, "average": 1}


class EventLogError(RuntimeError):
    """The log lacks an event field or metric name this parser relies on."""


def log_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``: rolling ``eventlog_v2_*/events_*``
    (the Spark 4 default layout) or single-file logs."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not os.path.basename(p).startswith(".")
    )


def _walk(node, out: dict) -> None:
    if MAP_IN_PANDAS in node["nodeName"]:
        names = {m["name"]: m for m in node["metrics"]}
        missing = [n for n in PY_METRICS if n not in names]
        if missing:
            raise EventLogError(f"{node['nodeName']} lacks SQL metrics {missing}")
        for name in PY_METRICS:
            m = names[name]
            out[m["accumulatorId"]] = (name, _SCALE.get(m["metricType"], 1))
    for child in node["children"]:
        _walk(child, out)


def parse(log_dir: str, t0_ms: float, t1_ms: float) -> dict:
    """Spark metrics of the tasks and jobs inside ``[t0_ms, t1_ms]``."""
    files = log_files(log_dir)
    if not files:
        raise EventLogError(f"no event log under {log_dir}")
    py_acc: dict[int, tuple[str, float]] = {}
    py = dict.fromkeys(PY_METRICS, 0.0)
    score_task_s: list[float] = []
    tot = {"jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "records_read": 0}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _walk(ev["sparkPlanInfo"], py_acc)
                elif kind == "SparkListenerJobStart":
                    tot["jobs"] += t0_ms <= ev["Submission Time"] <= t1_ms
                elif kind == "SparkListenerTaskEnd":
                    info = ev["Task Info"]
                    if not (t0_ms <= info["Launch Time"] and info["Finish Time"] <= t1_ms):
                        continue
                    try:
                        _task(ev, info, tot, py, py_acc, score_task_s)
                    except KeyError as e:
                        raise EventLogError(f"TaskEnd lacks {e}") from e
    skew = (max(score_task_s) / statistics.median(score_task_s)
            if score_task_s and statistics.median(score_task_s) > 0 else 0.0)
    return {
        **tot,
        "python_worker_s": py[PY_RUN],
        "python_worker_start_s": py[PY_START] + py[PY_INIT],
        "arrow_bytes_to_py": py[PY_SENT],
        "arrow_bytes_from_py": py[PY_RETURNED],
        "map_in_pandas_rows": py[PY_ROWS],
        "map_in_pandas_nodes_in_log": len(py_acc) // len(PY_METRICS),
        "score_task_skew": skew,
    }


def _task(ev, info, tot, py, py_acc, score_task_s) -> None:
    tm = ev["Task Metrics"]
    missing = [k for k in TASK_METRICS if k not in tm]
    if missing:
        raise EventLogError(f"TaskEnd Task Metrics lacks {missing}")
    tot["tasks"] += 1
    tot["run_s"] += tm["Executor Run Time"] / 1e3
    tot["cpu_s"] += tm["Executor CPU Time"] / 1e9
    tot["gc_s"] += tm["JVM GC Time"] / 1e3
    tot["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    tot["spill_bytes"] += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
    tot["records_read"] += tm["Input Metrics"]["Records Read"]
    scored = False
    for acc in info.get("Accumulables", []):
        hit = py_acc.get(acc["ID"])
        if hit is not None:
            name, scale = hit
            py[name] += float(acc["Update"]) * scale
            scored = True
    if scored:
        score_task_s.append(tm["Executor Run Time"] / 1e3)
