"""Per-layer tracing, recorded from outside the program.

Two sources, both used only by traced runs (``--trace 1``):

* ``Spans`` wraps public functions of the program's modules with
  timing spans (kept in memory).  Wrapping replaces the module
  attribute for the life of the run, so callers that resolve the name
  at call time (``lineage``, ``streaming``, ``jobs.curate_job``) go
  through the span.
* ``reduce_event_log`` reads the Spark event log that ``run.py``
  enables at launch.  The SQL plan records in it carry the executed
  plan of every query (adaptive updates included) with the accumulator
  id of each operator metric, and task-end records carry the metric
  updates, so operator metrics are summed per timed operation without
  any handle on the program's DataFrames.  Only jobs submitted inside
  a timed operation count.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import statistics
import time

#: executed-plan operators that run Python code
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "FlatMapGroupsInPandasWithState")
_PY_METRICS = {"time to start Python workers": "py_boot_s",
               "time to initialize Python workers": "py_init_s",
               "time to run Python workers": "py_total_s",
               "data sent to Python workers": "py_sent_mb",
               "data returned from Python workers": "py_received_mb",
               "number of output rows": "py_rows_received"}


class Spans:
    """In-memory spans ``(name, start, end)`` on the perf_counter clock."""

    def __init__(self):
        self.spans: list[tuple[str, float, float]] = []
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, name: str) -> None:
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.spans.append((name, t0, time.perf_counter()))

        self._undo.append((module, attr, fn))
        setattr(module, attr, spanned)

    def unwrap_all(self) -> None:
        for module, attr, fn in reversed(self._undo):
            setattr(module, attr, fn)
        self._undo.clear()

    def total(self, name: str, t0: float = float("-inf"),
              t1: float = float("inf")) -> float:
        """Summed duration of spans called ``name`` that start in
        [t0, t1).  Nested spans of the same name are not merged (the
        wrapped functions here do not call themselves)."""
        return sum(e - s for n, s, e in self.spans
                   if n == name and t0 <= s < t1)


def enable_event_log_args(log_dir: str) -> str:
    """spark-submit arguments that turn the event log on at launch."""
    return (f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            f"--conf spark.eventLog.compress=false pyspark-shell")


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"),
                                 recursive=True)
                       + glob.glob(os.path.join(log_dir, "local-*"))):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _plan_nodes(plan: dict, meta: dict, nodes: list) -> None:
    nodes.append(plan["nodeName"])
    for m in plan.get("metrics", ()):
        meta[m["accumulatorId"]] = (plan["nodeName"], m["name"],
                                    m["metricType"])
    for child in plan.get("children", ()):
        _plan_nodes(child, meta, nodes)


def reduce_event_log(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Operator and task metrics summed over jobs submitted inside the
    epoch-second ``windows`` (one per timed operation).

    Returns totals over all windows: Python-stage metrics, codegen
    pipeline time, task durations, GC time, shuffle bytes written, the
    most Python operators seen in one executed plan, and the planning
    gap (SQL execution start → its first job)."""
    win_ms = [(a * 1000, b * 1000) for a, b in windows]

    def in_window(t_ms: float) -> bool:
        return any(a <= t_ms <= b for a, b in win_ms)

    meta: dict[int, tuple] = {}
    final_plan: dict[int, list] = {}
    exec_start: dict[int, float] = {}
    exec_first_job: dict[int, float] = {}
    stage_counts: dict[int, bool] = {}
    tasks = []
    for ev in _events(log_dir):
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind in ("SparkListenerSQLExecutionStart",
                    "SparkListenerSQLAdaptiveExecutionUpdate"):
            nodes: list = []
            _plan_nodes(ev["sparkPlanInfo"], meta, nodes)
            final_plan[ev["executionId"]] = nodes
            if kind == "SparkListenerSQLExecutionStart":
                exec_start[ev["executionId"]] = ev["time"]
        elif kind == "SparkListenerJobStart":
            counted = in_window(ev["Submission Time"])
            for sid in ev["Stage IDs"]:
                stage_counts[sid] = counted
            eid = ev.get("Properties", {}).get("spark.sql.execution.id")
            if counted and eid is not None:
                eid = int(eid)
                exec_first_job.setdefault(eid, ev["Submission Time"])
        elif kind == "SparkListenerTaskEnd":
            if stage_counts.get(ev["Stage ID"]):
                tasks.append(ev)

    out = {v: 0.0 for v in _PY_METRICS.values()}
    out.update(py_tasks=0, codegen_s=0.0, gc_s=0.0, run_s=0.0,
               shuffle_mb=0.0, task_s=[])
    for ev in tasks:
        info = ev["Task Info"]
        tm = ev.get("Task Metrics") or {}
        out["task_s"].append((info["Finish Time"] - info["Launch Time"]) / 1000)
        out["gc_s"] += tm.get("JVM GC Time", 0) / 1000
        out["run_s"] += tm.get("Executor Run Time", 0) / 1000
        out["shuffle_mb"] += (tm.get("Shuffle Write Metrics", {})
                              .get("Shuffle Bytes Written", 0)) / 2**20
        python_task = False
        for acc in info.get("Accumulables", ()):
            node, metric, mtype = meta.get(acc["ID"], (None, None, None))
            if node is None:
                continue
            value = float(acc.get("Update") or 0)
            if node.startswith(PYTHON_NODES) and metric in _PY_METRICS:
                python_task = True
                key = _PY_METRICS[metric]
                scale = {"timing": 1e-3, "nsTiming": 1e-9,
                         "size": 1 / 2**20}.get(mtype, 1)
                out[key] += value * scale
            elif node.startswith("WholeStageCodegen") and metric == "duration":
                out["codegen_s"] += value / 1000
        out["py_tasks"] += python_task
    counted_execs = set(exec_first_job)
    out["py_stages"] = max(
        (sum(1 for n in final_plan.get(e, ()) if n.startswith(PYTHON_NODES))
         for e in counted_execs), default=0)
    out["plan_gap_s"] = sum((exec_first_job[e] - exec_start[e]) / 1000
                            for e in counted_execs if e in exec_start)
    out["task_s_p50"] = statistics.median(out["task_s"]) if out["task_s"] else 0.0
    out["task_s_max"] = max(out["task_s"], default=0.0)
    out["n_tasks"] = len(out.pop("task_s"))
    return out
