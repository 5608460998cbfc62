"""Reader for Spark's JSON event log (stdlib ``json`` only).

Spark writes one JSON object per line. This module keeps the events that
carry per-layer numbers:

* ``SparkListenerJobStart``: job -> stage ids and the job's local
  properties (the benchmark tags each timed action with ``perfbench.phase``);
* ``SparkListenerSQLExecutionStart`` / ``SparkListenerSQLAdaptiveExecutionUpdate``:
  the physical plan, whose nodes name the SQL metric accumulators;
* ``SparkListenerStageCompleted``: per-stage task count and the final
  value of every accumulator the stage updated;
* ``SparkListenerTaskEnd``: task run times, GC time and failures.

:func:`layer_counters` folds those into the benchmark's per-layer names.
"""

from __future__ import annotations

import json
import statistics
from dataclasses import dataclass, field
from pathlib import Path

PHASE_PROPERTY = "perfbench.phase"

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


@dataclass
class Stage:
    tasks: int = 0
    failed_tasks: int = 0
    accums: dict[int, float] = field(default_factory=dict)  # SQL metric accumulator id -> value
    gc_ms: float = 0.0
    task_run_ms: list[float] = field(default_factory=list)
    has_shuffle_read: bool = False


@dataclass
class EventLog:
    jobs: dict[int, tuple[str | None, list[int]]] = field(default_factory=dict)
    stages: dict[int, Stage] = field(default_factory=dict)
    # accumulator id -> (plan node name, metric name)
    metric_nodes: dict[int, tuple[str, str]] = field(default_factory=dict)

    def phase_stages(self, phase_prefix: str) -> list[Stage]:
        """Completed stages of jobs whose phase starts with ``phase_prefix``."""
        ids = {
            s
            for ph, stage_ids in self.jobs.values()
            if ph is not None and ph.startswith(phase_prefix)
            for s in stage_ids
        }
        return [self.stages[s] for s in sorted(ids) if s in self.stages]

    def phase_jobs(self, phase_prefix: str) -> int:
        return sum(1 for ph, _ in self.jobs.values() if ph is not None and ph.startswith(phase_prefix))


def _walk_plan(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (node["nodeName"], m["name"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(path: Path) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                log.jobs[e["Job ID"]] = (props.get(PHASE_PROPERTY), list(e["Stage IDs"]))
            elif kind in (_SQL_START, _SQL_AQE):
                _walk_plan(e["sparkPlanInfo"], log.metric_nodes)
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                st = log.stages.setdefault(info["Stage ID"], Stage())
                st.tasks = info["Number of Tasks"]
                for a in info.get("Accumulables", []):
                    name = a.get("Name") or ""
                    if name == "internal.metrics.jvmGCTime":
                        st.gc_ms = _num(a.get("Value"))
                    elif not name.startswith("internal.metrics."):
                        st.accums[a["ID"]] = _num(a.get("Value"))
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.setdefault(e["Stage ID"], Stage())
                info = e["Task Info"]
                if info.get("Failed") or e["Task End Reason"].get("Reason") != "Success":
                    st.failed_tasks += 1
                metrics = e.get("Task Metrics") or {}
                st.task_run_ms.append(metrics.get("Executor Run Time", 0))
                reads = metrics.get("Shuffle Read Metrics") or {}
                if reads.get("Local Blocks Fetched", 0) or reads.get("Remote Blocks Fetched", 0):
                    st.has_shuffle_read = True
    return log


def node_metric(log: EventLog, stages: list[Stage], node_prefix: str, metric: str) -> float:
    """Sum of ``metric`` over plan nodes whose name starts with ``node_prefix``."""
    total = 0.0
    for st in stages:
        for acc, v in st.accums.items():
            node, name = log.metric_nodes.get(acc, ("", ""))
            if name == metric and node.startswith(node_prefix):
                total += v
    return total


def _stage_has_node(log: EventLog, st: Stage, node_prefix: str) -> bool:
    return any(log.metric_nodes.get(a, ("",))[0].startswith(node_prefix) for a in st.accums)


def layer_counters(log: EventLog, phase_prefix: str, operations: int) -> dict[str, float]:
    """Per-operation layer counters for the jobs tagged ``phase_prefix``.

    Sums are divided by ``operations`` so runs of different lengths compare.
    Python worker time of the source (``MapInPandas``, the Avro decode) and
    of the token UDF (``ArrowEvalPython``) are reported separately. The
    route stage is the post-shuffle stage that reads the bucket exchange.
    """
    stages = log.phase_stages(phase_prefix)
    ops = max(operations, 1)

    def per_op(node: str, metric: str, scale: float = 1.0) -> float:
        return node_metric(log, stages, node, metric) * scale / ops

    scan_stages = [s for s in stages if _stage_has_node(log, s, "Scan") or _stage_has_node(log, s, "MapInPandas")]
    reduce_stages = [s for s in stages if s.has_shuffle_read and _stage_has_node(log, s, "Sort")]
    reduce_runs = [t / 1000 for s in reduce_stages for t in s.task_run_ms]
    return {
        "sources.python_s": per_op("MapInPandas", "time to run Python workers", 1e-3),
        "sources.tasks": sum(s.tasks for s in scan_stages) / ops,
        # file scans plus the Avro decode's output; an RDD-backed scan (the
        # decode's split list, a foreachBatch micro-batch) re-counts rows
        "sources.rows": per_op("Scan", "number of output rows")
        - per_op("Scan ExistingRDD", "number of output rows")
        + per_op("MapInPandas", "number of output rows"),
        "token.python_s": per_op("ArrowEvalPython", "time to run Python workers", 1e-3),
        "token.bytes_to_python": per_op("ArrowEvalPython", "data sent to Python workers"),
        "token.bytes_from_python": per_op("ArrowEvalPython", "data returned from Python workers"),
        "route.shuffle_write_bytes": per_op("Exchange", "shuffle bytes written"),
        "route.shuffle_records": per_op("Exchange", "shuffle records written"),
        "route.fetch_wait_s": per_op("Exchange", "fetch wait time", 1e-3),
        "route.sort_s": per_op("Sort", "sort time", 1e-3),
        "route.spill_bytes": per_op("Sort", "spill size"),
        "route.reduce_tasks": sum(s.tasks for s in reduce_stages) / ops,
        "route.task_max_s": max(reduce_runs, default=0.0),
        "route.task_p50_s": statistics.median(reduce_runs) if reduce_runs else 0.0,
        "spark.jobs": log.phase_jobs(phase_prefix) / ops,
        "spark.stages": len(stages) / ops,
        "spark.tasks": sum(s.tasks for s in stages) / ops,
        "spark.failed_tasks": sum(s.failed_tasks for s in stages) / ops,
        "spark.widest_stage_tasks": max((s.tasks for s in stages), default=0),
        "spark.python_s": per_op("", "time to run Python workers", 1e-3),
        "spark.gc_s": sum(s.gc_ms for s in stages) / 1000 / ops,
    }
