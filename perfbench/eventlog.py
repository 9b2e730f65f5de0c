"""Reader for Spark's JSON event log (``spark.eventLog.enabled``; works with
``spark.ui.enabled=false``). Only the events the benchmark needs are kept:
job → stages and job description, per-task executor metrics, and each SQL
execution's physical plan text."""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass, field

SQL_EVENTS = ("org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
              # adaptive execution re-plans: the last update holds the plan
              # that actually ran
              "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate")
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "ArrowWindowPython")


@dataclass
class Job:
    id: int
    description: str | None
    execution_id: int | None
    stages: list[int]


@dataclass
class StageStats:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_run_s: list[float] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[Job]
    stages: dict[int, StageStats]
    plans: dict[int, str]      # SQL execution id → last physical plan text


def read(path: str) -> EventLog:
    jobs: list[Job] = []
    stages: dict[int, StageStats] = {}
    plans: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                xid = props.get("spark.sql.execution.id")
                jobs.append(Job(e["Job ID"], props.get("spark.job.description"),
                                int(xid) if xid is not None else None,
                                list(e["Stage IDs"])))
            elif kind == "SparkListenerTaskEnd":
                m = e.get("Task Metrics")
                if not m:
                    continue
                st = stages.setdefault(e["Stage ID"], StageStats())
                run = m["Executor Run Time"] / 1e3
                st.tasks += 1
                st.run_s += run
                st.cpu_s += m["Executor CPU Time"] / 1e9
                st.gc_s += m["JVM GC Time"] / 1e3
                st.input_bytes += m["Input Metrics"]["Bytes Read"]
                st.output_bytes += m["Output Metrics"]["Bytes Written"]
                st.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                st.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                st.task_run_s.append(run)
            elif kind in SQL_EVENTS:
                plans[e["executionId"]] = e.get("physicalPlanDescription") or ""
    return EventLog(jobs, stages, plans)


def totals(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Executor totals over the stages of ``jobs``. ``task_skew`` is the
    run-time-weighted mean over stages of (slowest task / mean task); 1.0
    means evenly spread work."""
    out = {"executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
           "tasks": 0, "input_bytes": 0, "output_bytes": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0}
    skew_w = skew_sum = 0.0
    seen: set[int] = set()
    for job in jobs:
        for sid in job.stages:
            st = log.stages.get(sid)
            if st is None or sid in seen:   # skipped stages never ran
                continue
            seen.add(sid)
            out["executor_run_s"] += st.run_s
            out["executor_cpu_s"] += st.cpu_s
            out["gc_s"] += st.gc_s
            out["tasks"] += st.tasks
            out["input_bytes"] += st.input_bytes
            out["output_bytes"] += st.output_bytes
            out["shuffle_write_bytes"] += st.shuffle_write_bytes
            out["spill_bytes"] += st.spill_bytes
            mean = statistics.fmean(st.task_run_s)
            if st.tasks >= 2 and mean > 0:
                skew_sum += st.run_s * max(st.task_run_s) / mean
                skew_w += st.run_s
    out["task_skew"] = skew_sum / skew_w if skew_w else 1.0
    return out


def _tree(plan: str) -> str:
    """The node tree of a formatted plan (above the first blank line),
    without an adaptive plan's ``Initial Plan`` half."""
    return plan.split("\n\n", 1)[0].split("== Initial Plan ==", 1)[0]


def scans(plan: str, path_fragment: str) -> int:
    """File scans in the plan that ran whose location mentions
    ``path_fragment``: scan nodes of the tree, looked up in the node
    details by their id."""
    details = {m.group(1): block for block in plan.split("\n\n")
               if (m := re.match(r"\((\d+)\) Scan parquet", block.strip()))}
    return sum(path_fragment in details.get(i, "")
               for i in re.findall(r"Scan parquet\s+\((\d+)\)", _tree(plan)))


def plan_health(plan: str) -> dict[str, int]:
    """Node counts of the plan that ran, from a formatted physical plan.
    Whole-stage codegen stages are the distinct ``codegen id`` values of the
    node details."""
    nodes = [re.sub(r"^[\s:+\-*]*", "", line).split(" ")[0]
             for line in _tree(plan).splitlines()[1:]]
    return {
        "codegen_stages": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        "python_nodes": sum(n in PYTHON_NODES for n in nodes),
        "broadcast_joins": sum(n.startswith("Broadcast") and n.endswith("Join")
                               for n in nodes),
        "exchanges": sum(n == "Exchange" for n in nodes),
    }
