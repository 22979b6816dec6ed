"""Spark event-log parser: task, stage and SQL-plan metrics per job group.

The benchmark tags every operation with ``setJobGroup`` and runs its traced
session with ``spark.eventLog.enabled``. After the session stops, this
module reads the log once and folds every task into the job group that
launched its stage, so each operation's Spark work can be summed without a
listener inside the JVM.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

_SQL = "org.apache.spark.sql.execution.ui."
# node names whose Python metrics belong to the pandas-UDF (Arrow) tier
ARROW_EVAL_NODES = ("ArrowEvalPython",)


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0  # size of the files the scans read
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    arrow_bytes_sent: int = 0
    arrow_rows_returned: int = 0
    stage_task_ms: dict = field(default_factory=lambda: defaultdict(list))
    sql_plans: dict = field(default_factory=dict)

    def task_skews(self) -> list[float]:
        """max/median task duration of every stage with at least 2 tasks."""
        out = []
        for durs in self.stage_task_ms.values():
            if len(durs) >= 2:
                med = statistics.median(durs)
                out.append(max(durs) / med if med > 0 else 1.0)
        return out


def find_log(log_dir: str) -> str:
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".inprogress")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {paths}")
    return paths[0]


def _plan_metric_ids(plan: dict, out: dict) -> None:
    """accumulatorId -> (nodeName, metric name) over a sparkPlanInfo tree."""
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = (plan.get("nodeName", ""), m["name"])
    for child in plan.get("children", ()):
        _plan_metric_ids(child, out)


def parse(path: str) -> dict[str, GroupStats]:
    """Group id -> summed stats. Jobs without a group are keyed ``""``."""
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    metric_ids: dict[int, tuple[str, str]] = {}
    plans: dict[int, str] = {}
    driver_updates: list[tuple[int, int, int]] = []  # (execution, accumulator, value)
    tasks: list[dict] = []
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                groups[g].jobs += 1
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = g
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), g)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_ids(ev.get("sparkPlanInfo") or {}, metric_ids)
                if kind.endswith("ExecutionStart"):
                    plans[int(ev["executionId"])] = ev.get("physicalPlanDescription", "")
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                driver_updates.extend((int(ev["executionId"]), a, v) for a, v in ev["accumUpdates"])
    for eid, g in exec_group.items():
        if eid in plans:
            groups[g].sql_plans[eid] = plans[eid]
    # file scans report the bytes they cover on the driver
    for eid, aid, value in driver_updates:
        if metric_ids.get(aid, ("", ""))[1] == "size of files read" and eid in exec_group:
            groups[exec_group[eid]].input_bytes += value
    for ev in tasks:
        g = groups[stage_group.get(ev["Stage ID"], "")]
        info = ev.get("Task Info") or {}
        tm = ev.get("Task Metrics") or {}
        g.tasks += 1
        g.exec_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        g.gc_s += tm.get("JVM GC Time", 0) / 1e3
        g.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
        g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        g.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        if info.get("Finish Time") and info.get("Launch Time"):
            g.stage_task_ms[ev["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
        for acc in info.get("Accumulables", ()):
            node, name = metric_ids.get(acc.get("ID"), ("", ""))
            if node not in ARROW_EVAL_NODES:
                continue
            upd = acc.get("Update")
            if not isinstance(upd, (int, float)):
                try:
                    upd = int(upd)
                except (TypeError, ValueError):
                    continue
            if name == "data sent to Python workers":
                g.arrow_bytes_sent += upd
            elif name == "number of output rows":
                g.arrow_rows_returned += upd
    return dict(groups)
