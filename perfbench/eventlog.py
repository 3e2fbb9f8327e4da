"""Reads a Spark event log (JSON lines) into per-stage records labelled
with the job group that ran them, and counts broadcast exchanges in the
final executed plan of each SQL execution."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
_SQL = "org.apache.spark.sql.execution.ui."


def _count_nodes(plan: dict, name: str) -> int:
    n = int(plan.get("nodeName", "") == name)
    return n + sum(_count_nodes(c, name) for c in plan.get("children", []))


def _new_stage() -> dict:
    return {
        "group": None,
        "task_ms": [],
        "run_ms": 0,
        "gc_ms": 0,
        "shuffle_write": 0,
        "shuffle_read": 0,
        "spill": 0,
        "out_bytes": 0,
        "out_records": 0,
        "py_sent": 0,
        "py_recv": 0,
    }


def parse(log_dir: str) -> dict:
    """{"stages": [stage records], "broadcasts": {group: count}}."""
    stages: dict[int, dict] = defaultdict(_new_stage)
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stages[sid]["group"] = group
                    if "spark.sql.execution.id" in props:
                        exec_group[int(props["spark.sql.execution.id"])] = group
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages[ev["Stage ID"]], ev)
                elif kind in (
                    _SQL + "SparkListenerSQLExecutionStart",
                    _SQL + "SparkListenerSQLAdaptiveExecutionUpdate",
                ):
                    # the last update of an execution is its final plan
                    exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
    broadcasts: dict[str, int] = defaultdict(int)
    for eid, plan in exec_plan.items():
        broadcasts[exec_group.get(eid)] += _count_nodes(plan, "BroadcastExchange")
    return {"stages": list(stages.values()), "broadcasts": dict(broadcasts)}


def _add_task(st: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    tm = ev.get("Task Metrics") or {}
    st["task_ms"].append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
    st["run_ms"] += tm.get("Executor Run Time", 0)
    st["gc_ms"] += tm.get("JVM GC Time", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    om = tm.get("Output Metrics") or {}
    st["out_bytes"] += om.get("Bytes Written", 0)
    st["out_records"] += om.get("Records Written", 0)
    for acc in info.get("Accumulables", []):
        if acc.get("Name") == PY_SENT:
            st["py_sent"] += int(acc.get("Update", 0))
        elif acc.get("Name") == PY_RECV:
            st["py_recv"] += int(acc.get("Update", 0))


def skew(task_ms: list[int]) -> float:
    """Max task time over median task time (1.0 for an even stage)."""
    if not task_ms:
        return 0.0
    s = sorted(task_ms)
    med = s[len(s) // 2]
    return s[-1] / med if med > 0 else 1.0


def group_totals(stages: list[dict], groups: set[str]) -> dict:
    """Sums over the stages of ``groups``."""
    sel = [s for s in stages if s["group"] in groups]
    tot = {k: sum(s[k] for s in sel) for k in _new_stage() if k not in ("group", "task_ms")}
    tot["stages"] = sel
    return tot
