"""Fold a Spark event log into per-op totals.

Every op runs under its own job group, so ``spark.jobGroup.id`` on a
job start attributes the job, its stages and its tasks to the op; the
``spark.sql.execution.id`` on the same event attributes the SQL
execution. Scan metrics come from the executions' plan infos
("number of partitions read", "number of files read", "size of files
read" are driver-side accumulators; "number of output rows" is summed
from task accumulables).
"""

from __future__ import annotations

import json
import re
from collections import defaultdict

SCAN_METRICS = {
    "number of partitions read": "partitions",
    "number of files read": "files",
    "size of files read": "bytes",
    "number of output rows": "rows",
}
_SCHEME = re.compile(r"/ratings_(range|rr|hash)\b|/ratings/(base)\b")


def _scheme(location: str) -> str:
    m = _SCHEME.search(location)
    return (m.group(1) or m.group(2)) if m else "other"


def _walk(node, out: list) -> None:
    if node.get("nodeName", "").startswith("Scan"):
        out.append(node)
    for c in node.get("children", []):
        _walk(c, out)


class OpTotals:
    def __init__(self):
        self.jobs = 0
        self.tasks = 0
        self.run_ms = 0
        self.cpu_ms = 0.0
        self.shuffle_bytes = 0
        #: scheme -> metric -> value, over the op's file scans
        self.scans: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))


def fold(path: str) -> dict[str, OpTotals]:
    ops: dict[str, OpTotals] = defaultdict(OpTotals)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    # accumulator id -> (execution id, scheme, metric)
    scan_acc: dict[int, tuple[int, str, str]] = {}
    acc_value: dict[int, float] = defaultdict(float)
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            kind = e["Event"].rsplit(".", 1)[-1]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                ops[group].jobs += 1
                for sid in e["Stage IDs"]:
                    stage_group[sid] = group
                if "spark.sql.execution.id" in props:
                    exec_group[int(props["spark.sql.execution.id"])] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(e["Stage ID"])
                if group is None:
                    continue
                t = ops[group]
                m = e.get("Task Metrics") or {}
                t.tasks += 1
                t.run_ms += m.get("Executor Run Time", 0)
                t.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                t.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("ID") in scan_acc and "Update" in acc:
                        acc_value[acc["ID"]] += float(acc["Update"])
            elif kind in ("SparkListenerSQLExecutionStart",
                          "SparkListenerSQLAdaptiveExecutionUpdate"):
                scans: list = []
                _walk(e["sparkPlanInfo"], scans)
                for node in scans:
                    scheme = _scheme((node.get("metadata") or {}).get("Location", ""))
                    for met in node.get("metrics", []):
                        if met["name"] in SCAN_METRICS:
                            scan_acc[met["accumulatorId"]] = (
                                e["executionId"], scheme, SCAN_METRICS[met["name"]]
                            )
            elif kind == "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    if acc_id in scan_acc:
                        acc_value[acc_id] = float(value)
    for acc_id, (exec_id, scheme, metric) in scan_acc.items():
        group = exec_group.get(exec_id)
        if group is not None:
            ops[group].scans[scheme][metric] += acc_value.get(acc_id, 0.0)
    return dict(ops)
