"""Fold a Spark event log into task metrics per job group.

The traced run turns the event log on (uncompressed, not rolled) and runs
each pipeline stage or ingest day under its own ``setJobGroup``. After the
session stops, :func:`fold` reads the log once and sums, per job group:
jobs, tasks, shuffle bytes written, disk spill, GC time, the task run times of each
Spark stage (for the skew ratio), and the files read by scans of
partitioned tables (from the SQL metric "number of files read" that a
scan posts when it lists its files, which shows whether partition
pruning held).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field


@dataclass
class Group:
    jobs: int = 0
    tasks: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    partitioned_files_read: int = 0
    stage_task_ms: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))

    @property
    def task_skew(self) -> float:
        """max / p50 task run time in the Spark stage with the most run time."""
        if not self.stage_task_ms:
            return 0.0
        runs = max(self.stage_task_ms.values(), key=sum)
        return max(runs) / max(statistics.median(runs), 1.0)


def log_file(log_dir: str, app_id: str) -> str:
    path = os.path.join(log_dir, app_id)
    if not os.path.isfile(path):
        raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
    return path


def _partitioned_scan_accums(plan: dict, out: set[int]) -> None:
    """Accumulator ids of "number of files read" on scans with partition filters."""
    meta = plan.get("metadata") or {}
    if plan.get("nodeName", "").startswith("Scan") and meta.get("PartitionFilters", "[]") != "[]":
        out.update(
            m["accumulatorId"] for m in plan.get("metrics", ()) if m["name"] == "number of files read"
        )
    for child in plan.get("children", ()):
        _partitioned_scan_accums(child, out)


def fold(path: str) -> dict[str, Group]:
    groups: dict[str, Group] = defaultdict(Group)
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    scan_accums: set[int] = set()
    accum_updates: list[tuple[int, int, int]] = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                name = props.get("spark.jobGroup.id") or ""
                groups[name].jobs += 1
                for sid in e["Stage IDs"]:
                    stage_group.setdefault(sid, name)
                if props.get("spark.sql.execution.id") is not None:
                    exec_group.setdefault(int(props["spark.sql.execution.id"]), name)
            elif kind == "SparkListenerTaskEnd":
                g = groups[stage_group.get(e["Stage ID"], "")]
                m = e.get("Task Metrics") or {}
                g.tasks += 1
                g.gc_ms += m.get("JVM GC Time", 0)
                g.spill_bytes += m.get("Disk Bytes Spilled", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                g.stage_task_ms[e["Stage ID"]].append(m.get("Executor Run Time", 0))
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                _partitioned_scan_accums(e["sparkPlanInfo"], scan_accums)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                accum_updates.extend((e["executionId"], a, v) for a, v in e["accumUpdates"])
    for exec_id, accum, value in accum_updates:
        if accum in scan_accums:
            groups[exec_group.get(exec_id, "")].partitioned_files_read += value
    return dict(groups)
