"""Spark event-log reader for the traced benchmark run.

Extends the task-metric parser of ``tools/scale_probe.py`` in three ways:

- every task is mapped stage -> job -> ``spark.jobGroup.id``, so the
  benchmark's spans (one job group each) get their own totals;
- each group carries executor CPU, input records, output bytes, shuffle
  read/write, spill, peak task memory and per-stage task durations (for
  max/median skew);
- scan-node SQL metrics are read from the plan events, which gives an
  exact count of the rows each input path was scanned for.

Needs ``spark.eventLog.compress=false`` (Spark 4 compresses by default).
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_MB = 1e6


@dataclass
class GroupStats:
    """Totals over the jobs of one job group."""

    jobs: int = 0
    executor_cpu_s: float = 0.0
    input_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_task_mem_bytes: int = 0
    # stage id -> task durations (ms)
    stage_task_ms: dict[int, list[int]] = field(default_factory=lambda: defaultdict(list))

    def add(self, other: "GroupStats") -> None:
        self.jobs += other.jobs
        self.executor_cpu_s += other.executor_cpu_s
        self.input_records += other.input_records
        self.output_bytes += other.output_bytes
        self.shuffle_read_bytes += other.shuffle_read_bytes
        self.shuffle_write_bytes += other.shuffle_write_bytes
        self.spill_bytes += other.spill_bytes
        self.peak_task_mem_bytes = max(self.peak_task_mem_bytes, other.peak_task_mem_bytes)
        for sid, ms in other.stage_task_ms.items():
            self.stage_task_ms[sid].extend(ms)

    def task_skew(self) -> float:
        """max / median task time of the stage with the most task time."""
        if not self.stage_task_ms:
            return 0.0
        ms = max(self.stage_task_ms.values(), key=sum)
        mid = median(ms)
        return max(ms) / mid if mid > 0 else 1.0

    def summary(self) -> dict[str, float]:
        return {
            "jobs": self.jobs,
            "cpu_s": self.executor_cpu_s,
            "input_records": self.input_records,
            "output_mb": self.output_bytes / _MB,
            "shuffle_mb": (self.shuffle_read_bytes + self.shuffle_write_bytes) / _MB,
            "spill_mb": self.spill_bytes / _MB,
            "peak_task_mem_mb": self.peak_task_mem_bytes / _MB,
        }


@dataclass
class EventLog:
    groups: dict[str | None, GroupStats]
    # job group -> {scan location: rows scanned}
    scan_rows: dict[str | None, dict[str, int]]


def _plan_scans(node: dict, out: list[tuple[str, int]]) -> None:
    """(location, "number of output rows" accumulator id) of every file
    scan node in a plan tree."""
    if node.get("nodeName", "").startswith("Scan "):
        location = (node.get("metadata") or {}).get("Location", "")
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.append((location, int(m["accumulatorId"])))
    for child in node.get("children", []):
        _plan_scans(child, out)


def _task_mem(info: dict, tm: dict) -> int:
    pm = int(tm.get("Peak Execution Memory", 0) or 0)
    if not pm:
        for acc in info.get("Accumulables", []):
            if acc.get("Name") == "internal.metrics.peakExecutionMemory":
                pm = int(acc.get("Update", 0) or 0)
    return pm


def read_event_log(evdir: str | Path) -> EventLog:
    """Parse every event-log file under ``evdir``."""
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    # scan accumulator -> (location, first execution listing it): a
    # persisted plan shows up again under every execution that reads it
    scan_acc: dict[int, tuple[str, int]] = {}
    acc_value: dict[int, int] = {}
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)

    for f in sorted(Path(evdir).rglob("*")):
        if not f.is_file():
            continue
        with open(f) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    groups[group].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), group)
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    tm = ev.get("Task Metrics") or {}
                    g = groups[stage_group.get(ev.get("Stage ID"))]
                    g.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                    g.input_records += (tm.get("Input Metrics") or {}).get("Records Read", 0)
                    g.output_bytes += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    g.shuffle_read_bytes += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                    g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g.spill_bytes += tm.get("Disk Bytes Spilled", 0)
                    g.peak_task_mem_bytes = max(g.peak_task_mem_bytes, _task_mem(info, tm))
                    g.stage_task_ms[ev.get("Stage ID")].append(
                        info.get("Finish Time", 0) - info.get("Launch Time", 0)
                    )
                    # SQL metric totals: the per-task updates sum to the
                    # accumulator's value, whichever job ran the task
                    for acc in info.get("Accumulables", []):
                        if "Update" in acc and acc.get("Metadata") == "sql":
                            try:
                                upd = int(acc["Update"])
                            except (TypeError, ValueError):
                                continue
                            acc_value[acc["ID"]] = acc_value.get(acc["ID"], 0) + upd
                elif kind in (_SQL_START, _SQL_AQE_UPDATE):
                    found: list[tuple[str, int]] = []
                    _plan_scans(ev.get("sparkPlanInfo") or {}, found)
                    for location, acc_id in found:
                        scan_acc.setdefault(acc_id, (location, int(ev["executionId"])))

    scan_rows: dict[str | None, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    for acc_id, (location, eid) in scan_acc.items():
        scan_rows[exec_group.get(eid)][location] += acc_value.get(acc_id, 0)
    return EventLog(groups=dict(groups), scan_rows={g: dict(v) for g, v in scan_rows.items()})
