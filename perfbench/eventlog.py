"""Spark event-log parser: task metrics summed per job-group label.

The benchmark sets the Spark job group to ``"<label>|<op>[|<detail>]"``
around each call it traces. This module reads the event log Spark
writes (a plain file, or a rolling ``eventlog_v2_*`` directory of
``events_<n>_*`` files) and sums, per ``(label, op)``:

- jobs, completed stages and finished tasks, and the tasks of stages
  that scan a JDBC source;
- executor run, CPU and GC time, scheduler delay (as the Spark UI
  computes it), spilled bytes, shuffle bytes written, output bytes, and
  the records each writing task wrote (for skew);
- ``input_bytes``: the "size of files read" that file-scan operators
  report on the driver, attributed through the SQL execution id of the
  group's jobs.

Task-level ``Input Metrics / Bytes Read`` undercounts on the vectorized
parquet path (a full read of a 2.7 MB file reports about 1.5 KB, and
``tpch_q1`` read back 0), so it is not read at all.

Jobs outside any group are summed under the label ``"unlabelled"``.
"""

from __future__ import annotations

import json
import os
from collections import defaultdict
from dataclasses import dataclass, field

UNLABELLED = "unlabelled"
_SQL = "org.apache.spark.sql.execution.ui."


@dataclass
class GroupMetrics:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0
    input_bytes: int = 0
    # tasks of stages that scan a JDBC source (one per read predicate)
    jdbc_tasks: int = 0
    # records written by each task, per stage
    written_per_stage: dict[int, list[int]] = field(default_factory=dict)

    def task_skew(self) -> float:
        """max/mean records written per task, worst over the stages
        that wrote output; 0.0 when nothing was written."""
        worst = 0.0
        for per_task in self.written_per_stage.values():
            mean = sum(per_task) / len(per_task)
            if mean > 0:
                worst = max(worst, max(per_task) / mean)
        return worst


def split_group(group: str | None) -> tuple[str, str]:
    """``"label|op|detail"`` -> ``(label, op)``; no group -> unlabelled."""
    if not group:
        return UNLABELLED, ""
    parts = group.split("|")
    return parts[0], parts[1] if len(parts) > 1 else ""


def event_files(path: str) -> list[str]:
    """Event files of one application log, in write order."""
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n)
            for n in sorted(names, key=lambda n: int(n.split("_")[1]))]


def app_logs(log_dir: str) -> list[str]:
    """Application logs (files or rolling directories) under ``log_dir``."""
    return sorted(os.path.join(log_dir, n) for n in os.listdir(log_dir)
                  if not n.startswith("."))


def _file_size_accums(plan: dict, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == "size of files read":
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _file_size_accums(child, out)


def parse(path: str) -> dict[tuple[str, str], GroupMetrics]:
    """Per ``(label, op)`` metrics of one application's event log."""
    out: dict[tuple[str, str], GroupMetrics] = defaultdict(GroupMetrics)
    stage_key: dict[int, tuple[str, str]] = {}
    exec_key: dict[int, tuple[str, str]] = {}
    size_accums: set[int] = set()
    jdbc_stages: set[int] = set()
    accum_value: dict[tuple[int, int], int] = {}
    for fname in event_files(path):
        with open(fname) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    key = split_group(props.get("spark.jobGroup.id"))
                    out[key].jobs += 1
                    for sid in e["Stage IDs"]:
                        stage_key.setdefault(sid, key)
                    exec_id = props.get("spark.sql.execution.id")
                    if exec_id is not None:
                        exec_key.setdefault(int(exec_id), key)
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    if any(r.get("Name") == "JDBCRDD" for r in info.get("RDD Info", [])):
                        jdbc_stages.add(info["Stage ID"])
                elif kind == "SparkListenerStageCompleted":
                    sid = e["Stage Info"]["Stage ID"]
                    out[stage_key.get(sid, (UNLABELLED, ""))].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    m = out[stage_key.get(e["Stage ID"], (UNLABELLED, ""))]
                    _add_task(m, e)
                    m.jdbc_tasks += e["Stage ID"] in jdbc_stages
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    _file_size_accums(e["sparkPlanInfo"], size_accums)
                elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                    for acc, value in e["accumUpdates"]:
                        accum_value[(e["executionId"], acc)] = value
    for (exec_id, acc), value in accum_value.items():
        if acc in size_accums:
            out[exec_key.get(exec_id, (UNLABELLED, ""))].input_bytes += int(value)
    return dict(out)


def _add_task(m: GroupMetrics, e: dict) -> None:
    info, tm = e["Task Info"], e.get("Task Metrics")
    m.tasks += 1
    if not tm:
        return
    run_ms = tm["Executor Run Time"]
    m.executor_run_s += run_ms / 1e3
    m.executor_cpu_s += tm["Executor CPU Time"] / 1e9
    m.gc_s += tm["JVM GC Time"] / 1e3
    getting = info["Finish Time"] - info["Getting Result Time"] if info["Getting Result Time"] else 0
    delay = (info["Finish Time"] - info["Launch Time"] - run_ms
             - tm["Executor Deserialize Time"] - tm["Result Serialization Time"] - getting)
    m.scheduler_delay_s += max(0, delay) / 1e3
    m.spill_bytes += tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"]
    m.shuffle_write_bytes += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    out = tm["Output Metrics"]
    m.output_bytes += out["Bytes Written"]
    m.written_per_stage.setdefault(e["Stage ID"], []).append(out["Records Written"])
