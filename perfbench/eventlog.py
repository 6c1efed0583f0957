"""Fold Spark's offline event log into one record per job group.

The benchmark sets a job group per operation (``SparkContext.setJobGroup``),
so every task, stage and SQL metric can be charged to the operation that
caused it. The fold reads the uncompressed JSON-lines log that
``spark.eventLog.compress=false`` leaves and needs no UI and no network.

Per group it sums task metrics (``SparkListenerTaskEnd``) and the SQL node
metrics carried in each task's accumulables:

- executor run / CPU / GC time, task count, task-time skew;
- scan bytes (``size of files read``, a driver-side SQL metric charged
  through the SQL execution's job group); shuffle-write and spill bytes;
- bytes to and from Python workers and the Python worker init time;
- output rows of every join node, the numerator of candidates-per-match.

SQL metrics are accumulators: a task reports its own increment
(``Update``) and the stage's final value is the sum of those increments.
So every Python-worker time is a sum over tasks, and with 4 tasks running
at once it can exceed the stage's wall time. The init time has a second
trap: a reused worker (``spark.python.worker.reuse``, on by default)
stamps its boot time when it returns to wait for the next task, so the
idle gap before that task counts as initialisation. Summed init time can
therefore exceed even the summed executor run time. ``stage_values``
keeps the stage-final values so a test can pin both facts.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_INIT = "time to initialize Python workers"
FILES_READ = "size of files read"
OUTPUT_ROWS = "number of output rows"

_SQL_EXEC_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"


@dataclass
class Record:
    tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    scan_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_bytes_in: int = 0
    python_bytes_out: int = 0
    python_init_s: float = 0.0
    join_output_rows: int = 0
    # stage id -> executor run time (s) of each task, for skew
    task_run_s: dict[int, list[float]] = field(default_factory=lambda: defaultdict(list))
    # stage id -> {metric name: stage-final accumulator value}
    stage_values: dict[int, dict[str, float]] = field(default_factory=lambda: defaultdict(dict))

    @property
    def task_skew(self) -> float:
        """max/median task run time of the stage with the most task time."""
        stages = [ts for ts in self.task_run_s.values() if ts]
        if not stages:
            return 0.0
        heavy = max(stages, key=sum)
        med = statistics.median(heavy)
        return max(heavy) / med if med > 0 else 1.0


def _walk_plan(node: dict, metrics: dict[int, tuple[str, str, str]]) -> None:
    for m in node.get("metrics", ()):
        metrics[int(m["accumulatorId"])] = (node["nodeName"], m["name"], m["metricType"])
    for child in node.get("children", ()):
        _walk_plan(child, metrics)


def _seconds(value: float, metric_type: str) -> float:
    return value / 1e9 if metric_type == "nsTiming" else value / 1e3


def fold(path: Path) -> dict[str, Record]:
    """Records keyed by job group id (jobs without a group are dropped)."""
    events = [json.loads(line) for line in Path(path).read_text().splitlines() if line]

    # accumulator id -> (plan node, metric name, metric type), over the
    # initial plans and every adaptive re-plan
    sql_metrics: dict[int, tuple[str, str, str]] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    for ev in events:
        kind = ev["Event"]
        if kind in (_SQL_EXEC_START, _SQL_AQE_UPDATE):
            _walk_plan(ev["sparkPlanInfo"], sql_metrics)
            if ev.get("jobGroupId") is not None:
                exec_group[ev["executionId"]] = ev["jobGroupId"]
        elif kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group

    records: dict[str, Record] = defaultdict(Record)
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            rec = records[group]
            tm = ev.get("Task Metrics") or {}
            rec.tasks += 1
            run_s = tm.get("Executor Run Time", 0) / 1e3
            rec.executor_run_s += run_s
            rec.task_run_s[ev["Stage ID"]].append(run_s)
            rec.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            rec.gc_s += tm.get("JVM GC Time", 0) / 1e3
            rec.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            rec.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            for acc in ev["Task Info"].get("Accumulables", ()):
                meta = sql_metrics.get(int(acc["ID"]))
                if meta is None or "Update" not in acc:
                    continue
                node, name, mtype = meta
                update = float(acc["Update"])
                if name == PY_SENT:
                    rec.python_bytes_in += int(update)
                elif name == PY_RETURNED:
                    rec.python_bytes_out += int(update)
                elif name == PY_INIT:
                    rec.python_init_s += _seconds(update, mtype)
                elif name == OUTPUT_ROWS and "Join" in node:
                    rec.join_output_rows += int(update)
        elif kind == _DRIVER_ACCUMS:
            group = exec_group.get(ev["executionId"])
            for acc_id, value in ev["accumUpdates"] if group is not None else ():
                meta = sql_metrics.get(int(acc_id))
                if meta is not None and meta[1] == FILES_READ:
                    records[group].scan_bytes += int(value)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None:
                continue
            for acc in info.get("Accumulables", ()):
                meta = sql_metrics.get(int(acc["ID"]))
                if meta is not None and "Value" in acc:
                    value = float(acc["Value"])
                    if meta[2] in ("timing", "nsTiming"):
                        value = _seconds(value, meta[2])
                    records[group].stage_values[info["Stage ID"]][meta[1]] = value
    return dict(records)


def log_file(log_dir: Path, app_id: str) -> Path:
    """The finished (renamed) log of one application."""
    return Path(log_dir) / app_id
