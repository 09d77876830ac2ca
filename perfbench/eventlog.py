"""Parser for Spark's uncompressed JSON event log.

Maps every stage to the job group of the job that ran it (the tracer's
``<run_id>|<iteration>|<span id>|<layer>`` tags), and sums per stage
the task metrics (run, CPU and GC time, shuffle, spill) and the SQL
metrics (Python worker time and bytes, aggregation build, scan time,
join output rows).  Standard library only.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

_JOIN_NODES = (
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)


@dataclass
class Stage:
    stage_id: int
    group: str | None = None
    submit_ms: int | None = None
    complete_ms: int | None = None
    task_ms: list = field(default_factory=list)
    metrics: dict = field(default_factory=dict)  # engine metric -> sum over tasks
    accums: dict = field(default_factory=dict)  # accumulator id -> sum of task updates


@dataclass
class EventLog:
    stages: dict  # stage id -> Stage
    jobs: dict  # job id -> group
    acc_info: dict  # accumulator id -> (node name, node string, metric name)

    def select(self, pred) -> list[Stage]:
        """Completed stages whose job group satisfies ``pred(group)``."""
        return [
            s for s in self.stages.values()
            if s.complete_ms is not None and s.group is not None and pred(s.group)
        ]

    def sql_sum(self, stages, metric: str) -> float:
        return sum(
            v for s in stages for a, v in s.accums.items()
            if a in self.acc_info and self.acc_info[a][2] == metric
        )

    def _is_join(self, acc: int, key_hint: str | None) -> bool:
        node, desc, metric = self.acc_info.get(acc, ("", "", ""))
        return (
            node in _JOIN_NODES
            and metric == "number of output rows"
            and ("Inner" in desc or "Cross" in desc or node == "CartesianProduct")
            and (key_hint is None or key_hint in desc)
        )

    def with_join(self, stages, key_hint: str) -> list[Stage]:
        """The stages that ran an inner join whose node mentions ``key_hint``."""
        return [s for s in stages if any(self._is_join(a, key_hint) for a in s.accums)]

    def join_rows(self, stages, key_hint: str | None = None) -> int:
        """Output rows of inner/cross join nodes (optionally only joins
        whose node string mentions ``key_hint``, e.g. a join key)."""
        return int(sum(
            v for s in stages for a, v in s.accums.items() if self._is_join(a, key_hint)
        ))


def _walk_plan(info: dict, out: dict) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = (info["nodeName"], info.get("simpleString", ""), m["name"])
    for c in info.get("children", ()):
        _walk_plan(c, out)


def _task_metrics(tm: dict) -> dict:
    sr = tm.get("Shuffle Read Metrics", {})
    sw = tm.get("Shuffle Write Metrics", {})
    return {
        "run_ms": tm.get("Executor Run Time", 0),
        "cpu_ns": tm.get("Executor CPU Time", 0),
        "gc_ms": tm.get("JVM GC Time", 0),
        "spill_bytes": tm.get("Disk Bytes Spilled", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "fetch_wait_ms": sr.get("Fetch Wait Time", 0),
    }


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir`` (plain files or v2 rolling dirs)."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        out += [
            os.path.join(root, f) for f in sorted(files)
            if not f.startswith(".") and not f.startswith("appstatus")
        ]
    return out


def parse(paths) -> EventLog:
    stages: dict[int, Stage] = {}
    jobs: dict[int, str | None] = {}
    acc_info: dict[int, tuple] = {}
    for path in [paths] if isinstance(paths, str) else paths:
        with open(path) as fh:
            for line in fh:
                try:
                    e = json.loads(line)
                except json.JSONDecodeError:  # a torn last line of a live log
                    continue
                kind = e.get("Event", "")
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    jobs[e["Job ID"]] = group
                    for sid in e.get("Stage IDs", ()):
                        stages.setdefault(sid, Stage(sid)).group = group
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
                    st.submit_ms = info.get("Submission Time")
                    st.complete_ms = info.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
                    ti = e.get("Task Info", {})
                    st.task_ms.append(ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
                    for k, v in _task_metrics(e.get("Task Metrics") or {}).items():
                        st.metrics[k] = st.metrics.get(k, 0) + v
                    for a in ti.get("Accumulables", ()):
                        try:
                            v = float(a.get("Update", 0))
                        except (TypeError, ValueError):
                            continue
                        st.accums[a["ID"]] = st.accums.get(a["ID"], 0.0) + v
                elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"
                ):
                    _walk_plan(e.get("sparkPlanInfo", {}), acc_info)
    return EventLog(stages, jobs, acc_info)


def union_s(intervals) -> float:
    """Length of the union of (start, end) intervals, in their unit."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def engine_metrics(log: EventLog, stages, wall_window=None) -> dict:
    """Engine-level metrics over ``stages``.  With ``wall_window`` =
    (start_s, end_s) also ``driver_only_s``: the window's length minus
    the union of the stages' submit..complete spans inside it."""
    def tot(k):
        return sum(s.metrics.get(k, 0) for s in stages)

    out = {
        "exec.run_s": tot("run_ms") / 1e3,
        "exec.cpu_s": tot("cpu_ns") / 1e9,
        "exec.gc_s": tot("gc_ms") / 1e3,
        "shuffle.write_bytes": tot("shuffle_write_bytes"),
        "shuffle.read_bytes": tot("shuffle_read_bytes"),
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3,
        "spill.bytes": tot("spill_bytes"),
        "scan.time_s": log.sql_sum(stages, "scan time") / 1e3,
        "udfs.python_s": log.sql_sum(stages, "time to run Python workers") / 1e3,
        "udfs.bytes_to_python": log.sql_sum(stages, "data sent to Python workers"),
        "udfs.bytes_from_python": log.sql_sum(stages, "data returned from Python workers"),
        "stages": len(stages),
        "tasks": sum(len(s.task_ms) for s in stages),
    }
    if wall_window is not None:
        lo, hi = wall_window
        spans = [
            (max(s.submit_ms / 1e3, lo), min(s.complete_ms / 1e3, hi))
            for s in stages if s.submit_ms is not None
        ]
        out["driver_only_s"] = (hi - lo) - union_s([(a, b) for a, b in spans if b > a])
    return out


def task_skew(stages, min_tasks: int = 2) -> float:
    """Largest max/median task-time ratio over stages with at least
    ``min_tasks`` tasks (1.0 when no stage qualifies)."""
    ratios = [
        max(s.task_ms) / max(statistics.median(s.task_ms), 1)
        for s in stages if len(s.task_ms) >= min_tasks
    ]
    return max(ratios, default=1.0)
