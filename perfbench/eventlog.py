"""Spark event log -> one record per completed stage, keyed by job group.

The benchmark puts every call into a layer's public function in a named job
group (``SparkContext.setJobGroup``), and enables the event log from outside
the package.  This module folds the log's task-end and stage-completed
events into :class:`Stage` records: the job group, wall interval, task
count and task-time spread, executor run and GC time, shuffle rows and
bytes, spill, and the SQL plan nodes the stage actually ran.  A node counts
as run when one of its SQL metrics received a non-zero task update in the
stage, so a stage that only reads a cached frame is not credited with the
plan that built it.  SQL metric values are summed from the task updates of
the stage, never read from the cumulative accumulator totals.  Metrics of a
plan the log never describes (the inner plan of a frame cached inside
another cached frame) are kept by name, which is enough to see a stage that
ran Python workers.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

_WRITE_RE = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?),")


@dataclass
class Stage:
    stage_id: int
    group: str | None
    exec_id: int | None
    name: str
    submit_ms: int
    complete_ms: int
    tasks: int = 0
    task_ms: list[int] = field(default_factory=list)
    run_ms: int = 0
    gc_ms: int = 0
    shuffle_read_rows: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_rows: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # (node name, node simpleString, metric name, accumulator id) ->
    # summed task updates
    node_metrics: dict[tuple[str, str, str, int], int] = field(default_factory=dict)
    write_path: str | None = None

    @property
    def wall_ms(self) -> int:
        return self.complete_ms - self.submit_ms

    def ran_python(self) -> bool:
        """Whether the stage ran Python workers (mapInPandas, pandas UDFs)."""
        return any(v and m == "time to run Python workers"
                   for (_, _, m, _), v in self.node_metrics.items())

    def node_sum(self, node_name: str, metric: str, contains: str) -> int:
        return sum(v for (n, s, m, _), v in self.node_metrics.items()
                   if n.endswith(node_name) and m == metric and contains in s)

    def task_spread(self) -> float:
        """Slowest task over the median task (1.0 for a single task)."""
        if not self.task_ms:
            return 0.0
        med = statistics.median(self.task_ms)
        return max(self.task_ms) / med if med > 0 else 0.0


def read_events(log_dir: str) -> list[dict]:
    """All events under ``log_dir`` (plain or rolled ``eventlog_v2_*``
    layout, uncompressed), in file order.  A torn last line is skipped."""
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(p) and not os.path.basename(p).startswith(".")
             and "appstatus" not in os.path.basename(p)]

    def order(p: str):
        m = re.search(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0, p)

    events = []
    for path in sorted(files, key=order):
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    continue
    return events


def _walk_plan(node: dict, acc_map: dict) -> str | None:
    """Register the node metrics of a plan tree; return the path a write
    command in it targets, if any."""
    for m in node.get("metrics", ()):
        acc_map[m["accumulatorId"]] = (node["nodeName"], node.get("simpleString", ""),
                                       m["name"])
    m = _WRITE_RE.search(node.get("simpleString", ""))
    path = m.group(1) if m else None
    for c in node.get("children", ()):
        path = _walk_plan(c, acc_map) or path
    return path


def _as_int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


def stages(events: list[dict]) -> list[Stage]:
    """Completed stages in completion order (first attempt of each)."""
    acc_map: dict[int, tuple[str, str, str]] = {}
    exec_write: dict[int, str] = {}
    stage_props: dict[int, dict] = {}
    task_acc: dict[int, dict[int, int]] = {}
    task_ms: dict[int, list[int]] = {}
    task_sums: dict[int, dict[str, int]] = {}
    names: dict[int, str] = {}
    out: list[Stage] = []
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            path = _walk_plan(e["sparkPlanInfo"], acc_map)
            if path:
                exec_write[e["executionId"]] = path
        elif kind == "SparkListenerStageSubmitted":
            stage_props[e["Stage Info"]["Stage ID"]] = e.get("Properties") or {}
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            info, tm = e["Task Info"], e.get("Task Metrics") or {}
            task_ms.setdefault(sid, []).append(info["Finish Time"] - info["Launch Time"])
            s = task_sums.setdefault(sid, {})
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            for k, v in (
                ("run_ms", tm.get("Executor Run Time", 0)),
                ("gc_ms", tm.get("JVM GC Time", 0)),
                ("spill_bytes", tm.get("Disk Bytes Spilled", 0)),
                ("shuffle_read_rows", sr.get("Total Records Read", 0)),
                ("shuffle_read_bytes", sr.get("Remote Bytes Read", 0)
                 + sr.get("Local Bytes Read", 0)),
                ("shuffle_write_rows", sw.get("Shuffle Records Written", 0)),
                ("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0)),
            ):
                s[k] = s.get(k, 0) + v
            acc = task_acc.setdefault(sid, {})
            for a in info.get("Accumulables", ()):
                if not a["Name"].startswith("internal."):
                    acc[a["ID"]] = acc.get(a["ID"], 0) + _as_int(a.get("Update"))
                    names.setdefault(a["ID"], a["Name"])
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sid = si["Stage ID"]
            if si.get("Stage Attempt ID", 0) != 0 or "Completion Time" not in si:
                continue
            props = stage_props.get(sid, {})
            exec_id = props.get("spark.sql.execution.id")
            exec_id = int(exec_id) if exec_id is not None else None
            st = Stage(
                stage_id=sid, group=props.get("spark.jobGroup.id"),
                exec_id=exec_id, name=si.get("Stage Name", ""),
                submit_ms=si.get("Submission Time", si["Completion Time"]),
                complete_ms=si["Completion Time"],
                tasks=si.get("Number of Tasks", 0), task_ms=task_ms.get(sid, []),
                **task_sums.get(sid, {}),
            )
            for acc_id, v in task_acc.get(sid, {}).items():
                # a metric of a plan the log never described (the inner plan
                # of a cached frame) keeps its name, with an empty node
                node = acc_map.get(acc_id, ("", "", names[acc_id]))
                st.node_metrics[(*node, acc_id)] = v
            st.write_path = exec_write.get(exec_id)
            out.append(st)
    return out


def sql_spans(events: list[dict]) -> list[tuple[int, int]]:
    """(start, end) of every finished SQL execution.  An execution spans
    its planning, its jobs and the driver-side work between and after them
    (adaptive re-planning, the commit of a write)."""
    start: dict[int, int] = {}
    out = []
    for e in events:
        kind = e.get("Event", "")
        if kind.endswith("SQLExecutionStart"):
            start[e["executionId"]] = e["time"]
        elif kind.endswith("SQLExecutionEnd") and e["executionId"] in start:
            out.append((start.pop(e["executionId"]), e["time"]))
    return out


def job_groups(events: list[dict]) -> dict[int, str | None]:
    """Job id -> job group of every started job."""
    return {e["Job ID"]: (e.get("Properties") or {}).get("spark.jobGroup.id")
            for e in events if e.get("Event") == "SparkListenerJobStart"}


SUMMED = ("run_ms", "gc_ms", "shuffle_read_rows", "shuffle_read_bytes",
          "shuffle_write_rows", "shuffle_write_bytes", "spill_bytes")


def totals(recs: list[Stage]) -> dict[str, int]:
    """Summed per-stage figures of ``recs`` plus their task count."""
    out = {k: sum(getattr(r, k) for r in recs) for k in SUMMED}
    out["tasks"] = sum(r.tasks for r in recs)
    return out


def wall_union_ms(recs: list[Stage]) -> int:
    """Milliseconds during which at least one of ``recs`` was running."""
    return union_ms([(r.submit_ms, r.complete_ms) for r in recs])


def union_ms(spans: list[tuple[float, float]]) -> float:
    """Length of the union of the (start, end) intervals ``spans``."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def as_json(recs: list[Stage]) -> list[dict]:
    """Per-stage records for the trace file."""
    out = []
    for r in recs:
        out.append({
            "stage": r.stage_id, "group": r.group, "exec": r.exec_id,
            "name": r.name, "wall_ms": r.wall_ms, "tasks": r.tasks,
            "task_ms_max": max(r.task_ms, default=0),
            "task_ms_median": statistics.median(r.task_ms) if r.task_ms else 0,
            **{k: getattr(r, k) for k in SUMMED},
            "nodes_run": sorted({n for (n, _, _, _), v in r.node_metrics.items() if v}),
            "write_path": r.write_path,
        })
    return out
