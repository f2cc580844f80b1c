"""Spans recorded around calls into the library, and the offline
parse of the Spark event log that splits each span into Spark-job,
driver and Python-worker time.

A span is one call into a public function plus the Spark action that
forces it. In a traced run every span sets its own Spark job group, so
every job (and through it every stage and task) in the event log maps
back to exactly one span.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

# SQL metrics, in ms per task, of the nodes that evaluate Python
# (ArrowEvalPython, MapInArrow, MapInPandas, ...): the run time, and
# the worker spin-up time (start + initialize), which overlap
PYTHON_RUN_METRIC = "time to run Python workers"
PYTHON_INIT_METRICS = ("time to start Python workers", "time to initialize Python workers")
JOIN_NODES = (
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)
SPAN_METRICS = (
    "driver_s", "jobs", "task_s", "python_s", "python_init_s", "shuffle_write_mb", "spill_mb",
)


class Tracer:
    """Records (name, start, end) spans in memory. With ``enabled``
    each span also tags its Spark jobs with a unique job group
    ``<name>#<seq>``; jobs outside spans (set-up, checks) belong to no
    span."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        group = f"{name}#{len(self.spans)}"
        if self.enabled:
            self.sc.setJobGroup(group, name)
        rec = {"name": name, "group": group, "start": time.time()}
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self.spans.append(rec)
            if self.enabled:
                self.sc.setJobGroup("bench.untimed", "untimed")


def _new_group() -> dict:
    return {"jobs": {}, "task_ms": 0, "python_ms": 0, "python_init_ms": 0,
            "shuffle_write_b": 0, "spill_b": 0, "join_rows": 0}


def _event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    return files[0]


def parse_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job intervals, task time, Python-worker time,
    shuffle bytes written, bytes spilled to disk, and output rows of
    join nodes."""
    acc_node: dict[int, str] = {}  # SQL accumulator id -> plan node name
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def walk(plan: dict) -> None:
        node = plan.get("nodeName", "")
        for m in plan.get("metrics", ()):
            acc_node[m["accumulatorId"]] = node
        for ch in plan.get("children", ()):
            walk(ch)

    with open(_event_log_file(log_dir)) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                walk(ev["sparkPlanInfo"])
            elif kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or "bench.untimed"
                job_group[ev["Job ID"]] = g
                groups.setdefault(g, _new_group())["jobs"][ev["Job ID"]] = [ev["Submission Time"], None]
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd":
                g = job_group.get(ev["Job ID"])
                if g is not None:
                    groups[g]["jobs"][ev["Job ID"]][1] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                if g is None:
                    continue
                rec = groups.setdefault(g, _new_group())
                tm = ev.get("Task Metrics") or {}
                rec["task_ms"] += tm.get("Executor Run Time", 0)
                rec["shuffle_write_b"] += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                rec["spill_b"] += tm.get("Disk Bytes Spilled", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                    name = acc.get("Name")
                    upd = acc.get("Update")
                    if not isinstance(upd, (int, float, str)) or name is None:
                        continue
                    if name == PYTHON_RUN_METRIC:
                        rec["python_ms"] += int(upd)
                    elif name in PYTHON_INIT_METRICS:
                        rec["python_init_ms"] += int(upd)
                    elif name == "number of output rows" and acc_node.get(acc["ID"], "").startswith(JOIN_NODES):
                        rec["join_rows"] += int(upd)
    return groups


def _covered_s(intervals: list[list], start_ms: float, end_ms: float) -> float:
    """Seconds of [start_ms, end_ms] covered by the union of job
    intervals."""
    iv = sorted(
        (max(a, start_ms), min(b if b is not None else end_ms, end_ms))
        for a, b in intervals
    )
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered / 1000.0


def span_profiles(spans: list[dict], groups: dict[str, dict]) -> dict[str, list[dict]]:
    """One profile per span instance, grouped by span name."""
    out: dict[str, list[dict]] = {}
    for sp in spans:
        g = groups.get(sp["group"]) or _new_group()  # a span may run no Spark job
        wall = sp["end"] - sp["start"]
        covered = _covered_s(list(g["jobs"].values()), sp["start"] * 1000.0, sp["end"] * 1000.0)
        out.setdefault(sp["name"], []).append(
            {
                "wall_s": wall,
                "driver_s": max(0.0, wall - covered),
                "jobs": len(g["jobs"]),
                "task_s": g["task_ms"] / 1000.0,
                "python_s": g["python_ms"] / 1000.0,
                "python_init_s": g["python_init_ms"] / 1000.0,
                "shuffle_write_mb": g["shuffle_write_b"] / 1e6,
                "spill_mb": g["spill_b"] / 1e6,
                "join_rows": g["join_rows"],
                "rows_out": sp.get("rows_out"),
            }
        )
    return out


def median_of(profiles: list[dict], key: str) -> float:
    return float(statistics.median(p[key] for p in profiles))
