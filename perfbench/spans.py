"""Spans kept in memory, and Spark's event log attributed to them.

A span is (name, start, end, parent, op id). The benchmark opens one
span per op and child spans around each call into a layer; they are
only written out when the run ends. Spark's own work is attributed to
ops from the event log: a job belongs to the op whose description it
carries, or, for jobs submitted from threads the program starts itself
(which do not inherit the description), to the op whose wall-clock
window contains its submission time. Ops run one at a time, so the
window rule is unambiguous.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None
    sid: int


class Tracer:
    """Records spans when enabled; a disabled tracer records nothing and
    leaves the job description alone."""

    def __init__(self, enabled: bool, spark):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        sid = len(self.spans)
        self.spans.append(Span(name, time.time(), 0.0, parent, op_id, sid))
        self._stack.append(sid)
        if parent is None:
            self.spark.sparkContext.setJobDescription(f"op{op_id}:{name}")
        try:
            yield
        finally:
            self.spans[sid].end = time.time()
            self._stack.pop()
            if parent is None:
                self.spark.sparkContext.setJobDescription(None)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@dataclass
class OpEngine:
    """Spark work attributed to one op."""

    jobs: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_s: float = 0.0
    input_task_s: float = 0.0  # run time of tasks that read input files
    gc_s: float = 0.0
    result_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0
    input_rows: int = 0
    task_failures: int = 0
    peak_heap_mb: float = 0.0  # JVM heap in use, peak over the op's stages
    intervals: list = field(default_factory=list)  # (launch, finish) seconds
    sql_metrics: dict = field(default_factory=lambda: defaultdict(int))  # (node, metric) -> sum


def read_event_log(log_dir: str) -> list[dict]:
    files = [p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p)]
    events = []
    for p in sorted(files):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def attribute(events: list[dict], windows: dict[int, tuple[float, float]]) -> dict[int, OpEngine]:
    """Fold the event log into per-op totals. ``windows`` maps op id to
    its (start, end) epoch seconds."""
    spans = sorted((s, e, op) for op, (s, e) in windows.items())

    def op_at(t: float) -> int | None:
        for s, e, op in spans:
            if s <= t <= e:
                return op
        return None

    def op_of_desc(desc: str | None) -> int | None:
        if desc and desc.startswith("op") and ":" in desc:
            try:
                return int(desc[2 : desc.index(":")])
            except ValueError:
                return None
        return None

    stage_op: dict[int, int] = {}
    exec_op: dict[int, int] = {}
    accum_node: dict[int, tuple[str, str]] = {}
    accum_exec: dict[int, int] = {}
    out: dict[int, OpEngine] = defaultdict(OpEngine)

    def walk_plan(info: dict, exec_id: int) -> None:
        for m in info.get("metrics", ()):
            accum_node[m["accumulatorId"]] = (info.get("nodeName", "").strip(), m["name"])
            accum_exec[m["accumulatorId"]] = exec_id
        for c in info.get("children", ()):
            walk_plan(c, exec_id)

    for ev in events:
        kind = ev["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            op = op_of_desc(ev.get("description"))
            if op is None:
                op = op_at(ev["time"] / 1000.0)
            if op is not None:
                exec_op[ev["executionId"]] = op
            walk_plan(ev["sparkPlanInfo"], ev["executionId"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            walk_plan(ev["sparkPlanInfo"], ev["executionId"])
        elif kind == "SparkListenerDriverAccumUpdates":
            op = exec_op.get(ev["executionId"])
            if op is not None:
                for aid, val in ev["accumUpdates"]:
                    if aid in accum_node:
                        out[op].sql_metrics[accum_node[aid]] += int(val)
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            op = op_of_desc(props.get("spark.job.description"))
            if op is None:
                op = op_at(ev["Submission Time"] / 1000.0)
            if op is None:
                continue
            out[op].jobs += 1
            for sid in ev["Stage IDs"]:
                stage_op.setdefault(sid, op)
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_op and "Submission Time" in ev["Stage Info"]:
                out[stage_op[sid]].stages.add(sid)
        elif kind == "SparkListenerStageExecutorMetrics":
            op = stage_op.get(ev["Stage ID"])
            if op is not None:
                heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0) / 2**20
                out[op].peak_heap_mb = max(out[op].peak_heap_mb, heap)
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get(ev["Stage ID"])
            if op is None:
                continue
            o = out[op]
            info = ev["Task Info"]
            o.tasks += 1
            if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                o.task_failures += 1
            o.intervals.append((info["Launch Time"] / 1000.0, info["Finish Time"] / 1000.0))
            tm = ev.get("Task Metrics") or {}
            o.task_s += tm.get("Executor Run Time", 0) / 1000.0
            o.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            o.result_mb += tm.get("Result Size", 0) / 2**20
            o.spill_mb += (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 2**20
            o.shuffle_write_mb += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / 2**20
            im = tm.get("Input Metrics") or {}
            o.input_mb += im.get("Bytes Read", 0) / 2**20
            if im.get("Bytes Read", 0) > 0:
                o.input_task_s += tm.get("Executor Run Time", 0) / 1000.0
            o.input_rows += im.get("Records Read", 0)
            for acc in info.get("Accumulables", ()):
                node = accum_node.get(acc.get("ID"))
                if node is not None and exec_op.get(accum_exec[acc["ID"]]) == op:
                    try:
                        o.sql_metrics[node] += int(acc["Update"])
                    except (KeyError, TypeError, ValueError):
                        pass
    return dict(out)


def idle_s(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Time in [start, end] with no task running (driver-only time)."""
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return max(0.0, (end - start) - busy)


def sql_sum(o: OpEngine, node_prefix: str, metric: str) -> int:
    return sum(v for (n, m), v in o.sql_metrics.items() if n.startswith(node_prefix) and m == metric)

