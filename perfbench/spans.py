"""Spans recorded around the calls into each layer, and Spark's event log.

The span tree is run -> pass -> op -> {queries.build, engine.exec or
sinks.write, sources.readback, caching.release}. Every phase span of a
traced pass runs under its own Spark job group (``pb:<span id>``), so the
jobs and stages the event log records attach to the span that launched
them. Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import glob
import json
import os
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Plan nodes that evaluate Python (pandas/Arrow UDFs and batch Python UDFs).
PYTHON_NODE = re.compile(r"Python|InPandas|InArrow")
PY_SENT_METRIC = "data sent to Python workers"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds, comparable with Spark's event times
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; ``sc`` set means phases get job groups."""

    def __init__(self):
        self.spans: list[Span] = []
        self.sc = None

    def open(self, name: str, parent: Span | None, **attrs) -> Span:
        span = Span(len(self.spans), parent.id if parent else None, name, time.time(), attrs=attrs)
        self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, parent: Span | None, **attrs):
        span = self.open(name, parent, **attrs)
        if self.sc is not None:
            self.sc.setJobGroup(f"pb:{span.id}", name)
        try:
            yield span
        finally:
            span.end = time.time()
            if self.sc is not None:
                self.sc.setJobGroup(f"pb:{parent.id}" if parent else "", "")

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            kids = self.children(todo.pop())
            out += kids
            todo += kids
        return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def self_time(span: Span, kids: list[Span]) -> float:
    """Duration minus the part of it the child spans cover."""
    clipped = [(max(k.start, span.start), min(k.end, span.end)) for k in kids]
    return span.dur - union_s([c for c in clipped if c[1] > c[0]])


@dataclass
class EventLog:
    """Per-job/stage facts from one uncompressed Spark event log."""

    jobs: dict[int, dict] = field(default_factory=dict)
    stages: dict[int, dict] = field(default_factory=dict)
    executions: dict[int, dict] = field(default_factory=dict)


def _plan_python_nodes(info: dict) -> int:
    todo, n = [info], 0
    while todo:
        node = todo.pop()
        n += bool(PYTHON_NODE.search(node.get("nodeName", "")))
        todo += node.get("children", [])
    return n


def _new_stage() -> dict:
    return {
        "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "input_b": 0,
        "shuffle_w_b": 0, "shuffle_r_b": 0, "spill_b": 0, "py_sent_b": 0,
        "start": None, "end": None,
    }


def read_event_log(log_dir: str) -> EventLog:
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    log = EventLog()
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                log.jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "execution": props.get("spark.sql.execution.id"),
                    "start": ev["Submission Time"] / 1000,
                    "end": None,
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                log.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                st = log.stages.setdefault(ev["Stage ID"], _new_stage())
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_r_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["shuffle_w_b"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st["spill_b"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = log.stages.setdefault(info["Stage ID"], _new_stage())
                st["start"] = (info.get("Submission Time") or 0) / 1000
                st["end"] = (info.get("Completion Time") or 0) / 1000
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == PY_SENT_METRIC:
                        st["py_sent_b"] += int(acc.get("Value") or 0)
            elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                "SparkListenerSQLAdaptiveExecutionUpdate"
            ):
                # the last plan seen for an execution is its final (AQE) plan
                log.executions[ev["executionId"]] = {
                    "python_nodes": _plan_python_nodes(ev["sparkPlanInfo"])
                }
    return log


def attach_spark_spans(tracer: Tracer, log: EventLog) -> None:
    """Add each Spark job, and each stage it ran, as child spans of the
    phase span whose job group launched it."""
    by_id = {s.id: s for s in tracer.spans}
    for job_id, job in sorted(log.jobs.items()):
        group = job["group"] or ""
        if not group.startswith("pb:") or job["end"] is None:
            continue
        parent = by_id[int(group[3:])]
        jspan = Span(len(tracer.spans), parent.id, "spark.job", job["start"], job["end"],
                     {"job_id": job_id, "execution": job["execution"]})
        tracer.spans.append(jspan)
        for sid in job["stages"]:
            st = log.stages.get(sid)
            if st and st["end"]:
                tracer.spans.append(Span(len(tracer.spans), jspan.id, "spark.stage",
                                         st["start"], st["end"], {"stage_id": sid, "tasks": st["tasks"]}))


def op_layers(tracer: Tracer, log: EventLog, op: Span) -> dict[str, float]:
    """Per-layer figures for one traced op span, plus its latency
    (``wall_s``) and the rows its sink wrote (``rows_written``)."""
    phases = tracer.children(op)
    jobs = [s for s in tracer.descendants(op) if s.name == "spark.job"]
    stage_ids = {s.attrs["stage_id"] for j in jobs for s in tracer.children(j)}
    stages = [log.stages[i] for i in stage_ids]
    executions = {j.attrs["execution"] for j in jobs if j.attrs["execution"] is not None}
    wall = op.attrs["latency_s"]

    def phase_s(name: str) -> float:
        return sum(p.dur for p in phases if p.name == name)

    def total(key: str) -> float:
        return sum(st[key] for st in stages)

    exec_s = union_s([(j.start, j.end) for j in jobs])
    build = [p for p in phases if p.name == "queries.build"]
    mib = 2**20
    return {
        "queries.build_s": phase_s("queries.build"),
        "queries.build_jobs": sum(len([k for k in tracer.children(b) if k.name == "spark.job"]) for b in build),
        "engine.jobs": len(jobs),
        "engine.stages": len(stages),
        "engine.tasks": total("tasks"),
        "engine.exec_s": exec_s,
        "engine.driver_gap_s": max(0.0, wall - exec_s),
        "engine.executor_run_s": total("run_ms") / 1e3,
        "engine.executor_cpu_s": total("cpu_ns") / 1e9,
        "engine.gc_s": total("gc_ms") / 1e3,
        "engine.input_mb": total("input_b") / mib,
        "engine.shuffle_write_mb": total("shuffle_w_b") / mib,
        "engine.shuffle_read_mb": total("shuffle_r_b") / mib,
        "engine.spill_mb": total("spill_b") / mib,
        "operators.python_nodes": sum(log.executions.get(int(e), {}).get("python_nodes", 0) for e in executions),
        "operators.python_mb_sent": total("py_sent_b") / mib,
        "caching.release_s": phase_s("caching.release"),
        "caching.released": sum(p.attrs.get("released", 0) for p in phases),
        "caching.storage_mb": sum(p.attrs.get("storage_mb", 0.0) for p in phases),
        "sinks.write_s": phase_s("sinks.write"),
        "sinks.bytes_written_mb": sum(p.attrs.get("bytes", 0) for p in phases) / mib,
        "sinks.files_written": sum(p.attrs.get("files", 0) for p in phases),
        "sources.readback_s": phase_s("sources.readback"),
        "wall_s": wall,
        "rows_written": sum(p.attrs.get("rows", 0) for p in phases),
    }


def dump(tracer: Tracer, path: str) -> None:
    """Write every span, with its self time, as one JSON document."""
    out = []
    for s in tracer.spans:
        row = {"id": s.id, "parent": s.parent, "name": s.name, "start": s.start,
               "end": s.end, "self_s": self_time(s, tracer.children(s))}
        row.update(s.attrs)
        out.append(row)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(out, f)
