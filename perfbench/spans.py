"""In-memory span recorder and event-log attribution for traced runs.

A span records its name, start, end, parent span and the operation id
it belongs to (spans of one benchmark operation share the id). Spans are
kept in memory and dumped once, at the end of the run. Self time is a
span's duration minus the part of it that its child spans cover.

Executor-side counters come from the Spark event log, which the session
writes when ``SPARK_GRAFT_EVENTLOG`` names a directory. Each job is
joined to the span whose id it carries in its job description (set on
span entry); jobs started on other threads (streaming micro-batches, the
foreachBatch callback) carry no description and are joined to the
innermost span open at their submission time.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float                # epoch seconds (the event log's clock)
    end: float = 0.0


class NullRecorder:
    """Untraced runs: the same interface, no bookkeeping."""
    enabled = False

    def new_op(self) -> None:
        pass

    @contextlib.contextmanager
    def span(self, name: str):
        yield None


class Recorder(NullRecorder):
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = 0
        self.sc = None          # SparkContext, once the session exists

    def new_op(self) -> None:
        self._op += 1

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self._op,
                 parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._describe(f"perfbench:{s.id}")
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._describe(f"perfbench:{parent.id}" if parent else None)

    def _describe(self, desc):
        if self.sc is not None:
            self.sc.setJobDescription(desc)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def self_seconds(spans: list[Span]) -> dict[int, float]:
    """span id -> duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return {s.id: (s.end - s.start)
            - covered([(k.start, k.end) for k in kids.get(s.id, [])],
                      s.start, s.end)
            for s in spans}


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class Job:
    id: int
    start: float
    end: float
    desc: str | None
    execution: int | None
    stages: list[int]
    span: int | None = None
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    input_records: int = 0
    output_bytes: int = 0
    output_records: int = 0
    shuffle_write_bytes: int = 0


def _plan_metric_ids(info: dict, name: str, out: set) -> None:
    for m in info.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in info.get("children", []):
        _plan_metric_ids(child, name, out)


def read_event_log(ev_dir: str) -> tuple[list[Job], dict[int, int]]:
    """Jobs with their task counters, and files read per SQL execution."""
    paths = sorted(glob.glob(os.path.join(ev_dir, "*")))
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    files_ids: dict[int, set] = {}
    files_read: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    ex = props.get("spark.sql.execution.id")
                    j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0,
                            props.get("spark.job.description"),
                            int(ex) if ex is not None else None,
                            list(ev.get("Stage IDs", [])))
                    jobs[j.id] = j
                    for sid in j.stages:
                        stage_job[sid] = j.id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    j.tasks += 1
                    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.gc_s += m.get("JVM GC Time", 0) / 1e3
                    inp = m.get("Input Metrics", {})
                    j.input_bytes += inp.get("Bytes Read", 0)
                    j.input_records += inp.get("Records Read", 0)
                    out = m.get("Output Metrics", {})
                    j.output_bytes += out.get("Bytes Written", 0)
                    j.output_records += out.get("Records Written", 0)
                    j.shuffle_write_bytes += m.get(
                        "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                elif kind.endswith("SQLExecutionStart") \
                        or kind.endswith("SQLAdaptiveExecutionUpdate"):
                    ids = files_ids.setdefault(ev["executionId"], set())
                    _plan_metric_ids(ev.get("sparkPlanInfo", {}),
                                     "number of files read", ids)
                elif kind.endswith("DriverAccumUpdates"):
                    ids = files_ids.get(ev["executionId"], set())
                    for acc_id, value in ev.get("accumUpdates", []):
                        if acc_id in ids:
                            files_read[ev["executionId"]] = \
                                files_read.get(ev["executionId"], 0) + value
    return list(jobs.values()), files_read


def attribute(jobs: list[Job], spans: list[Span]) -> None:
    """Set ``job.span``: the span named in the job description, else the
    innermost span open when the job was submitted."""
    by_id = {s.id: s for s in spans}
    for j in jobs:
        if j.desc and j.desc.startswith("perfbench:"):
            j.span = int(j.desc.split(":", 1)[1])
            continue
        best = None
        for s in spans:
            if s.start <= j.start <= s.end and (
                    best is None or s.start >= best.start):
                best = s
        j.span = best.id if best else None
    for j in jobs:
        if j.span is not None and j.span not in by_id:
            j.span = None
