"""Spans around calls into the program's layers, and the Spark stage
data attributed to them.

A span records name, start, end, parent span and op id.  Spans stay in
memory and are written as JSON lines when the run ends.  While a span is
open its Spark job tag is set on the calling thread, so every job the
call launches carries the tag of each enclosing span; a job belongs to
the innermost one.  Stage data comes from the status REST API after the
run (``StageCollector``): each stage is counted once, for the lowest job
that lists it (the job that ran it; a later job that finds its map
output already written lists the same stage id as skipped), and stages
that never ran (SKIPPED, never submitted) are dropped.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.request import urlopen

#: stage fields summed per span, with the name they are reported under
STAGE_FIELDS = {
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
    "numCompleteTasks": "tasks",
}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    tag: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one
    branch and nothing is kept."""

    def __init__(self, enabled: bool, tag_prefix: str):
        self.enabled = enabled
        self.tag_prefix = tag_prefix
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        s = Span(self._next, name, self._stack[-1].id if self._stack else None,
                 self.op, 0.0, attrs=dict(attrs))
        self._next += 1
        if sc is not None:
            s.tag = f"{self.tag_prefix}-{s.id}"
            sc.addJobTag(s.tag)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            # a span that stops the session (set-up) has no context left
            if s.tag is not None and SparkContext._active_spark_context is sc:
                sc.removeJobTag(s.tag)
            self.spans.append(s)

    def write_jsonl(self, path: str, exec_by_span: dict[int, dict]) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                rec = {"id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                       "start": s.start, "end": s.end, "self": selfs[s.id],
                       **s.attrs}
                if s.id in exec_by_span:
                    rec["spark"] = exec_by_span[s.id]
                f.write(json.dumps(rec) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.dur - covered
    return out


def attribute_stages(jobs: list[dict], stages: list[dict],
                     owner_of_job) -> dict:
    """Sum stage metrics per owner.

    ``owner_of_job(job)`` maps a REST job record to an owner key (or
    None to ignore it).  Each stage id is charged once, to the lowest
    job id listing it; SKIPPED stage attempts are dropped.  Attempts of
    one stage (retries) all did work, so their metrics add up, but the
    stage is counted once.  Returns {owner: {"jobs", "stages", ...}}.
    """
    runner: dict[int, dict] = {}
    out: dict = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job.get("stageIds", []):
            runner.setdefault(sid, job)
        key = owner_of_job(job)
        if key is not None:
            out.setdefault(key, _zero())["jobs"] += 1
    counted: set[int] = set()
    for st in stages:
        if st.get("status") == "SKIPPED":
            continue
        job = runner.get(st["stageId"])
        key = owner_of_job(job) if job is not None else None
        if key is None:
            continue
        acc = out.setdefault(key, _zero())
        if st["stageId"] not in counted:
            counted.add(st["stageId"])
            acc["stages"] += 1
        for src, dst in STAGE_FIELDS.items():
            acc[dst] += st.get(src) or 0
    return out


def _zero() -> dict:
    return {"jobs": 0, "stages": 0, **{v: 0 for v in STAGE_FIELDS.values()}}


class StageCollector:
    """Reads jobs and stages of one application from the status REST
    API (the UI must be enabled)."""

    def __init__(self, sc):
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, what: str) -> list[dict]:
        with urlopen(f"{self.base}/{what}", timeout=30) as r:
            return json.load(r)

    def settled(self) -> tuple[list[dict], list[dict]]:
        """Jobs and stages once the listener bus has drained: the status
        store is written by a listener, so a job that just ended can be
        missing until its events are processed."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        return self._get("jobs"), [self._recovered(s) for s in self._get("stages")]

    def _recovered(self, st: dict) -> dict:
        """A stage that ran and was then listed by a job that started
        while it was still registered comes back SKIPPED with its
        metrics cleared (the later job's skip overwrites the record);
        its task records keep the work, so rebuild the stage from them.
        A stage that never ran has no submission time."""
        if st.get("status") != "SKIPPED" or not st.get("submissionTime"):
            return st
        tasks = self._get(f"stages/{st['stageId']}/{st['attemptId']}/taskList?length=1000000")
        met = [t.get("taskMetrics") or {} for t in tasks if t.get("status") == "SUCCESS"]

        def total(get):
            return sum(get(m) for m in met)

        return {**st, "status": "COMPLETE", "recovered_from_tasks": True,
                "numCompleteTasks": len(met),
                "executorRunTime": total(lambda m: m.get("executorRunTime", 0)),
                "executorCpuTime": total(lambda m: m.get("executorCpuTime", 0)),
                "memoryBytesSpilled": total(lambda m: m.get("memoryBytesSpilled", 0)),
                "diskBytesSpilled": total(lambda m: m.get("diskBytesSpilled", 0)),
                "shuffleReadBytes": total(lambda m: (m.get("shuffleReadMetrics") or {}).get(
                    "remoteBytesRead", 0) + (m.get("shuffleReadMetrics") or {}).get(
                    "localBytesRead", 0)),
                "shuffleWriteBytes": total(lambda m: (m.get("shuffleWriteMetrics") or {}).get(
                    "bytesWritten", 0))}
