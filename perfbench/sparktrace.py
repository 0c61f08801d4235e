"""Spans recorded around calls into the engine, and the reader that
charges Spark's own job/stage/task statistics to them.

The reader parses the traced run's Spark event log with stdlib ``json``
and pyarrow's zstd codec only, never with the engine's own event-log
reader, so a change to that reader cannot change how it is measured.

A job is charged to the innermost span it belongs to: the span named by
an ``op=<span>`` job tag when the job carries one, else the innermost
span whose wall-clock window contains the job's submission time (jobs
started on pool threads or HTTP handler threads carry no tag). Every
counter is inclusive: a span's numbers include those of the spans it
encloses.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

import pyarrow as pa

#: The counters every span reports, with their units.
SPAN_COUNTERS = {"busy_s": "s", "jobs": "count", "tasks": "count",
                 "executor_cpu_s": "s", "shuffle_write_mb": "MB",
                 "driver_s": "s"}

_TAG = re.compile(r"op=([^,]+)")


class Tracer:
    """Holds spans in memory; writes nothing until asked. When disabled,
    ``span`` costs one attribute check.

    Spans nest per thread. A span opened on a thread with no open span
    of its own (an HTTP handler thread, say) nests under the newest span
    still open on any thread: in a traced run the benchmark has one
    operation in flight at a time, so that is the request waiting for
    the handler."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.spark = None
        self._local = threading.local()
        self._open: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            parent = stack[-1] if stack else (self._open[-1] if self._open else None)
            rec = {"name": name, "start_ms": time.time() * 1000.0, "end_ms": None,
                   "parent": parent}
            self.spans.append(rec)
            idx = len(self.spans) - 1
            self._open.append(idx)
        stack.append(idx)
        # job tags are per thread, so a handler thread tags its own jobs
        tag = f"op={name}"
        if self.spark is not None:
            self.spark.addTag(tag)
        try:
            yield
        finally:
            if self.spark is not None:
                self.spark.removeTag(tag)
            stack.pop()
            with self._lock:
                self._open.remove(idx)
            rec["end_ms"] = time.time() * 1000.0

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper, so callers that
        look the function up on the module (as the engine's own
        ``incremental_ingest`` does for ``plan_incremental``) go through
        it too."""
        fn = getattr(module, attr)

        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, wrapped)


def _lines(path: str):
    with pa.input_stream(path, compression="zstd") as s:
        data = s.read()
    for line in data.decode("utf-8", errors="replace").splitlines():
        if line.strip():
            yield line


def event_log_files(log_dir: str) -> list[str]:
    """Event files of every rolling zstd log (``eventlog_v2_*/events_*``)
    under a Spark event-log dir, in roll order."""
    out = []
    for d in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        files = glob.glob(os.path.join(d, "events_*"))
        out += sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return out


def read_jobs(log_dir: str) -> list[dict]:
    """Jobs of the logged application(s): submission/completion ms, the
    ``op=`` tags, and task count, executor CPU seconds and shuffle bytes
    written, summed over the job's tasks."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    pending: list[dict] = []
    for path in event_log_files(log_dir):
        for line in _lines(path):
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                jobs[jid] = {"id": jid, "submit_ms": ev["Submission Time"],
                             "end_ms": None, "ops": _TAG.findall(tags or ""),
                             "tasks": 0, "cpu_ns": 0, "shuffle_write_b": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end_ms"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                pending.append(ev)
    for ev in pending:
        jid = stage_job.get(ev.get("Stage ID"))
        if jid is None:
            continue
        m = ev.get("Task Metrics") or {}
        j = jobs[jid]
        j["tasks"] += 1
        j["cpu_ns"] += m.get("Executor CPU Time", 0) or 0
        j["shuffle_write_b"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0) or 0
    out = []
    for j in jobs.values():
        if j["end_ms"] is None:
            j["end_ms"] = j["submit_ms"]
        out.append(j)
    return sorted(out, key=lambda j: j["id"])


def _depth(spans: list[dict], i: int) -> int:
    d = 0
    while spans[i]["parent"] is not None:
        i = spans[i]["parent"]
        d += 1
    return d


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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


def attribute(spans: list[dict], jobs: list[dict]) -> dict[str, dict]:
    """Per span name that ran: the :data:`SPAN_COUNTERS`, summed over the
    span's calls."""
    depth = [_depth(spans, i) for i in range(len(spans))]
    owned: dict[int, list[dict]] = defaultdict(list)
    for j in jobs:
        t = j["submit_ms"]
        inside = [i for i, s in enumerate(spans)
                  if s["start_ms"] - 1 <= t <= (s["end_ms"] or t) + 1]
        tagged = [i for i in inside if spans[i]["name"] in j["ops"]]
        pick = tagged or inside
        if not pick:
            continue
        i = max(pick, key=lambda k: (depth[k], spans[k]["start_ms"]))
        while i is not None:
            owned[i].append(j)
            i = spans[i]["parent"]
    out: dict[str, dict] = {}
    for i, s in enumerate(spans):
        wall = (s["end_ms"] - s["start_ms"]) / 1000.0
        js = owned.get(i, [])
        in_jobs = _union_ms([(max(j["submit_ms"], s["start_ms"]),
                              min(j["end_ms"], s["end_ms"])) for j in js
                             if j["end_ms"] > s["start_ms"]]) / 1000.0
        agg = out.setdefault(s["name"], dict.fromkeys(SPAN_COUNTERS, 0.0))
        agg["busy_s"] += wall
        agg["jobs"] += len(js)
        agg["tasks"] += sum(j["tasks"] for j in js)
        agg["executor_cpu_s"] += sum(j["cpu_ns"] for j in js) / 1e9
        agg["shuffle_write_mb"] += sum(j["shuffle_write_b"] for j in js) / 1048576.0
        agg["driver_s"] += max(0.0, wall - in_jobs)
    return out
