"""Tracing from outside the engine: spans, job-group attribution, the
streaming progress listener and the Spark event-log parser.

Spans are kept in memory (name, layer, start, end, parent span, operation id)
and only written out at the end.  In a traced run every span also becomes a
Spark job group; the jobs of each group are read back from ``statusTracker``
when the span closes, and the event log then gives those jobs' task metrics.
Jobs that carry none of the benchmark's groups (for example those submitted
from the spine's checkpoint-flush thread pool) are reported as unattributed,
together with the span that was open when they started.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, attribute: bool) -> None:
        self.sc = sc
        self.enabled = attribute
        self.attribute = attribute
        self.spans: list[dict] = []
        self.job_span: dict[int, int] = {}
        self.untraced: list[list[float]] = []  # wall windows with attribution off
        self._stack: list[int] = []

    def trace_key(self, key: int) -> bool:
        """In a traced run, attribute the operation with this key or not, in
        the pattern off, on, on, off: keys are operation numbers (or a
        query's index plus twice the round, so every query runs once each
        way in two rounds), so traced and untraced operations interleave and
        the tracing overhead is measured in the same process."""
        on = self.enabled and key % 4 in (1, 2)
        if self.enabled and on != self.attribute:
            if on:
                self.untraced[-1][1] = time.time()
            else:
                self.untraced.append([time.time(), float("inf")])
            self.attribute = on
        return on

    def untraced_at(self, wall: float) -> bool:
        return any(a <= wall <= b for a, b in self.untraced)

    @contextmanager
    def span(self, layer: str, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"name": name, "layer": layer, "op": op, "parent": parent,
               "wall_start": time.time(), "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        group = f"bench|{idx}|{layer}|{name}"
        if self.attribute:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["wall_end"] = time.time()
            self._stack.pop()
            if self.attribute:
                for job in self.sc.statusTracker().getJobIdsForGroup(group):
                    self.job_span[job] = idx
                if parent is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    p = self.spans[parent]
                    self.sc.setJobGroup(f"bench|{parent}|{p['layer']}|{p['name']}",
                                        p["name"])

    def self_times(self) -> list[float]:
        """Each span's duration minus that of its direct children."""
        out = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        selfs = self.self_times()
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s["name"], "layer": s["layer"], "op": s["op"],
                    "parent": s["parent"], "start_s": s["start"] - t0,
                    "end_s": s["end"] - t0, "self_s": selfs[i]}) + "\n")

    def open_span_at(self, wall: float) -> int | None:
        """Innermost span open at epoch time ``wall``."""
        best = None
        for i, s in enumerate(self.spans):
            if s["wall_start"] <= wall <= s.get("wall_end", wall):
                if best is None or s["wall_start"] >= self.spans[best]["wall_start"]:
                    best = i
        return best


def progress_listener():
    """A StreamingQueryListener that keeps every micro-batch's progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.batches: list[dict] = []
            self.run_ids: set[str] = set()

        def onQueryStarted(self, event) -> None:
            self.run_ids.add(str(event.runId))

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.batches.append({
                "run_id": str(p.runId),
                "timestamp": p.timestamp,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state": [(s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)
                          for s in p.stateOperators],
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Progress()


def event_log_files(log_dir: str) -> list[str]:
    """Every event-log file under ``log_dir``: Spark 4.1 writes a rolling
    ``eventlog_v2_<app>`` directory of ``events_<n>_<app>`` parts; a plain
    single-file log is accepted as well."""
    files = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(entry) and os.path.basename(entry).startswith("eventlog_v2_"):
            parts = glob.glob(os.path.join(entry, "events_*"))
            parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
            files.extend(parts)
        elif os.path.isfile(entry) and not entry.endswith(".inprogress"):
            files.append(entry)
    return files


def parse_event_log(log_dir: str) -> dict[int, dict]:
    """Per-job task totals from an uncompressed event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in event_log_files(log_dir):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[job] = {"group": props.get("spark.jobGroup.id"),
                                 "submit_ms": ev.get("Submission Time", 0),
                                 "tasks": 0, "run_ms": 0, "gc_ms": 0,
                                 "input_bytes": 0, "shuffle_write_bytes": 0}
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, job)
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if job is None or job not in jobs or not m:
                        continue
                    j = jobs[job]
                    j["tasks"] += 1
                    j["run_ms"] += m.get("Executor Run Time", 0)
                    j["gc_ms"] += m.get("JVM GC Time", 0)
                    j["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    j["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    return jobs


def attribute(tracer: Tracer, jobs: dict[int, dict], stream_runs: set[str]) -> dict:
    """Assign every job to a span.  Returns ``{"by_span": {span: totals},
    "unattributed": totals, "unattributed_by_open_layer": {layer: tasks}}``.

    Jobs found under one of the benchmark's groups belong to that span.  Jobs
    of a streaming query (their group is the query's run id) belong to the
    span that was open when they were submitted.  Everything else is
    unattributed."""
    keys = ("tasks", "run_ms", "gc_ms", "input_bytes", "shuffle_write_bytes")
    by_span: dict[int, dict] = {}
    unattributed = dict.fromkeys(keys, 0) | {"jobs": 0}
    by_open: dict[str, int] = {}
    for job, j in jobs.items():
        span = tracer.job_span.get(job)
        if span is None and j["group"] in stream_runs:
            span = tracer.open_span_at(j["submit_ms"] / 1000.0)
        if span is None:
            unattributed["jobs"] += 1
            for k in keys:
                unattributed[k] += j[k]
            open_span = tracer.open_span_at(j["submit_ms"] / 1000.0)
            layer = tracer.spans[open_span]["layer"] if open_span is not None else "none"
            by_open[layer] = by_open.get(layer, 0) + j["tasks"]
            continue
        acc = by_span.setdefault(span, dict.fromkeys(keys, 0) | {"jobs": 0})
        acc["jobs"] += 1
        for k in keys:
            acc[k] += j[k]
    return {"by_span": by_span, "unattributed": unattributed,
            "unattributed_by_open_layer": by_open}
