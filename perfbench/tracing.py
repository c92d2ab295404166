"""Tracing for the benchmark's traced run, recorded from the benchmark's own
code around calls into the engine.

- Spans are kept in memory and written out once when the run ends.
- Each span sets its own Spark job group, so the jobs it issues become its
  children. Jobs started under another group (streaming micro-batches run
  under their query's run id) get the innermost span that contains them.
- Job, stage and task metrics come from the Spark event log.
- Micro-batch phases come from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import glob
import json
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

from spans import Span, innermost

# Task-metric sums kept per job: (output name, path in "Task Metrics", scale).
_TASK_METRICS = [
    ("task_run_s", ("Executor Run Time",), 1e-3),
    ("task_cpu_s", ("Executor CPU Time",), 1e-9),
    ("gc_s", ("JVM GC Time",), 1e-3),
    ("input_bytes", ("Input Metrics", "Bytes Read"), 1),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Remote Bytes Read"), 1),
    ("shuffle_read_bytes", ("Shuffle Read Metrics", "Local Bytes Read"), 1),
    ("shuffle_write_bytes", ("Shuffle Write Metrics", "Shuffle Bytes Written"), 1),
    ("shuffle_fetch_wait_s", ("Shuffle Read Metrics", "Fetch Wait Time"), 1e-3),
    ("spill_bytes", ("Memory Bytes Spilled",), 1),
    ("spill_bytes", ("Disk Bytes Spilled",), 1),
]
JOB_COUNTERS = ["jobs", "stages", "tasks", "failed_tasks"] + list(dict.fromkeys(n for n, _, _ in _TASK_METRICS))
STREAM_PHASES = {
    "add_batch_s": "addBatch",
    "query_planning_s": "queryPlanning",
    "wal_commit_s": "walCommit",
    "commit_offsets_s": "commitOffsets",
}


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class _StreamListener(StreamingQueryListener):
    """Appends (kind, run id, epoch seconds, durations) per event; the
    listener bus delivers from its own thread, and list.append is atomic."""

    def __init__(self, sink: list):
        self.sink = sink

    def onQueryStarted(self, event):
        self.sink.append(("start", str(event.runId), _epoch(event.timestamp), {}))

    def onQueryProgress(self, event):
        p = event.progress
        self.sink.append(("batch", str(p.runId), _epoch(p.timestamp), dict(p.durationMs or {})))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class Tracer:
    """Records spans and streaming events when enabled; a disabled tracer is
    a no-op with no listener attached."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = False
        self.spans: list[Span] = []
        self.stream_events: list[tuple] = []
        self._stack: list[Span] = []
        self._listener = None
        self.enable(enabled)

    def enable(self, on: bool) -> None:
        """Switch tracing on or off between passes; the streaming listener
        is attached only while tracing is on."""
        if on and self._listener is None:
            self._listener = _StreamListener(self.stream_events)
            self.spark.streams.addListener(self._listener)
        elif not on and self._listener is not None:
            self.close()
        self.enabled = on

    def _set_group(self, span: Span | None) -> None:
        sc = self.spark.sparkContext
        if span is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(f"pb-{span.id}", span.name)

    @contextmanager
    def span(self, name: str, layer: str, pass_id: int):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, layer, time.time(), 0.0, parent.id if parent else None, pass_id)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def close(self, settle_s: float = 2.0) -> None:
        """Wait until the listener bus has gone quiet, then detach."""
        if self._listener is None:
            return
        deadline = time.time() + settle_s
        seen = -1
        while time.time() < deadline and seen != len(self.stream_events):
            seen = len(self.stream_events)
            time.sleep(0.2)
        self.spark.streams.removeListener(self._listener)
        self._listener = None


def plan_seconds(df) -> float:
    """Sum of the QueryPlanningTracker phases (analysis, optimization,
    planning) of the query execution behind an executed DataFrame."""
    it = df._jdf.queryExecution().tracker().phases().valuesIterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return total / 1000.0


def _get(d: dict, path: tuple) -> float:
    for k in path:
        d = d.get(k) or {}
    return d if isinstance(d, (int, float)) else 0


def read_event_log(log_dir: str) -> list[dict]:
    """Jobs from the event log, each with its start/end (epoch seconds), job
    group, stage count and summed task metrics."""
    files = sorted(glob.glob(f"{log_dir}/*"))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(files[-1], encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = dict.fromkeys(JOB_COUNTERS, 0)
                jobs[jid].update(
                    id=jid,
                    start=ev["Submission Time"] / 1000.0,
                    end=ev["Submission Time"] / 1000.0,
                    group=(ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    jobs=1,
                )
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, jid)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                if jid in jobs:
                    jobs[jid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid not in jobs:
                    continue
                job = jobs[jid]
                job["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    job["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                for name, path, scale in _TASK_METRICS:
                    job[name] += _get(m, path) * scale
    return sorted(jobs.values(), key=lambda j: j["start"])


def attach_jobs(spans: list[Span], jobs: list[dict]) -> list[Span]:
    """Job spans, each parented to the span whose job group issued it or,
    failing that, to the innermost span containing it, and clipped to that
    parent (the JVM clock has millisecond resolution). Jobs outside every
    span (set-up, checks) are dropped."""
    by_group = {f"pb-{s.id}": s for s in spans}
    out = []
    for j in jobs:
        parent = by_group.get(j["group"]) or innermost(spans, j["start"], j["end"])
        if parent is None:
            continue
        start, end = max(j["start"], parent.start), min(j["end"], parent.end)
        attrs = {k: j[k] for k in JOB_COUNTERS}
        out.append(Span(len(spans) + len(out), f"job {j['id']}", "spark.job", start, max(start, end),
                        parent.id, parent.pass_id, attrs))
    return out


def stream_metrics(events: list[tuple], passes: list[Span]) -> dict[int, dict[str, float]]:
    """Micro-batch counts and phase times per pass. ``startup_s`` is, per
    streaming query, the time from its start event to its first batch."""
    out = {p.pass_id: dict.fromkeys(["batches", "startup_s", *STREAM_PHASES], 0.0) for p in passes}
    started: dict[str, float] = {}
    for kind, run_id, ts, durations in sorted(events, key=lambda e: e[2]):
        pass_span = next((p for p in passes if p.start <= ts <= p.end), None)
        if kind == "start":
            started[run_id] = ts
            continue
        if pass_span is None:
            continue
        m = out[pass_span.pass_id]
        m["batches"] += 1
        if run_id in started:
            m["startup_s"] += ts - started.pop(run_id)
        for name, key in STREAM_PHASES.items():
            m[name] += durations.get(key, 0) / 1000.0
    return out
