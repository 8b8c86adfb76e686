"""Pure-Python measurement helpers: spans, Spark event-log and
checkpoint parsing, process memory. Nothing here imports Spark, so the
benchmark's own tests exercise it without a JVM."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    trace: str
    parent: int | None = None  # index into Tracer.spans
    idx: int = -1

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
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


def clip(intervals, lo: float, hi: float):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


@dataclass
class Tracer:
    """In-memory span recorder; spans are written out when the run ends.

    ``enabled=False`` makes every call a no-op, so the untraced run pays
    only a flag test. Spans may be recorded from the streaming callback
    thread, so appends take a lock."""

    enabled: bool = True
    spans: list[Span] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def add(self, name: str, start: float, end: float, trace, parent: int | None = None) -> int:
        if not self.enabled:
            return -1
        with self._lock:
            s = Span(name, start, end, str(trace), parent, len(self.spans))
            self.spans.append(s)
        return s.idx

    def begin(self, name: str, trace, parent: int | None = None) -> int:
        """Open a span now; :meth:`end` closes it. Lets children recorded
        in between name it as their parent."""
        return self.add(name, time.time(), float("nan"), trace, parent)

    def end(self, idx: int) -> None:
        if idx >= 0:
            self.spans[idx].end = time.time()

    def call(self, name: str, trace, fn, *args, parent: int | None = None, **kw):
        """Run ``fn`` and record a span around it."""
        if not self.enabled:
            return fn(*args, **kw)
        t0 = time.time()
        try:
            return fn(*args, **kw)
        finally:
            self.add(name, t0, time.time(), trace, parent)

    def self_times(self) -> dict[int, float]:
        """Span index -> duration minus the part of it its children cover."""
        kids: dict[int, list] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None and s.parent >= 0:
                kids[s.parent].append((s.start, s.end))
        return {
            s.idx: s.dur - union_length(clip(kids[s.idx], s.start, s.end))
            for s in self.spans
        }

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({k: getattr(s, k) for k in ("name", "start", "end", "trace", "parent", "idx")}) + "\n")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    start_ms: int
    end_ms: int | None
    stage_ids: list[int]
    n_tasks: int
    props: dict


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    # per stage: cpu_ns, run_ms, shuffle_read, shuffle_write, spill bytes
    stage_metrics: dict[int, dict] = field(default_factory=lambda: defaultdict(lambda: defaultdict(int)))

    def jobs_where(self, key: str, value: str) -> list[Job]:
        return [j for j in self.jobs.values() if j.props.get(key) == value]

    def job_totals(self, jobs: list[Job]) -> dict:
        tot: dict = defaultdict(int)
        for j in jobs:
            for sid in j.stage_ids:
                for k, v in self.stage_metrics.get(sid, {}).items():
                    tot[k] += v
        tot["stages"] = sum(
            1 for j in jobs for sid in j.stage_ids if sid in self.stage_metrics
        )
        tot["tasks"] = sum(j.n_tasks for j in jobs)
        return dict(tot)


def parse_event_log(path: str) -> EventLog:
    """Parse Spark's single-file JSON-lines event log into jobs and
    per-stage task metric totals. Skipped stages (no task ran) get no
    metrics entry."""
    log = EventLog()
    with open(path) as f:
        events = [json.loads(line) for line in f]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            stages = ev.get("Stage Infos", [])
            job = Job(
                job_id=ev["Job ID"],
                start_ms=ev["Submission Time"],
                end_ms=None,
                stage_ids=[s["Stage ID"] for s in stages],
                n_tasks=0,
                props=ev.get("Properties") or {},
            )
            log.jobs[job.job_id] = job
            for s in stages:
                log.stage_job[s["Stage ID"]] = job.job_id
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            agg = log.stage_metrics[sid]
            agg["tasks_run"] += 1
            agg["cpu_ns"] += m.get("Executor CPU Time", 0)
            agg["run_ms"] += m.get("Executor Run Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            agg["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            agg["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            agg["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            job_id = log.stage_job.get(sid)
            if job_id is not None:
                log.jobs[job_id].n_tasks += 1
    return log


def driver_gap(span_start_ms: float, span_end_ms: float, jobs: list[Job]) -> float:
    """Milliseconds of [start, end] not covered by any job's span."""
    ivs = [(j.start_ms, j.end_ms) for j in jobs if j.end_ms is not None]
    covered = union_length(clip(ivs, span_start_ms, span_end_ms))
    return (span_end_ms - span_start_ms) - covered


# ---------------------------------------------------------------------------
# Structured Streaming checkpoint
# ---------------------------------------------------------------------------


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """File path (scheme stripped) -> batch id, from the file-source log.

    The log keeps one file per batch (``<id>``), compacted every few
    batches into ``<id>.compact``, each a version line followed by JSON
    entries carrying ``path`` and ``batchId``."""
    d = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                e = json.loads(line)
                path = e["path"]
                if path.startswith("file://"):
                    path = path[len("file://"):]
                elif path.startswith("file:"):
                    path = path[len("file:"):]
                out[path] = e["batchId"]
    return out


def committed_batches(checkpoint_dir: str) -> set[int]:
    d = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(d):
        return set()
    return {int(n) for n in os.listdir(d) if n.isdigit()}


# ---------------------------------------------------------------------------
# Process memory
# ---------------------------------------------------------------------------


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise ValueError(f"no VmHWM for pid {pid}")
