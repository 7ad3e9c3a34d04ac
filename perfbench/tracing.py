"""Spans, interval arithmetic, percentiles and Spark event-log parsing.

Pure Python, no Spark import: the unit tests in ``perfbench/tests``
exercise everything here against small hand-made and recorded inputs.

Spans are kept in memory (``Tracer``) and written out once, at exit.
A span's self time is its duration minus the part of its interval
that its child spans cover. Spark jobs are matched to benchmark ops
through the job group: every op runs under ``setJobGroup(op_id)``, and
the event log records the group on each job and stage.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import time
from dataclasses import asdict, dataclass

MB = 1024 * 1024


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    id: int = 0


class Tracer:
    """Nested wall-clock spans (epoch seconds, so they line up with the
    millisecond timestamps of Spark's event log)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, time.time(), math.nan, parent, op, len(self.spans))
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        covered = union_length(
            [(c.start, c.end) for c in self.children(span)], span.start, span.end)
        return (span.end - span.start) - covered

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + self.self_time(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals, lo: float = -math.inf, hi: float = math.inf) -> float:
    """Length of the union of ``(start, end)`` intervals, clipped to
    ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(start: float, end: float, job_intervals) -> float:
    """Wall time of ``[start, end]`` during which no Spark job ran."""
    return (end - start) - union_length(job_intervals, start, end)


def median(xs):
    xs = sorted(xs)
    n = len(xs)
    if not n:
        raise ValueError("median of no samples")
    mid = n // 2
    return xs[mid] if n % 2 else (xs[mid - 1] + xs[mid]) / 2


TAIL_LADDER = (50.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(samples, min_beyond: int = 10):
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``min_beyond`` samples strictly above it, as ``(pct, value)``
    (nearest-rank), or ``None`` when even the median has fewer."""
    xs = sorted(samples)
    n = len(xs)
    best = None
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(round(p * n / 100.0, 9)))
        if rank > n:
            break
        value = xs[rank - 1]
        if sum(1 for x in xs if x > value) >= min_beyond:
            best = (p, value)
    return best


# Spark event log -----------------------------------------------------------

def event_log_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir`` (Spark 4 writes a rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` directory; older layouts
    write one flat file)."""
    out = []
    for root, _dirs, files in os.walk(log_dir):
        for f in files:
            if not f.startswith(".") and not f.startswith("appstatus"):
                out.append(os.path.join(root, f))

    def order(p):
        base = os.path.basename(p)
        parts = base.split("_")
        return (os.path.dirname(p),
                int(parts[1]) if len(parts) > 2 and parts[1].isdigit() else 0)
    return sorted(out, key=order)


@dataclass
class GroupStats:
    """What Spark did for one job group (one benchmark op)."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_failures: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0


def parse_event_log(lines) -> tuple[dict[str, GroupStats], dict[str, list]]:
    """Fold event-log JSON lines into per-group totals and per-group job
    intervals ``[(start_s, end_s), ...]``. Lines of unknown events
    are skipped; a job with no end event (the log was cut) is dropped
    from the intervals but still counted."""
    stats: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: dict[str, list] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = group
            job_start[jid] = ev["Submission Time"] / 1000.0
            stats.setdefault(group, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                intervals.setdefault(job_group[jid], []).append(
                    (job_start[jid], ev["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                stats.setdefault(group, GroupStats()).stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev["Stage ID"])
            if group is None:
                continue
            g = stats.setdefault(group, GroupStats())
            g.tasks += 1
            reason = (ev.get("Task End Reason") or {}).get("Reason")
            if reason != "Success" or (ev.get("Task Info") or {}).get("Failed"):
                g.task_failures += 1
            m = ev.get("Task Metrics") or {}
            g.executor_run_s += m.get("Executor Run Time", 0) / 1000.0
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1000.0
            g.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_mb += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0)) / MB
    return stats, intervals


def read_event_log(log_dir: str):
    def lines():
        for path in event_log_files(log_dir):
            with open(path) as fh:
                yield from fh
    return parse_event_log(lines())


@contextlib.contextmanager
def instrument(tracer: Tracer, targets):
    """Wrap ``owner.attr`` with a span named ``span_name`` for each
    ``(owner, attr, span_name)`` in ``targets`` (``owner`` is a module or
    a class) and restore the originals on exit. The wrapped calls are
    the program's layer entry points, so the spans say where an op's
    wall time went without changing what the program runs."""
    import functools
    saved = []
    try:
        for owner, attr, span_name in targets:
            orig = getattr(owner, attr)

            def wrapper(*args, _orig=orig, _name=span_name, **kwargs):
                with tracer.span(_name):
                    return _orig(*args, **kwargs)
            saved.append((owner, attr, orig))
            setattr(owner, attr, functools.wraps(orig)(wrapper))
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
