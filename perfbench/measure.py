"""Measurement helpers: order statistics, spans and the Spark event-log fold.

Nothing here imports Spark, so the helpers are testable on their own
(``python3 -m pytest perfbench``).
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

TAIL_BEYOND = 10


def tail_percentile(samples: list[float], beyond: int = TAIL_BEYOND):
    """The highest percentile that still has ``beyond`` samples above it.

    Returns ``(value, percentile, count)`` where ``value`` is the
    sample with exactly ``beyond`` larger samples in sorted order,
    ``percentile`` is the share of samples at or below it (in %), and
    ``count`` is the number of samples. ``None`` when there are too few
    samples for such a percentile to exist (fewer than ``beyond + 1``).
    """
    n = len(samples)
    if n <= beyond:
        return None
    xs = sorted(samples)
    rank = n - beyond  # 1-based rank of the tail sample
    return xs[rank - 1], 100.0 * rank / n, n


def median(samples: list[float]) -> float:
    return float(statistics.median(samples))


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """``span``'s duration minus the part of it its child spans cover.

    Children are the spans whose ``parent`` is ``span``; overlapping
    children count once, and a child's part outside the parent's
    interval is ignored."""
    ivs = sorted(
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.sid
    )
    covered, cur_s, cur_e = 0.0, 0.0, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


class Tracer:
    """Spans kept in memory and written out once, when the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(len(self.spans), name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def as_records(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {
                "id": s.sid, "name": s.name, "parent": s.parent,
                "start_s": s.start - t0, "duration_s": s.duration,
                "self_s": self_time(s, self.spans), **s.attrs,
            }
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# Spark event log

@dataclass
class GroupStats:
    jobs: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # per-stage executor run times (s), for skew ratios
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    @property
    def wait_s(self) -> float:
        return self.task_s - self.cpu_s


def fold_event_log(lines) -> dict[str, GroupStats]:
    """Fold Spark event-log lines into per-job-group task statistics.

    A stage belongs to the job group of the first job that lists it;
    tasks are attributed through their stage. Jobs without a group
    fold under ``""``. Failed or killed tasks still count: their time
    was spent."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            groups[g].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            g = stage_group.get(sid, "")
            m = ev.get("Task Metrics") or {}
            st = groups[g]
            run_s = m.get("Executor Run Time", 0) / 1e3
            st.task_s += run_s
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
            st.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
            st.stage_tasks[sid].append(run_s)
    return dict(groups)


def read_event_log(log_dir: str, app_id: str) -> dict[str, GroupStats]:
    """Fold the finished (uncompressed, unrolled) log of ``app_id``."""
    with open(os.path.join(log_dir, app_id), encoding="utf-8") as f:
        return fold_event_log(f)


def task_skew(st: GroupStats) -> float:
    """Max over median task time in the group's busiest stage."""
    if not st.stage_tasks:
        return 0.0
    busiest = max(st.stage_tasks.values(), key=sum)
    med = statistics.median(busiest)
    return max(busiest) / med if med > 0 else 0.0


# ---------------------------------------------------------------------------
# host diagnostics

def steal_jiffies() -> int:
    with open("/proc/stat", encoding="ascii") as f:
        for line in f:
            if line.startswith("cpu "):
                return int(line.split()[8])
    return 0


def loadavg() -> list[float]:
    with open("/proc/loadavg", encoding="ascii") as f:
        return [float(x) for x in f.read().split()[:3]]


def tree_rss_mb(root_pid: int) -> float:
    """Summed resident memory of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(d)
        children[int(fields[1])].append(pid)
        rss[pid] = int(fields[21])  # pages
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total * page / 1e6


def process_age_s() -> float:
    """Seconds since this process started (from /proc/self/stat)."""
    with open("/proc/self/stat", encoding="ascii", errors="replace") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")
