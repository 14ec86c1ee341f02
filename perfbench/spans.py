"""Spans around engine calls, and their cost from Spark's event log.

The benchmark wraps every timed call in :meth:`Tracer.span`, which gives
the call its own Spark job group and keeps ``(name, pass, start, end)`` in
memory, each end a :class:`Mark` of wall clock and CPU time.  With
the event log on, :func:`parse_event_log` reads the uncompressed JSON-lines
log after the session stops and :func:`span_costs` attributes every job,
and the tasks of its stages, to the span whose job group it ran under.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import NamedTuple

CLK_TCK = os.sysconf("SC_CLK_TCK")


class Mark(NamedTuple):
    """A point in time: wall clock, the CPU clock ticks this process and
    its descendants (the driver JVM and its Python workers) have used so
    far, and the machine's busy and stolen ticks so far (all cores, from
    /proc/stat)."""

    t: float  # epoch seconds, the clock Spark stamps events with
    cpu: int
    busy: int
    steal: int


def _tree_ticks() -> int:
    """User and system ticks of this process and every live descendant,
    plus those of the children each has already reaped."""
    kids: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        pid = int(entry)
        kids[int(fields[1])].append(pid)
        # utime, stime, cutime, cstime
        ticks[pid] = sum(map(int, fields[11:15]))
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    return total


def mark() -> Mark:
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9])
    return Mark(time.time(), _tree_ticks(), user + nice + system + irq + softirq, steal)


def cpu_s(a: Mark, b: Mark) -> float:
    """CPU seconds this process tree used between two marks."""
    return (b.cpu - a.cpu) / CLK_TCK


def unstolen_wall_s(a: Mark, b: Mark) -> float:
    """Wall between two marks less the share the hypervisor stole: the
    wall times the machine's busy share of its busy-plus-stolen ticks.
    A vCPU is stolen from only while it has work, so this holds however
    many cores the work kept busy."""
    busy, steal = b.busy - a.busy, b.steal - a.steal
    return (b.t - a.t) * busy / (busy + steal) if busy + steal else b.t - a.t


def split(t0: Mark, t1: Mark, t2: Mark) -> dict[str, float]:
    """Wall and CPU seconds of a pass cut in two at ``t1`` (L0->L1, then
    L1->L2; build, then execute for the registry)."""
    return {
        "l1_s": t1.t - t0.t, "l2_s": t2.t - t1.t, "wall_s": t2.t - t0.t,
        "l1_cpu_s": cpu_s(t0, t1), "l2_cpu_s": cpu_s(t1, t2), "cpu_s": cpu_s(t0, t2),
        "unstolen_wall_s": unstolen_wall_s(t0, t2),
        "steal_s": (t2.steal - t0.steal) / CLK_TCK,
    }


@dataclass
class Span:
    name: str
    pass_no: int
    group: str
    start: Mark
    end: Mark | None = None

    @property
    def wall(self) -> float:
        return self.end.t - self.start.t

    @property
    def cpu(self) -> float:
        return cpu_s(self.start, self.end)


class Tracer:
    """Records one span per timed call; spans stay in memory."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.pass_no = 0

    @contextmanager
    def span(self, name: str):
        group = f"{self.pass_no}:{len(self.spans)}:{name}"
        self.sc.setJobGroup(group, name)
        s = Span(name, self.pass_no, group, mark())
        try:
            yield s
        finally:
            s.end = mark()
            self.spans.append(s)
            self.sc.setLocalProperty("spark.jobGroup.id", None)


@dataclass
class GroupCost:
    """Everything the event log says about one job group."""

    jobs: list = field(default_factory=list)  # (start_s, end_s) per job
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    input_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(path: str) -> dict[str, GroupCost]:
    """Job group -> cost, from one uncompressed, non-rolling event log."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    out: dict[str, GroupCost] = defaultdict(GroupCost)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = group
                job_start[jid] = ev["Submission Time"] / 1000.0
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    out[job_group[jid]].jobs.append(
                        (job_start[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                c = out[group]
                c.exec_run_s += m.get("Executor Run Time", 0) / 1000.0
                c.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                c.gc_s += m.get("JVM GC Time", 0) / 1000.0
                c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                c.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                c.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return dict(out)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


@dataclass
class SpanCost:
    wall_s: float = 0.0
    jobs: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    gc_s: float = 0.0
    driver_gap_s: float = 0.0
    shuffle_mb: float = 0.0
    input_mb: float = 0.0
    spill_mb: float = 0.0

    def add(self, span: Span, cost: GroupCost | None) -> None:
        self.wall_s += span.wall
        cost = cost or GroupCost()
        self.jobs += len(cost.jobs)
        self.exec_run_s += cost.exec_run_s
        self.exec_cpu_s += cost.exec_cpu_s
        self.gc_s += cost.gc_s
        self.driver_gap_s += span.wall - union_length(cost.jobs, span.start.t, span.end.t)
        self.shuffle_mb += cost.shuffle_write_bytes / 1e6
        self.input_mb += cost.input_bytes / 1e6
        self.spill_mb += cost.spill_bytes / 1e6


def span_costs(spans: list[Span], groups: dict[str, GroupCost]) -> dict[tuple[int, str], SpanCost]:
    """(pass, span name) -> summed cost of every span of that name in the pass."""
    out: dict[tuple[int, str], SpanCost] = defaultdict(SpanCost)
    for s in spans:
        out[(s.pass_no, s.name)].add(s, groups.get(s.group))
    return dict(out)
