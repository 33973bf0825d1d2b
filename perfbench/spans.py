"""Outside-in tracing: spans around calls into the program's modules,
and the Spark event-log parser that attributes jobs and task metrics to
them.

A span is (name, start, end, parent).  Entering a span sets a Spark job
group unique to it; leaving restores the parent's group, so every job
Spark runs is owned by exactly one span.  Spans stay in memory; the
event log is read once, after the session stops and Spark has closed
the file.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

IDLE_GROUP = "bench:idle"


@dataclass
class Span:
    idx: int
    name: str
    parent: int | None
    start: float = 0.0  # wall clock (s), comparable with event-log times
    end: float = 0.0

    @property
    def group(self) -> str:
        return f"span{self.idx}:{self.name}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and owns the job group of the code running in them."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.idx if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.sc.setJobGroup(parent.group if parent else IDLE_GROUP, "")

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned call; returns the undo."""
        orig = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, orig)

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.idx]

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children(cur))
        return out


@dataclass
class GroupStats:
    """Spark work owned by one job group (one span)."""

    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submit, end) s
    tasks: int = 0
    failed_tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_delay_s: float = 0.0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    peak_exec_mem: int = 0

    def add(self, o: "GroupStats") -> None:
        self.jobs += o.jobs
        for k in ("tasks", "failed_tasks", "run_s", "cpu_s", "gc_s",
                  "sched_delay_s", "input_records", "shuffle_write_bytes",
                  "spill_bytes"):
            setattr(self, k, getattr(self, k) + getattr(o, k))
        self.peak_exec_mem = max(self.peak_exec_mem, o.peak_exec_mem)


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Job group -> work, from the (uncompressed) event log in ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}

    def g(name: str) -> GroupStats:
        return groups.setdefault(name, GroupStats())

    with open(os.path.join(log_dir, files[0])) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_group[jid] = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id", IDLE_GROUP
                )
                job_submit[jid] = ev["Submission Time"] / 1000
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                g(job_group[jid]).jobs.append(
                    (job_submit[jid], ev["Completion Time"] / 1000)
                )
            elif kind == "SparkListenerStageSubmitted":
                stage_group[ev["Stage Info"]["Stage ID"]] = (
                    ev.get("Properties") or {}
                ).get("spark.jobGroup.id", IDLE_GROUP)
            elif kind == "SparkListenerTaskEnd":
                st = g(stage_group.get(ev["Stage ID"], IDLE_GROUP))
                info = ev["Task Info"]
                st.tasks += 1
                st.failed_tasks += bool(info.get("Failed"))
                m = ev.get("Task Metrics") or {}
                if not m:
                    continue
                run_ms = m.get("Executor Run Time", 0)
                st.run_s += run_ms / 1000
                st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1000
                dur_ms = info["Finish Time"] - info["Launch Time"]
                st.sched_delay_s += max(
                    0,
                    dur_ms
                    - run_ms
                    - m.get("Executor Deserialize Time", 0)
                    - m.get("Result Serialization Time", 0),
                ) / 1000
                # records, not bytes: parquet's vectored reads run on
                # threads whose filesystem bytes the task never sees
                st.input_records += m.get("Input Metrics", {}).get("Records Read", 0)
                st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                st.peak_exec_mem = max(
                    st.peak_exec_mem, m.get("Peak Execution Memory", 0)
                )
    return groups


class Attribution:
    """Spans joined with the event log."""

    def __init__(self, tracer: Tracer, groups: dict[str, GroupStats]):
        self.tracer = tracer
        self.groups = groups

    def own(self, s: Span) -> GroupStats:
        return self.groups.get(s.group, GroupStats())

    def total(self, s: Span) -> GroupStats:
        out = GroupStats()
        for d in self.tracer.subtree(s):
            out.add(self.own(d))
        return out

    def driver_gap_s(self, s: Span) -> float:
        """Time in ``s`` during which no Spark job of its subtree ran."""
        iv = sorted(
            (max(a, s.start), min(b, s.end))
            for a, b in self.total(s).jobs
            if b > s.start and a < s.end
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return max(0.0, s.dur - covered)

    def spans(self, name: str) -> list[Span]:
        return [s for s in self.tracer.spans if s.name == name]

    def median_of(self, name: str, fn=lambda s: s.dur) -> float:
        """Median of ``fn`` (default: duration) over the spans called ``name``."""
        vals = [fn(s) for s in self.spans(name)]
        return statistics.median(vals) if vals else 0.0
