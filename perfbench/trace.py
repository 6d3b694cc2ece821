"""Spans, job groups and Spark event-log parsing for the traced run.

A span is (name, start, end, parent, run id), kept in memory and written
out at exit.  Each span labels the Spark jobs it fires with its own job
group, so stage and task metrics parsed from the event log attach to the
innermost span that caused them.  Only the standard library is used to
read the event log.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    group: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans around calls into the program's layers.

    With `sc=None` spans are still timed (the untraced run needs op
    times) but no job group is set; job groups are what the event log
    is joined on, so they exist only in the traced run."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # driver-thread time spent labelling job groups: what tracing
        # adds to the spans it measures (the event log is written on
        # Spark's listener thread and is not in it)
        self.overhead_s = 0.0

    def _label(self, sp: Span | None) -> None:
        if self.sc is None:
            return
        t = time.perf_counter()
        if sp is not None:
            self.sc.setJobGroup(sp.group, sp.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.overhead_s += time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            id=len(self.spans), name=name, start=0.0,
            parent=parent.id if parent else None, run_id=self.run_id, attrs=attrs,
        )
        sp.group = f"{self.run_id}:{sp.id}"
        self.spans.append(sp)
        self._stack.append(sp)
        self._label(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._label(parent)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval covered by
    its direct children (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.id, []), key=lambda c: c.start):
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


def descendants(spans: list[Span], root_id: int) -> list[Span]:
    """The span itself and every span below it."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [root_id]
    by_id = {s.id: s for s in spans}
    while todo:
        sid = todo.pop()
        out.append(by_id[sid])
        todo.extend(c.id for c in kids.get(sid, []))
    return out


def tail(values: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile with at least `beyond` samples above it:
    (value, percentile, sample count).  With n samples that is the
    (n - beyond)-th smallest, at percentile 100·(n - beyond)/n.  With
    `beyond` samples or fewer no such percentile exists and the maximum
    is returned at percentile 100."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("tail of no values")
    if n <= beyond:
        return v[-1], 100.0, n
    return v[n - beyond - 1], 100.0 * (n - beyond) / n, n


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------
@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    scan_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0

    def add(self, other: "GroupStats") -> None:
        for k in asdict(self):
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class EventLog:
    groups: dict[str, GroupStats] = field(default_factory=dict)
    # (group, scan kinds, wall seconds, task count) of every completed stage
    stages: list[tuple[str, frozenset, float, int]] = field(default_factory=list)
    # job group -> files the SQL scans read ("number of files read")
    files_read: dict[str, int] = field(default_factory=dict)


_SQL = "org.apache.spark.sql.execution.ui."


def _plan_metric_ids(plan: dict, name: str, out: set) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, out)


def _scan_kinds(stage_info: dict) -> frozenset:
    """Scan operators in a stage, e.g. {"text"} or {"parquet"}, from the
    operator scopes Spark records on each RDD."""
    kinds = set()
    for rdd in stage_info.get("RDD Info", []):
        try:
            name = json.loads(rdd.get("Scope") or "{}").get("name", "")
        except ValueError:
            continue
        if name.startswith("Scan "):
            kinds.add(name.split()[1].lower())
    return frozenset(kinds)


def parse_event_log(path: str) -> EventLog:
    """Per-job-group stats from Spark's JSON-lines event log.

    SparkListenerJobStart gives a job's group, SQL execution and stage
    ids; SparkListenerStageCompleted gives the stages that ran (skipped
    stages never complete), their wall time and scan operators;
    SparkListenerTaskEnd carries each task's metrics; the SQL execution
    events give the plan's driver-side metrics (files read)."""
    log = EventLog()
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    files_ids: dict[int, set] = {}
    accum: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                log.groups.setdefault(group, GroupStats()).jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
                if props.get("spark.sql.execution.id") is not None:
                    exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is None:
                    continue
                log.groups[group].stages += 1
                wall = (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1e3
                log.stages.append((group, _scan_kinds(info), wall, info.get("Number of Tasks", 0)))
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                m = ev.get("Task Metrics")
                if group is None or not m:
                    continue
                g = log.groups[group]
                g.tasks += 1
                g.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                g.scan_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                          _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                _plan_metric_ids(ev.get("sparkPlanInfo", {}), "number of files read",
                                 files_ids.setdefault(ev["executionId"], set()))
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in ev.get("accumUpdates", []):
                    accum[acc_id] = accum.get(acc_id, 0) + int(value)
    for eid, ids in files_ids.items():
        group = exec_group.get(eid)
        if group is not None:
            log.files_read[group] = log.files_read.get(group, 0) + sum(accum.get(i, 0) for i in ids)
    return log


def find_event_log(log_dir: str) -> str:
    """The single application log the run wrote into `log_dir`."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def span_stats(spans: list[Span], log: EventLog, root_id: int) -> GroupStats:
    """Stats of every job fired under a span, its children's included."""
    total = GroupStats()
    for s in descendants(spans, root_id):
        if s.group in log.groups:
            total.add(log.groups[s.group])
    return total
