"""Spans, percentiles and Spark-side counters for the traced run.

``Tracer`` keeps spans in memory (name, start, end, parent, one trace id
per operation) and writes them as JSON lines when the run ends.
``NullTracer`` is the untraced run's stand-in: same interface, no
records, so the end-to-end metrics carry no tracing cost.

``EventLog`` parses a Spark event log offline (JSON lines, no UI) into
per-job-group task totals; job groups are how build and execute phases
are told apart.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


def percentile(values: list[float], q: float) -> dict:
    """Nearest-rank percentile ``q`` (0-100) with its sample count."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, -(-len(s) * q // 100))  # ceil(n*q/100), at least 1
    return {"value": s[int(rank) - 1], "n": len(s)}


def median(values: list[float]) -> float:
    return statistics.median(values)


# A measured unit (query pass, pipeline cycle) during which the host
# stole more than this share of the VM's CPU time is left out of the
# end-to-end figures; see ``clean_units``.
STEAL_MAX = 0.03


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the CPU time between two ``cpu_jiffies`` readings that
    the hypervisor gave to other guests."""
    total = b[1] - a[1]
    return (b[0] - a[0]) / total if total > 0 else 0.0


# A measure loop that has run its ``--seconds`` goes on while fewer
# than MIN_CLEAN units are clean, up to EXTEND times ``--seconds``.
MIN_CLEAN = 3
EXTEND = 1.25


def more_units(shares: list[float], elapsed: float, seconds: float, min_units: int) -> bool:
    """Whether a measure loop starts another unit, given the steal
    shares of the units so far."""
    if len(shares) < min_units or elapsed < seconds:
        return True
    clean = sum(s <= STEAL_MAX for s in shares)
    return clean < MIN_CLEAN and elapsed < EXTEND * seconds


def clean_units(shares: list[float]) -> list[int]:
    """Indexes of the units with at most ``STEAL_MAX`` stolen; every
    index when fewer than two are clean (the figures then include the
    noise, and the runner says so on standard error)."""
    clean = [i for i, s in enumerate(shares) if s <= STEAL_MAX]
    return clean if len(clean) >= 2 else list(range(len(shares)))


class Span:
    __slots__ = ("name", "trace", "id", "parent", "start", "end", "attrs")

    def __init__(self, name: str, trace: int, sid: int, parent: int | None, start: float):
        self.name = name
        self.trace = trace
        self.id = sid
        self.parent = parent
        self.start = start
        self.end = start
        self.attrs: dict = {}

    @property
    def dur(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "trace": self.trace,
            "id": self.id,
            "parent": self.parent,
            "start": self.start,
            "end": self.end,
            **({"attrs": self.attrs} if self.attrs else {}),
        }


class Tracer:
    """In-memory span recorder.  ``span`` nests under the innermost open
    span of the calling thread; ``op`` does too, but starts a new trace
    id (one per operation: a query call, a pipeline cycle)."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._next = 0
        self._traces = 0
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        st = self._stack()
        with self._lock:
            self._next += 1
            sid = self._next
            if new_trace or not st:
                self._traces += 1
                trace = self._traces
            else:
                trace = st[-1].trace
        parent = st[-1].id if st else None
        sp = Span(name, trace, sid, parent, time.perf_counter())
        sp.attrs.update(attrs)
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    def op(self, name: str, **attrs):
        return self.span(name, new_trace=True, **attrs)

    def write(self, path: str) -> None:
        """One JSON line per span, with its self time."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        own = self_times(self.spans)
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(sp.as_dict() | {"self": own[sp.id]}) + "\n")

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


class NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        yield None

    def op(self, name: str, **attrs):
        return self.span(name)

    def write(self, path: str) -> None:
        pass

    def named(self, name: str) -> list:
        return []


def self_times(spans) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its direct
    children cover (children may overlap each other; the union counts
    once)."""
    children: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(s.id, [])):
            a, b = max(a, s.start), min(b, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.dur - covered
    return out


# ------------------------------------------------------------- Spark side


class EventLog:
    """Task totals per job group, read from a finished event log."""

    def __init__(self, path: str) -> None:
        self.group_of_stage: dict[int, str] = {}
        self.groups: dict[str, dict] = {}
        self.stage_task_times: dict[int, list[int]] = {}
        self._parse(path)

    def _group(self, name: str) -> dict:
        g = self.groups.get(name)
        if g is None:
            g = self.groups[name] = {
                "stages": set(),
                "tasks": 0,
                "failed_tasks": 0,
                "run_ms": 0,
                "gc_ms": 0,
                "input_bytes": 0,
                "input_rows": 0,
                "shuffle_read_bytes": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
            }
        return g

    def _parse(self, path: str) -> None:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or "_none"
                    for sid in ev.get("Stage IDs", []):
                        self.group_of_stage[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    g = self._group(self.group_of_stage.get(sid, "_none"))
                    g["stages"].add(sid)
                    g["tasks"] += 1
                    reason = (ev.get("Task End Reason") or {}).get("Reason")
                    if reason not in (None, "Success"):
                        g["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    run = int(m.get("Executor Run Time", 0))
                    g["run_ms"] += run
                    g["gc_ms"] += int(m.get("JVM GC Time", 0))
                    inp = m.get("Input Metrics") or {}
                    g["input_bytes"] += int(inp.get("Bytes Read", 0))
                    g["input_rows"] += int(inp.get("Records Read", 0))
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_bytes"] += int(sr.get("Remote Bytes Read", 0)) + int(
                        sr.get("Local Bytes Read", 0)
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_bytes"] += int(sw.get("Shuffle Bytes Written", 0))
                    g["spill_bytes"] += int(m.get("Memory Bytes Spilled", 0)) + int(
                        m.get("Disk Bytes Spilled", 0)
                    )
                    self.stage_task_times.setdefault(sid, []).append(run)

    def worst_skew(self, groups: list[str], min_tasks: int = 4, floor_ms: int = 20) -> float:
        """max ÷ median task run time over the groups' stages, worst
        stage; stages with few or trivially short tasks are ignored
        (1.0 when none qualifies)."""
        worst = 1.0
        for sid, group in self.group_of_stage.items():
            if group not in groups:
                continue
            times = self.stage_task_times.get(sid, [])
            if len(times) < min_tasks:
                continue
            med = statistics.median(times)
            if med < floor_ms:
                continue
            worst = max(worst, max(times) / med)
        return worst


def find_event_log(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no finished event log for {app_id} in {log_dir}")
