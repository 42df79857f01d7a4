"""Measurement for the benchmark: steal-net intervals, in-memory spans, and
Spark event-log reduction.

Spans are recorded by the benchmark around its calls into the engine; the
engine itself is not instrumented. Spark's event log (switched on from
outside, uncompressed and not rolling) supplies the task-level counts; the
reducer attributes each task to the job group the benchmark set for the op
that launched it.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time
from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def check_metric_names(names: Iterable[str]) -> None:
    """Raise ValueError unless every name is a legal, unique metric name."""
    seen: set[str] = set()
    for name in names:
        if not METRIC_NAME.fullmatch(name):
            raise ValueError(f"illegal metric name: {name!r}")
        if name in seen:
            raise ValueError(f"duplicate metric name: {name!r}")
        seen.add(name)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_cpu_s() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the host since boot, from /proc/stat.

    Busy time excludes idle, I/O wait and steal; steal is time a vCPU was
    ready to run but the hypervisor ran another guest.
    """
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9]
        )
    return (user + nice + system + irq + softirq) / _CLK_TCK, steal / _CLK_TCK


class Interval:
    """Wall time of an interval and the host CPU time spent and stolen in it.

    On a shared host the hypervisor hands some of the CPU time a run asks for
    to other guests, and the wall time stretches by that share. ``unstolen_s``
    scales the wall time by busy / (busy + steal): the share of the CPU time
    asked for that the run got. With no steal it is the wall time.
    """

    def __init__(self) -> None:
        self.busy0, self.steal0 = host_cpu_s()
        self.t0 = time.perf_counter()
        self.wall = self.busy = self.steal = 0.0

    def stop(self) -> Interval:
        busy, steal = host_cpu_s()
        self.wall = time.perf_counter() - self.t0
        self.busy, self.steal = busy - self.busy0, steal - self.steal0
        return self

    @property
    def unstolen_s(self) -> float:
        asked = self.busy + self.steal
        return self.wall * self.busy / asked if asked > 0 else self.wall

    def as_dict(self) -> dict:
        return {"wall": self.wall, "busy": self.busy, "steal": self.steal,
                "unstolen": self.unstolen_s}


@dataclass
class Span:
    name: str
    pass_id: str
    start: float
    end: float = 0.0
    parent: int | None = None  # index of the enclosing span in Tracer.spans
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory; a disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.pass_id = "setup"
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, self.pass_id, time.perf_counter(), parent=parent, attrs=attrs)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn: Callable, name: str) -> Callable:
        """``fn`` with every call recorded as a span named ``name``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "name": s.name,
                        "pass": s.pass_id,
                        "start": s.start,
                        "end": s.end,
                        "parent": s.parent,
                        **s.attrs,
                    }
                    for s in self.spans
                ],
                f,
            )


def patch_helpers(tracer: Tracer, helpers: dict[str, tuple[str, str]]) -> Callable[[], None]:
    """Wrap engine helper functions in spans, wherever a module binds them.

    ``helpers`` maps span name -> (module path, function name). Query modules
    import helpers from each other by name, so every loaded engine module
    attribute bound to the original function is replaced. Returns a function
    that restores the originals.
    """
    restore: list[tuple[object, str, object]] = []
    for span_name, (mod_path, fn_name) in helpers.items():
        original = getattr(sys.modules[mod_path], fn_name)
        wrapped = tracer.wrap(original, span_name)
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("wri_data_processing_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, wrapped)
                    restore.append((mod, attr, original))

    def undo() -> None:
        for mod, attr, val in restore:
            setattr(mod, attr, val)

    return undo


# --- event log --------------------------------------------------------------


@dataclass
class GroupStats:
    """Task-level totals for the jobs of one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_busy_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    fetch_wait_s: float = 0.0
    spill_mb: float = 0.0
    input_mb: float = 0.0

    def add(self, other: GroupStats) -> None:
        for k, v in vars(other).items():
            setattr(self, k, getattr(self, k) + v)


def reduce_event_log(lines: Iterable[str]) -> dict[str, GroupStats]:
    """Per job group totals from an uncompressed Spark event log.

    Jobs without a job group are reported under the empty string.
    """
    stage_group: dict[int, str] = {}
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            stats[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = group
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            stats[stage_group.get(sid, "")].stages += 1
        elif kind == "SparkListenerTaskEnd":
            g = stats[stage_group.get(ev["Stage ID"], "")]
            info = ev.get("Task Info", {})
            g.tasks += 1
            if info.get("Failed") or ev.get("Task End Reason", {}).get("Reason") != "Success":
                g.failed_tasks += 1
            g.task_busy_s += (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
            m = ev.get("Task Metrics") or {}
            g.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
            g.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 1e6
            sw = m.get("Shuffle Write Metrics") or {}
            g.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
            sr = m.get("Shuffle Read Metrics") or {}
            g.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
            g.fetch_wait_s += sr.get("Fetch Wait Time", 0) / 1e3
    return dict(stats)
