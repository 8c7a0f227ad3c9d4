"""Spans, Spark event-log counters and process-tree memory.

Spans are recorded only here, around calls into the program's public
functions; nothing inside `lcmap_firebird_spark` is instrumented. A
span sets the Spark job description to its name and the local
property `perfbench.op` to the op id (both restored on exit), so every
job the call launches is attributable in the event log.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field, fields

OP_PROP = "perfbench.op"


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans when `enabled`; otherwise `span` is a no-op, so
    the untraced run pays nothing beyond one attribute test."""

    sc: object = None  # SparkContext
    enabled: bool = False
    op: int = -1
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        prev_desc = self.sc.getLocalProperty("spark.job.description")
        prev_op = self.sc.getLocalProperty(OP_PROP)
        s = Span(name, self.op, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        self.sc.setJobDescription(name)
        self.sc.setLocalProperty(OP_PROP, str(self.op))
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(prev_desc)
            self.sc.setLocalProperty(OP_PROP, prev_op)

    def self_time(self, idx: int) -> float:
        """Span duration minus the part its direct children cover
        (children of one span never overlap: calls are sequential)."""
        s = self.spans[idx]
        kids = sum(c.wall for c in self.spans if c.parent == idx)
        return s.wall - kids


SPAN_COST_SAMPLES = 200


def span_cost_s(sc) -> float:
    """Mean wall time of one enabled span around no work: the cost
    tracing adds per span, apart from any work the traced calls add."""
    tracer = Tracer(sc=sc, enabled=True)
    t0 = time.perf_counter()
    for _ in range(SPAN_COST_SAMPLES):
        with tracer.span("trace:empty"):
            pass
    return (time.perf_counter() - t0) / SPAN_COST_SAMPLES


def wrap(tracer: Tracer, name: str, fn):
    """`fn` recorded as span `name` on every call."""

    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, object]]):
    """Temporarily replace module attributes: (module, attr, new)."""
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in targets]
    for mod, attr, new in targets:
        setattr(mod, attr, new)
    try:
        yield
    finally:
        for mod, attr, old in saved:
            setattr(mod, attr, old)


# -- event log ---------------------------------------------------------------

EVENTLOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

_MB = 1024.0 * 1024.0


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # per stage: task durations in ms, for max/median skew
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))

    def add(self, other: "JobStats") -> None:
        for f in fields(self):
            if f.name != "stage_tasks":
                setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))
        for stage, durs in other.stage_tasks.items():
            self.stage_tasks[stage].extend(durs)

    def skew(self) -> float:
        """Run-time-weighted mean over stages with >1 task of
        max/median task duration (1.0 = perfectly balanced)."""
        num = den = 0.0
        for durs in self.stage_tasks.values():
            if len(durs) < 2:
                continue
            med = statistics.median(durs)
            if med <= 0:
                continue
            w = float(sum(durs))
            num += w * max(durs) / med
            den += w
        return num / den if den else 1.0


def read_event_log(log_dir: str) -> dict[tuple[int, str], JobStats]:
    """Aggregate SparkListener events per (op id, job description).

    Reads the single uncompressed JSON-lines log Spark writes with
    EVENTLOG_CONF. Jobs without a perfbench op id are skipped."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {files}")
    stage_key: dict[int, tuple[int, str]] = {}
    out: dict[tuple[int, str], JobStats] = defaultdict(JobStats)
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if OP_PROP not in props:
                    continue
                key = (int(props[OP_PROP]), props.get("spark.job.description", ""))
                js = out[key]
                js.jobs += 1
                js.stages += len(ev["Stage IDs"])
                for sid in ev["Stage IDs"]:
                    stage_key[sid] = key
            elif kind == "SparkListenerTaskEnd":
                key = stage_key.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if key is None or not m:
                    continue
                js = out[key]
                js.tasks += 1
                js.run_s += m["Executor Run Time"] / 1e3
                js.cpu_s += m["Executor CPU Time"] / 1e9
                js.gc_s += m["JVM GC Time"] / 1e3
                js.input_mb += m["Input Metrics"]["Bytes Read"] / _MB
                js.output_mb += m["Output Metrics"]["Bytes Written"] / _MB
                sr = m["Shuffle Read Metrics"]
                js.shuffle_read_mb += (
                    sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                ) / _MB
                js.shuffle_write_mb += (
                    m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / _MB
                )
                js.spill_mb += m["Disk Bytes Spilled"] / _MB
                info = ev["Task Info"]
                js.stage_tasks[(ev["Stage ID"], ev["Stage Attempt ID"])].append(
                    info["Finish Time"] - info["Launch Time"]
                )
    return out


# -- memory ------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE") if hasattr(os, "sysconf") else 4096


def tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of `root_pid` and all its descendants, from
    /proc (driver Python, the JVM it launched, Python workers)."""
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children[ppid].append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


RSS_INTERVAL_S = 0.2


class RssSampler:
    """Background thread sampling the process tree's RSS every
    RSS_INTERVAL_S; stop() returns the largest sum seen since start(),
    in MB."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(RSS_INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread.ident is not None:
            self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
        return self.peak / _MB
