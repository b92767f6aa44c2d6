"""Traced-mode instrumentation for ``perfbench/run.py --trace 1``.

Everything here observes the program from outside: span wrappers around
the public functions and class methods of the ``stepist_spark`` layer
modules, a ``StreamingQueryListener``, and a reduction of Spark's own
event log. Nothing in ``stepist_spark`` is edited.

Spans stay in memory and are written once at exit. A span's self time is
its duration minus the time its child spans on the same thread cover;
work a span hands to other threads (thread-pool builds) stays in the
caller's self time as waiting.
"""

from __future__ import annotations

import bisect
import functools
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import sys
import threading
import time
import types
from datetime import datetime

LAYERS = ("session", "pipeline", "monitoring", "operators", "functions", "sources", "streaming")


def _layer_modules():
    mods = []
    for layer in LAYERS:
        mod = importlib.import_module(f"stepist_spark.{layer}")
        mods.append((layer, layer, mod))
        if hasattr(mod, "__path__"):
            for info in pkgutil.iter_modules(mod.__path__):
                sub = importlib.import_module(f"stepist_spark.{layer}.{info.name}")
                mods.append((layer, info.name, sub))
    return mods


def _path_bytes(path) -> int:
    if not isinstance(path, str):
        return 0
    path = path.removeprefix("file://").removeprefix("file:")
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Spans:
    """In-memory span recorder. Records are ``(layer, module, qualname,
    span id, parent span id, thread id, t0, t1, self_s, bytes_written)``
    with ``perf_counter`` times; the parent is the enclosing span on the
    same thread, or None."""

    KEYS = ("layer", "module", "name", "id", "parent", "thread", "t0", "t1", "self_s", "bytes_written")

    def __init__(self) -> None:
        self.enabled = False
        self.records: list[tuple] = []
        self._local = threading.local()
        self._ids = itertools.count()

    def _stack(self) -> list:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def wrap(self, layer: str, module: str, qualname: str, fn):
        spans = self
        measure_path = layer == "sources" and "write" in qualname
        sig = inspect.signature(fn) if measure_path else None

        @functools.wraps(fn)
        def span(*args, **kwargs):
            if not spans.enabled:
                return fn(*args, **kwargs)
            stack = spans._stack()
            span_id = next(spans._ids)
            parent = stack[-1][1] if stack else None
            stack.append([0.0, span_id])
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                children = stack.pop()[0]
                if stack:
                    stack[-1][0] += t1 - t0
                written = 0
                if sig is not None:
                    try:
                        written = _path_bytes(sig.bind(*args, **kwargs).arguments.get("path"))
                    except TypeError:
                        pass
                spans.records.append(
                    (layer, module, qualname, span_id, parent, threading.get_ident(),
                     t0, t1, t1 - t0 - children, written)
                )

        return span

    def install(self) -> None:
        """Wrap every public function and public class method defined in
        the layer modules, then rebind the names other ``stepist_spark``
        modules imported by value. Call before ``stepist_spark.queries``
        is imported so the gate modules pick the wrappers up directly."""
        wrapped: dict = {}
        for layer, short, mod in _layer_modules():
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if isinstance(obj, types.FunctionType) and not hasattr(obj, "evalType"):
                    wrapped[obj] = self.wrap(layer, short, attr, obj)
                    setattr(mod, attr, wrapped[obj])
                elif isinstance(obj, type) and not issubclass(obj, BaseException):
                    for name, meth in list(vars(obj).items()):
                        public = not name.startswith("_") or name in ("__init__", "__call__")
                        if public and isinstance(meth, types.FunctionType):
                            w = self.wrap(layer, short, f"{obj.__name__}.{name}", meth)
                            setattr(obj, name, w)
                            wrapped[meth] = w
        for name, mod in list(sys.modules.items()):
            if not name.startswith("stepist_spark") or mod is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if isinstance(obj, types.FunctionType) and obj in wrapped:
                    setattr(mod, attr, wrapped[obj])

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([dict(zip(self.KEYS, r)) for r in self.records], fh)


def span_metrics(records, t_lo: float, t_hi: float) -> dict[str, float]:
    """Per-layer sums for the spans that started inside ``[t_lo, t_hi)``."""
    m: dict[str, float] = {}

    def add(key, v):
        m[key] = m.get(key, 0) + v

    for layer, module, name, _, _, _, t0, t1, self_s, written in records:
        if not t_lo <= t0 < t_hi:
            continue
        if layer in ("operators", "functions"):
            add(f"{layer}.{module}.self_s", self_s)
            add(f"{layer}.{module}.calls", 1)
        elif layer == "session":
            if name == "spread":
                add("session.spread_calls", 1)
                add("session.spread_s", t1 - t0)
            elif name == "load_table":
                add("session.load_table_calls", 1)
        elif layer == "pipeline":
            kind = "hub" if name.startswith("Hub.") else "reducer" if name.startswith("ReducerStep.") else "step"
            add(f"pipeline.{kind}_s", self_s)
        elif layer == "monitoring":
            add("monitoring.instrument_s", self_s)
        elif layer == "sources":
            if "write" in name:
                add("sources.write_s", self_s)
                add("sources.bytes_written", written)
            elif "read" in name:
                add("sources.read_s", self_s)
    return m


def make_listener():
    """A ``StreamingQueryListener`` that keeps one tuple per progress
    event: (trigger epoch s, query id, input rows, addBatch s,
    triggerExecution s, state rows, state bytes)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.events: list[tuple] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            d = p.durationMs or {}
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            ops = p.stateOperators or []
            self.events.append(
                (
                    ts,
                    str(p.id),
                    p.numInputRows,
                    d.get("addBatch", 0) / 1000,
                    d.get("triggerExecution", 0) / 1000,
                    sum(op.numRowsTotal for op in ops),
                    sum(op.memoryUsedBytes for op in ops),
                )
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()


def streaming_metrics(events, t_lo: float, t_hi: float) -> dict[str, float]:
    """Streaming figures for the progress events of ``[t_lo, t_hi)``
    (epoch seconds)."""
    ev = [e for e in events if t_lo <= e[0] < t_hi]
    rows = sum(e[2] for e in ev)
    trig = sorted(e[4] for e in ev)
    add_batch = sum(e[3] for e in ev)
    last: dict[str, tuple] = {}
    for e in ev:
        last[e[1]] = e
    return {
        "streaming.batches": len(ev),
        "streaming.input_rows": rows,
        "streaming.rows_per_s": rows / sum(trig) if sum(trig) else 0.0,
        "streaming.batch_s_p50": trig[len(trig) // 2] if trig else 0.0,
        "streaming.add_batch_s": add_batch,
        "streaming.overhead_s": sum(trig) - add_batch,
        "streaming.state_rows": sum(e[5] for e in last.values()),
        "streaming.state_mem_mb": sum(e[6] for e in last.values()) / 2**20,
    }


def read_event_log(path: str):
    """(jobs, stages, tasks) from an uncompressed, non-rolling Spark event
    log. Times are epoch seconds."""
    jobs: dict[int, list] = {}
    stages: dict[tuple, list] = {}
    tasks: list[tuple] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = [ev["Submission Time"] / 1000, None]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]][1] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                stages[key] = [(info.get("Submission Time") or 0) / 1000, info["Number of Tasks"]]
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append(
                    (
                        info["Launch Time"] / 1000,
                        (ev["Stage ID"], ev["Stage Attempt ID"]),
                        bool(info.get("Failed")),
                        tm.get("Executor CPU Time", 0) / 1e9,
                        (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20,
                        sw.get("Shuffle Bytes Written", 0) / 2**20,
                        (tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)) / 2**20,
                        tm.get("JVM GC Time", 0) / 1000,
                    )
                )
    job_list = [(s, e) for s, e in jobs.values() if e is not None]
    return job_list, stages, tasks


def spark_metrics(log, windows) -> dict[str, float]:
    """Event-log figures for a set of gate windows ``[(t0, t1), ...]``
    (epoch seconds). Jobs, stages and tasks are attributed to a gate by
    the time they started, not by job group: job groups do not reach the
    plain thread pools some gates build from."""
    jobs, stages, tasks = log
    windows = sorted(windows)
    starts = [w[0] for w in windows]

    def window_of(t):
        i = bisect.bisect_right(starts, t) - 1
        return i if i >= 0 and t < windows[i][1] else None

    wall = sum(t1 - t0 for t0, t1 in windows)
    busy = 0.0
    n_jobs = 0
    per_window: dict[int, list] = {}
    for s, e in jobs:
        i = window_of(s)
        if i is not None:
            n_jobs += 1
            per_window.setdefault(i, []).append((s, min(e, windows[i][1])))
    for ivs in per_window.values():
        ivs.sort()
        cur_s, cur_e = ivs[0]
        for s, e in ivs[1:]:
            if s > cur_e:
                busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        busy += cur_e - cur_s
    stage_keys = {k for k, (s, _) in stages.items() if window_of(s) is not None}
    m = {
        "spark.jobs": n_jobs,
        "spark.stages": len(stage_keys),
        "spark.tasks": 0,
        "spark.one_task_stage_cpu_share": 0.0,
        "spark.job_busy_s": busy,
        "spark.driver_only_s": wall - busy,
        "spark.task_cpu_s": 0.0,
        "spark.shuffle_read_mb": 0.0,
        "spark.shuffle_write_mb": 0.0,
        "spark.spill_mb": 0.0,
        "spark.gc_s": 0.0,
        "spark.failed_tasks": 0,
    }
    one_task_cpu = 0.0
    for launch, stage, failed, cpu, sr, sw, spill, gc in tasks:
        if window_of(launch) is None:
            continue
        m["spark.tasks"] += 1
        m["spark.failed_tasks"] += failed
        m["spark.task_cpu_s"] += cpu
        m["spark.shuffle_read_mb"] += sr
        m["spark.shuffle_write_mb"] += sw
        m["spark.spill_mb"] += spill
        m["spark.gc_s"] += gc
        if stages.get(stage, (0, 0))[1] == 1:
            one_task_cpu += cpu
    if m["spark.task_cpu_s"]:
        m["spark.one_task_stage_cpu_share"] = one_task_cpu / m["spark.task_cpu_s"]
    return m
