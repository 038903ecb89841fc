"""Spans and counters recorded from outside the package.

The benchmark wraps each public call it makes in a span (name, start,
end, parent span, operation id). Spans stay in memory and are written
out once, when the run ends. Counts are taken at the same boundaries:

- Spark jobs: by job-id range. One client drives the session, so every
  job submitted between an operation's start and end belongs to it,
  including jobs the package submits from its own thread pools (a
  ``setJobGroup`` is thread-local and would miss those). Stages, tasks,
  task time, shuffle and spill bytes come from the JVM status store.
- py4j round-trips: every ``ClientServerConnection.send_command`` from
  any Python thread, minus the tracer's own calls.
- JVM GC time: the driver's GC MXBeans.

An untraced run constructs a ``Tracer(enabled=False)``: its spans and
counters are no-ops, so end-to-end timings never include them.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time

import py4j.clientserver
from py4j.protocol import Py4JJavaError


class _RoundTrips:
    """Counts py4j commands sent to the JVM while installed."""

    def __init__(self):
        self.count = 0
        self._lock = threading.Lock()
        self._quiet = threading.local()
        self._orig = None

    def install(self) -> None:
        cls = py4j.clientserver.ClientServerConnection
        orig = self._orig = cls.send_command
        counter = self

        def send_command(conn, command, *args, **kwargs):
            if not getattr(counter._quiet, "on", False):
                with counter._lock:
                    counter.count += 1
            return orig(conn, command, *args, **kwargs)

        cls.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            py4j.clientserver.ClientServerConnection.send_command = self._orig
            self._orig = None

    @contextlib.contextmanager
    def quiet(self):
        """Calls made inside are the tracer's own, not the program's."""
        self._quiet.on = True
        try:
            yield
        finally:
            self._quiet.on = False


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
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


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        # seconds the tracer itself spent inside each operation
        self.cost: dict[int | None, float] = {}
        # the running operation: (op id, its root span id); spans opened
        # on a thread with no open span of its own (the stream's
        # foreachBatch thread, the engine's pools) hang under its root
        self.current: tuple[int | None, int | None] = (None, None)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stack = threading.local()
        self._rt = _RoundTrips()
        self._patched: list[tuple[object, str, object]] = []
        if enabled:
            jsc = spark.sparkContext._jsc.sc()
            self._dag = jsc.dagScheduler()
            self._bus = jsc.listenerBus()
            self._store = jsc.statusStore()
            self._gc_beans = list(
                spark._jvm.java.lang.management.ManagementFactory
                .getGarbageCollectorMXBeans()
            )
            self._rt.install()

    def close(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        self._rt.uninstall()

    # -- spans -----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        """Span around one call. Its parent is the innermost span open on
        this thread, else the running operation's root span. It records
        the py4j round-trips and Spark jobs started while it was open
        (exact for one thread; spans on concurrent threads overlap)."""
        if not self.enabled:
            yield None
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        op_id, root = self.current
        parent = stack[-1] if stack else root
        sid = next(self._ids)
        stack.append(sid)
        t_in = time.perf_counter()
        c0 = self._counters(gc=False)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            c1 = self._counters(gc=False)
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": t0, "end": t1,
                     "parent": parent, "op": op_id,
                     "roundtrips": c1["rt"] - c0["rt"], "jobs": c1["job"] - c0["job"]}
                )
                if parent is not None:
                    # the tracer's own time inside its operation
                    self.cost[op_id] = (
                        self.cost.get(op_id, 0.0) + (t0 - t_in) + (time.perf_counter() - t1)
                    )

    def phases(self, parent: int | None, start: float, timings: dict) -> None:
        """``process_batch(timings=)`` phases as contiguous child spans
        of ``parent`` from ``start``, in the order the engine took them."""
        if not self.enabled:
            return
        t = start
        with self._lock:
            for name, secs in timings.items():
                self.spans.append(
                    {"id": next(self._ids), "name": f"phase.{name}", "start": t,
                     "end": t + secs, "parent": parent, "op": self.current[0]}
                )
                t += secs

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span around every call of ``owner.attr`` (an object,
        class or module attribute) until ``close``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    # -- operations and counts --------------------------------------------

    def _counters(self, gc: bool = True) -> dict:
        with self._rt.quiet():
            return {
                "job": self._dag.nextJobId(),
                "rt": self._rt.count,
                "gc_ms": sum(b.getCollectionTime() for b in self._gc_beans) if gc else 0,
            }

    def begin(self) -> dict | None:
        return self._counters() if self.enabled else None

    def end(self, kind: str, start: dict | None, op_id: int, wall: float) -> None:
        """Close an operation: attribute the jobs in its id range and
        the round-trips and GC time since ``begin``."""
        if not self.enabled:
            return
        stop = self._counters()
        rec = {
            "op": op_id,
            "kind": kind,
            "wall_s": wall,
            "py4j_roundtrips": stop["rt"] - start["rt"],
            "gc_s": (stop["gc_ms"] - start["gc_ms"]) / 1000,
            "trace_cost_s": self.cost.get(op_id, 0.0),
        }
        rec.update(self._job_stats(start["job"], stop["job"]))
        rec["driver_outside_jobs_s"] = max(0.0, wall - rec["job_wall_s"])
        with self._lock:
            self.ops.append(rec)

    def _job_stats(self, first: int, stop: int) -> dict:
        out = {"jobs": stop - first, "stages": 0, "tasks": 0, "task_time_s": 0.0,
               "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "job_wall_s": 0.0}
        if stop == first:
            return out
        with self._rt.quiet():
            # job/stage end events reach the status store through the
            # listener bus asynchronously
            self._bus.waitUntilEmpty()
            intervals, stage_ids = [], set()
            for j in range(first, stop):
                try:
                    jd = self._store.job(j)
                except Py4JJavaError:  # evicted from the store
                    continue
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append(
                        (sub.get().getTime() / 1000, done.get().getTime() / 1000)
                    )
                it = jd.stageIds().iterator()
                while it.hasNext():
                    stage_ids.add(it.next())
            for s in stage_ids:
                try:
                    sd = self._store.lastStageAttempt(s)
                except Py4JJavaError:  # skipped: never attempted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["task_time_s"] += sd.executorRunTime() / 1000
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["job_wall_s"] = union_seconds(intervals)
        return out

    # -- output ------------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of
        it covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_seconds(
                [(max(a, s["start"]), min(b, s["end"]))
                 for a, b in children.get(s["id"], []) if b > s["start"] and a < s["end"]]
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **extra}, f)
