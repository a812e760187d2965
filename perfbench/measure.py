"""Measurement helpers: process-tree RSS sampling from /proc, per-operation
Spark job/task counts through job groups, and in-memory tracing spans."""

from __future__ import annotations

import functools
import json
import os
import statistics
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces or parens: fields resume after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set size of ``root`` and all its descendants."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread recording the peak summed RSS of this process tree
    (this process, the JVM and the Python workers)."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))

    @property
    def peak_mb(self) -> float:
        return self.peak / 1e6


class JobCounter:
    """Tags each operation's Spark jobs with its own job group and reads
    job, task and failed-task counts back from ``statusTracker``."""

    def __init__(self, sc):
        self.sc = sc
        self.groups: list[str] = []

    def begin(self, name: str) -> None:
        gid = f"pb-{len(self.groups)}-{name}"
        self.groups.append(gid)
        self.sc.setJobGroup(gid, name)

    def end(self) -> None:
        self.sc.setJobGroup("pb-idle", "between operations")

    def counts(self) -> list[tuple[int, int, int]]:
        """(jobs, tasks, failed tasks) per operation, in begin() order."""
        try:  # status updates arrive through the listener bus
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:
            time.sleep(0.5)
        tracker = self.sc.statusTracker()
        out = []
        for gid in self.groups:
            jobs = tracker.getJobIdsForGroup(gid)
            tasks = failed = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in info.stageIds if info else ():
                    st = tracker.getStageInfo(s)
                    if st is not None:
                        tasks += st.numTasks
                        failed += st.numFailedTasks
            out.append((len(jobs), tasks, failed))
        return out


class Tracer:
    """In-memory spans (name, start, end, parent, op) recorded around calls
    into the program's layers; written out once, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.enabled = False

    def span(self, name: str, note=None):
        tracer = self

        class _Span:
            def __enter__(self):
                if not tracer.enabled:
                    self.i = None
                    return self
                self.i = len(tracer.spans)
                tracer.spans.append(
                    {
                        "name": name,
                        "op": tracer.op,
                        "parent": tracer._stack[-1] if tracer._stack else None,
                        "start": time.perf_counter(),
                        "end": None,
                        "note": note,
                    }
                )
                tracer._stack.append(self.i)
                return self

            def __exit__(self, *exc):
                if self.i is not None:
                    tracer._stack.pop()
                    tracer.spans[self.i]["end"] = time.perf_counter()

        return _Span()

    def instrument(self, owner, attr: str, name: str, note=None) -> None:
        """Record a span around every call of ``owner.attr``; module-level
        functions are also replaced wherever the package re-imported them.
        ``note(args, kwargs)`` stores one number about the call in the span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with self.span(name, note(a, kw) if note and self.enabled else None):
                return fn(*a, **kw)

        holders = [owner]
        if not isinstance(owner, type):
            holders += [
                m
                for key, m in list(sys.modules.items())
                if key.startswith("disq_original_spark") and m is not owner
                and getattr(m, attr, None) is fn
            ]
        for h in holders:
            setattr(h, attr, wrapped)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def self_times(self) -> dict[str, dict]:
        """Per span name: calls, total and self seconds (duration minus the
        union of its children's intervals)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, last = 0.0, s["start"]
            for a, b in sorted(kids.get(i, ())):
                a = max(a, last)
                if b > a:
                    covered += b - a
                    last = b
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_times": self.self_times()}, fh)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else float("nan")


def tail(xs, beyond: int = 10) -> tuple[float, float] | None:
    """(value, percentile) of the highest percentile with at least ``beyond``
    samples above it; None when there are too few samples."""
    xs = sorted(xs)
    if len(xs) <= beyond:
        return None
    k = len(xs) - beyond - 1  # index with exactly `beyond` samples after it
    return xs[k], 100.0 * (k + 1) / len(xs)
