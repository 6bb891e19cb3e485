"""Spans around the benchmark's calls into the program, and a memory
sampler.

Every span labels the Spark jobs it starts with a unique job description,
so stage and SQL-node metrics can be attached to the span that caused
them. Spans are kept in memory and written out once, at the end.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time

#: seconds between two memory samples
RSS_INTERVAL = 0.05
#: names (as /proc truncates them) of HotSpot's JIT compiler threads
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span; Spark jobs started inside carry its label."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None,
               "label": "%s/%d:%s" % (self.run_id, len(self.spans), name),
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._describe(rec["label"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._describe(parent["label"] if parent else None)

    def _describe(self, label):
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(label)

    @staticmethod
    def seconds(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def subtree(self, rec: dict) -> list[dict]:
        out = [rec]
        for child in self.children(rec):
            out += self.subtree(child)
        return out

    def named(self, name: str, under: dict | None = None) -> list[dict]:
        pool = self.subtree(under) if under else self.spans
        return [s for s in pool if s["name"] == name and s["end"]]

    def write(self, path: str, t0: float) -> None:
        """Write spans (times relative to ``t0``) with self time: the
        span's duration minus its children's, which run one after
        another on this thread."""
        out = []
        for s in self.spans:
            if s["end"] is None:
                continue
            kids = sum(self.seconds(c) for c in self.children(s)
                       if c["end"] is not None)
            rec = dict(s, start=s["start"] - t0, end=s["end"] - t0)
            rec["self_s"] = self.seconds(s) - kids
            out.append(rec)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": out}, f, indent=1)


def descendants(root: int) -> list[int]:
    """Live descendant process ids of ``root``, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % entry) as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def alive(pid: int) -> bool:
    """Whether ``pid`` still runs (a zombie has ended)."""
    try:
        with open("/proc/%d/stat" % pid) as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stat_ticks(path: str, fields: slice) -> int:
    try:
        with open(path) as f:
            stat = f.read()
    except OSError:
        return 0
    return sum(int(x) for x in stat.rsplit(")", 1)[1].split()[fields])


class CpuClock:
    """CPU time used so far by this process and its live descendants (the
    JVM and its Python workers), each with the children it has reaped.
    Unlike wall time, it does not grow while the host runs other work.

    The JVM's JIT compiler threads are left out: their time falls from
    one repetition to the next as code warms, by more than a third in the
    first few, and is not work the program does on its input. The JVM
    ends idle compiler threads while their time stays in its total, so
    each one's last reading is kept after it is gone."""

    def __init__(self):
        self._jit: dict[tuple[int, str], int] = {}

    def _read_jit(self, pid: int) -> None:
        try:
            tids = os.listdir("/proc/%d/task" % pid)
        except OSError:
            return
        for tid in tids:
            try:
                with open("/proc/%d/task/%s/comm" % (pid, tid)) as f:
                    name = f.read()
            except OSError:
                continue
            if name.startswith(JIT_THREADS):
                ticks = _stat_ticks("/proc/%d/task/%s/stat" % (pid, tid),
                                    slice(11, 13))
                if ticks:
                    self._jit[pid, tid] = ticks

    def seconds(self) -> float:
        ticks = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            # utime, stime, cutime, cstime
            ticks += _stat_ticks("/proc/%d/stat" % pid, slice(11, 15))
            self._read_jit(pid)
        ticks -= sum(self._jit.values())
        return ticks / os.sysconf("SC_CLK_TCK")


def _rss_bytes(pid: int) -> int:
    try:
        with open("/proc/%d/statm" % pid) as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed resident memory of this process's descendants (the
    JVM and its Python workers), sampled from ``/proc``; :meth:`lap`
    returns the peak since the previous lap. Pages a worker shares with
    the daemon it was forked from count once per process: proportional
    sizes (``smaps_rollup``) take tens of milliseconds to read for the
    JVM, which would disturb the run being measured."""

    def __init__(self):
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in descendants(me))
            with self._lock:
                self._peak = max(self._peak, total)
            self._stop.wait(RSS_INTERVAL)

    def lap(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
