"""Spans and counters taken from outside the program.

``Tracer`` records spans (name, start, end, parent, request id) around the
calls into each layer by wrapping the package's functions from here; no
code inside the package changes. Calls that happen hundreds of times per
query (block decoding) are folded into counters on the enclosing span
instead of getting spans of their own.

``SparkCounters`` reads jobs/stages/tasks per span through the public job
group + ``statusTracker()`` API. ``ProcSampler`` reads CPU time and memory (PSS) of
the whole process tree (driver, JVM, Python workers) from ``/proc``; its
thread is the only one the benchmark adds.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Span:
    __slots__ = ("name", "start", "end", "parent", "request", "counts")

    def __init__(self, name, start, parent, request):
        self.name, self.start, self.end = name, start, None
        self.parent, self.request = parent, request
        self.counts: dict[str, float] = {}

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``wrap`` and ``count`` patch a layer's
    entry point; ``uninstall`` restores every patched one."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.request = None

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), parent, self.request)
        self._stack.append(len(self.spans))
        self.spans.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def add(self, key: str, value: float) -> None:
        """Add to a counter on the innermost open span."""
        if self._stack:
            c = self.spans[self._stack[-1]].counts
            c[key] = c.get(key, 0.0) + value

    def _patch(self, owner, attr: str, wrapper) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, functools.wraps(orig)(wrapper(orig)))

    def wrap(self, owner, attr: str, name=None, after=None) -> None:
        """Record a span around ``owner.attr``. ``name`` may be a function
        of the call's arguments; ``after(span, result, args, kwargs)`` adds
        counts once the timed call has returned."""

        def wrapper(orig):
            def call(*args, **kwargs):
                nm = name(*args, **kwargs) if callable(name) else (name or attr)
                with self.span(nm) as sp:
                    out = orig(*args, **kwargs)
                if after is not None:
                    with self.span("trace.count"):  # kept out of the parent's self time
                        after(sp, out, args, kwargs)
                return out

            return call

        self._patch(owner, attr, wrapper)

    def count(self, owner, attr: str, key: str, per_call=None, timed=True) -> None:
        """Fold calls of ``owner.attr`` into ``<key>_calls`` (and, if
        ``timed``, ``<key>_s``; ``per_call(args)`` into ``<key>_items``) on
        the open span. Leave ``timed`` off for a function whose time is
        already counted by a counted function it calls."""

        def wrapper(orig):
            def call(*args, **kwargs):
                t0 = time.perf_counter()
                out = orig(*args, **kwargs)
                if timed:
                    self.add(key + "_s", time.perf_counter() - t0)
                self.add(key + "_calls", 1)
                if per_call is not None:
                    self.add(key + "_items", per_call(args))
                return out

            return call

        self._patch(owner, attr, wrapper)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    # -- analysis ---------------------------------------------------------
    def children(self) -> dict[int, list[int]]:
        out: dict[int, list[int]] = {}
        for i, sp in enumerate(self.spans):
            if sp.parent is not None:
                out.setdefault(sp.parent, []).append(i)
        return out

    def self_time(self, i: int, children: dict[int, list[int]]) -> float:
        """Span duration minus the part its child spans cover (children of
        one span never overlap: calls are synchronous)."""
        return self.spans[i].dur - sum(self.spans[c].dur for c in children.get(i, ()))

    def under(self, root: int, children: dict[int, list[int]]):
        """Indices of every span below ``root``."""
        todo = list(children.get(root, ()))
        while todo:
            i = todo.pop()
            yield i
            todo.extend(children.get(i, ()))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": sp.name, "start": sp.start, "end": sp.end,
                    "parent": sp.parent, "request": sp.request, "counts": sp.counts,
                }) + "\n")


class SparkCounters:
    """Spark work per span via job groups and the status tracker."""

    def __init__(self, sc):
        self.sc = sc
        self._n = 0

    @contextmanager
    def group(self):
        """Tag every job started inside the block; the yielded dict gets
        {jobs, stages, tasks, failed_tasks} once the block has ended."""
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        result: dict[str, int] = {}
        try:
            yield result
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            result.update(self.counts(gid))

    def counts(self, gid: str, timeout_s: float = 10.0) -> dict[str, int]:
        """The status store is filled from Spark's asynchronous listener
        bus, so the last job's counts can lag the action's return. Poll
        until every job has ended, every counted stage has all its tasks
        accounted for, and two reads in a row agree (or the timeout)."""
        deadline = time.monotonic() + timeout_s
        last = None
        while True:
            got, settled = self._read(gid)
            if (settled and got == last) or time.monotonic() >= deadline:
                return got
            last = got
            time.sleep(0.05)

    def _read(self, gid: str) -> tuple[dict[str, int], bool]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(gid)
        stages = tasks = failed = 0
        settled = True
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None and info.status not in ("SUCCEEDED", "FAILED"):
                settled = False
            for s in info.stageIds if info else ():  # None: evicted
                si = st.getStageInfo(s)
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue  # skipped (reused shuffle output) or evicted
                if info.status == "SUCCEEDED":
                    settled &= si.numCompletedTasks + si.numFailedTasks >= si.numTasks
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}, settled


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rfind(")") + 2 :].split()  # fields from "state" on


def running(pid: int) -> bool:
    """The process exists and has not exited (a zombie has)."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"


def tree_pids(root: int) -> list[int]:
    """``root`` and all its descendants, from the ppid field in /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(int(d))
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    total = 0
    for p in tree_pids(root):
        f = _stat_fields(p)
        if f is not None:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def _pss_bytes(pids: list[int]) -> int:
    """Summed proportional set size: pages shared between forked Python
    workers are split among them instead of counted once per process."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class ProcSampler:
    """Background sampler of the tree's summed PSS; keeps the peak."""

    def __init__(self, root: int, interval_s: float = 0.2, rescan_every: int = 10):
        self.root, self.interval_s, self.rescan_every = root, interval_s, rescan_every
        self.peak_pss = 0
        self._pids: list[int] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-sampler", daemon=True)

    def _sample(self, rescan: bool) -> None:
        if rescan:
            self._pids = tree_pids(self.root)
        self.peak_pss = max(self.peak_pss, _pss_bytes(self._pids))

    def _run(self) -> None:
        n = 0
        while not self._stop.is_set():
            with self._lock:
                self._sample(n % self.rescan_every == 0)
            n += 1
            self._stop.wait(self.interval_s)

    @contextmanager
    def paused(self):
        """No sampling inside the block, one sample on each side. Reading
        the JVM's smaps costs the driver process milliseconds of system
        time, which would otherwise land in the CPU time of a timed query."""
        with self._lock:
            self._sample(True)
            try:
                yield
            finally:
                self._sample(True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_pss = max(self.peak_pss, _pss_bytes(tree_pids(self.root)))
