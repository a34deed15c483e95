"""Tracing for the benchmark's per-layer run, plus the process-level probes
(resident memory, Spark job counts, JVM GC time) both runs share.

Spans are recorded only in the benchmark's own files, around calls into
the program's public functions: ``Tracer.wrap`` swaps a module or class
attribute for a timing wrapper and ``Tracer.close`` restores it. Spans live in memory as
``(name, start, end, parent, op)`` and are summarised when the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_MISSING = object()


class Tracer:
    """In-memory span recorder. ``enabled`` is switched per operation, so a
    traced run can interleave traced and untraced operations and report
    the overhead of tracing itself."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: dict[tuple[int, str], float] = defaultdict(float)
        self.enabled = False
        self.op: int | None = None
        self.root: int | None = None
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        # spans opened on another thread (Spark's streaming callback, the
        # program's own pools) hang off the operation's root span
        parent = stack[-1] if stack else self.root
        rec = [name, time.perf_counter(), None, parent, self.op]
        idx = len(self.spans)
        self.spans.append(rec)
        stack.append(idx)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            stack.pop()

    @contextmanager
    def operation(self, op: int, traced: bool):
        """One benchmark operation (a sync, a pass, a micro-batch): the root
        span every span of that operation descends from."""
        self.enabled, self.op = traced, op
        try:
            with self.span("runner.op"):
                self.root = len(self.spans) - 1 if traced else None
                yield
        finally:
            self.enabled, self.op, self.root = False, None, None

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[(self.op, name)] += n

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Time every call of ``owner.attr`` as span ``name`` and count it
        as ``name + '.calls'``; ``on_result(tracer, value)`` records extra
        counts."""
        original = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            tracer.count(name + ".calls")
            with tracer.span(name):
                out = original(*args, **kwargs)
            if on_result is not None:
                on_result(tracer, out)
            return out

        self._patches.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, wrapper)

    def close(self) -> None:
        for owner, attr, saved in reversed(self._patches):
            if saved is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, saved)
        self._patches.clear()

    # --- summaries ------------------------------------------------------

    def total_ms(self, name: str, ops=None) -> float:
        """Summed duration of spans called ``name`` (in ``ops``)."""
        return 1e3 * sum(
            s[2] - s[1] for s in self.spans
            if s[0] == name and (ops is None or s[4] in ops)
        )

    def self_ms(self, idx: int) -> float:
        """A span's duration minus the part of it its children cover."""
        name, start, end, _, _ = self.spans[idx]
        kids = sorted(
            (max(s[1], start), min(s[2], end))
            for s in self.spans if s[3] == idx
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return 1e3 * (end - start - covered)

    def count_total(self, name: str, ops=None) -> float:
        return sum(v for (op, n), v in self.counts.items()
                   if n == name and (ops is None or op in ops))


# --- process probes --------------------------------------------------------

def _proc_tree() -> dict[int, list[int]]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children[ppid].append(int(entry))
    return children


def _hwm_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024
    return 0  # kernel threads have no memory map


def tree_peak_rss_bytes(root: int, exclude: set[int]) -> int:
    """Sum of the peak resident memory (``VmHWM``) of ``root`` and its live
    descendants, skipping the ``exclude`` subtrees (the benchmark's peer
    processes). Each process's own peak is exact whenever it is read, so
    the sum does not depend on when the sample lands; it can exceed the
    tree's simultaneous peak when processes peak at different times."""
    children = _proc_tree()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            total += _hwm_bytes(pid)
        except OSError:
            continue
        todo.extend(children.get(pid, ()))
    return total


def cpu_ticks() -> tuple[int, int]:
    """(busy, steal) CPU ticks of the whole machine so far. Steal is time
    the hypervisor gave to other guests while this one wanted the CPU."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class RssSampler:
    """Reads the driver process tree's peak resident memory on a thread and
    keeps the largest sum: Python driver, the JVM and Spark's Python
    workers (a worker that exits between reads is missed)."""

    def __init__(self, exclude: set[int], interval: float = 1.0) -> None:
        self.exclude = exclude
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval):
                return

    def sample(self) -> None:
        self.peak = max(
            self.peak, tree_peak_rss_bytes(os.getpid(), self.exclude))

    def close(self) -> float:
        """Stop sampling; the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()
        return self.peak / 2**20


class SparkProbe:
    """Job/stage/task counts and JVM GC time read from the running session.
    Job groups do not reach jobs the program submits from helper threads,
    so an operation's jobs are all jobs started since the previous read;
    the benchmark runs one operation at a time."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._last_job = max(self.tracker.getJobIdsForGroup(None), default=-1)

    def jobs_since_last(self) -> tuple[int, int, int]:
        ids = [j for j in self.tracker.getJobIdsForGroup(None)
               if j > self._last_job]
        self._last_job = max(ids, default=self._last_job)
        stages = set()
        for j in ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return len(ids), len(stages), tasks

    def gc_ms(self) -> float:
        beans = (self.sc._jvm.java.lang.management.ManagementFactory
                 .getGarbageCollectorMXBeans())
        return float(sum(b.getCollectionTime() for b in beans))
