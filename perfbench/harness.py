"""Measurement plumbing: spans, process-tree memory, percentiles and the
clean-up of the processes a run starts."""

from __future__ import annotations

import itertools
import json
import math
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    group: str  # spans of one job or one micro-batch share this id
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing, so the
    same workload code runs traced and untraced."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cost_s = 0.0  # wall time spent recording spans
        self._ids = itertools.count(1)
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, group: str = ""):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), parent.span_id if parent else None, name,
                 group or (parent.group if parent else ""), time.perf_counter())
        self._stack.append(s)
        self.cost_s += time.perf_counter() - t0
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            self.cost_s += time.perf_counter() - s.end

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the part of it
        covered by its children."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent_id is not None:
                children.setdefault(s.parent_id, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s.start
            for c in sorted(children.get(s.span_id, []), key=lambda c: c.start):
                lo, hi = max(c.start, cursor), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_s": self.self_times()}, f, indent=1)


def _stat(pid: int) -> tuple[int, str, int] | None:
    """(parent pid, state, start time in clock ticks) of ``pid`` from
    /proc, or None if it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return int(fields[1]), fields[0], int(fields[19])


def descendants(root: int) -> dict[int, int]:
    """Every live descendant of ``root`` (not ``root`` itself), as pid ->
    start time, so that a later check is not fooled by a reused pid."""
    stats = {int(d): _stat(int(d)) for d in os.listdir("/proc") if d.isdigit()}
    tree, frontier = {}, [root]
    while frontier:
        p = frontier.pop()
        for c, st in stats.items():
            if st is not None and st[0] == p and c not in tree:
                tree[c] = st[2]
                frontier.append(c)
    return tree


def stop_processes(procs: dict[int, int], timeout_s: float = 30.0) -> None:
    """Wait until every process of ``procs`` (from ``descendants``) has
    ended: reap it if it is our child, SIGKILL it if it is still running
    after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    live = dict(procs)
    while live:
        for pid, start in list(live.items()):
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == pid:
                    del live[pid]
                    continue
            except ChildProcessError:
                pass  # not our child; it is gone once /proc says so
            st = _stat(pid)
            if st is None or st[2] != start or st[1] in ("Z", "X"):
                del live[pid]
            elif time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        if live:
            time.sleep(0.05)


def _tree_pss_kb(root: int) -> int:
    """Summed proportional set size (Pss) of ``root`` and all its
    descendants, from /proc. Summed RSS would count the pages that forked
    Python workers share with their daemon once per worker, so it jumps with
    the number of live workers; Pss splits shared pages among their users."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue  # exited while sampling
    return total


class MemSampler:
    """Background sampler of this process tree's summed Pss (this process,
    the JVM and the Python workers). Only samples taken while ``active`` are
    kept, as (perf_counter, kB) pairs."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []
        self.active = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.wait(self.interval_s):
            if self.active:
                kb = _tree_pss_kb(root)
                self.samples.append((time.perf_counter(), kb))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def median_peak_mb(self, spans: list[tuple[float, float]]) -> float:
        """Median over ``spans`` (start, end) of the peak sampled in each, in
        MB: one job's peak depends on when the JVM happened to collect
        garbage, the median is the typical peak of one job."""
        peaks = [max((kb for t, kb in self.samples if lo <= t <= hi), default=0) for lo, hi in spans]
        peaks = [x for x in peaks if x] or [max((kb for _, kb in self.samples), default=0)]
        return statistics.median(peaks) / 1024.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    xs = sorted(values)
    k = max(0, math.ceil(q / 100.0 * len(xs)) - 1)
    return xs[k]
