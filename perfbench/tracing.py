"""Spans, progress samples and memory, measured from outside the engine.

A span is (id, name, start, end, parent) around one call into a layer's
public function; spans stay in memory and are written out once at the
end.  With tracing off every call is a no-op, so the untraced run pays
nothing but a context-manager enter/exit.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

import numpy as np


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple[int, str, float, float, int | None]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.progress: list[dict] = []  # StreamingQueryProgress records
        self.overhead_s = 0.0  # time spent inside the tracer itself
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            self.spans.append((sid, name, 0.0, 0.0, stack[-1] if stack else None))
        stack.append(sid)
        start = time.perf_counter()
        self.overhead_s += start - c0
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                _, _, _, _, parent = self.spans[sid]
                self.spans[sid] = (sid, name, start, end, parent)
            self.overhead_s += time.perf_counter() - end

    def durations(self, name: str) -> list[float]:
        return [e - s for _, n, s, e, _ in self.spans if n == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for _, _, s, e, parent in self.spans:
            if parent is not None:
                children[parent].append((s, e))
        out: dict[str, float] = defaultdict(float)
        for sid, name, s, e, _ in self.spans:
            covered, cur = 0.0, s
            for cs, ce in sorted(children.get(sid, [])):
                cs, ce = max(cs, cur), min(ce, e)
                if ce > cs:
                    covered += ce - cs
                    cur = ce
            out[name] += (e - s) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"id": i, "name": n, "start": s, "end": e, "parent": p}
                        for i, n, s, e, p in self.spans
                    ],
                    "counts": self.counts,
                    "progress": self.progress,
                },
                f,
            )


def median(xs, default: float = 0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def pct(xs, q: float) -> float:
    """The q-th percentile (linear interpolation); 0.0 when empty."""
    xs = list(xs)
    return float(np.percentile(xs, q)) if xs else 0.0


class ProgressLog:
    """Every StreamingQueryProgress of one query, keyed by batch id.
    ``poll`` reads the public ``recentProgress`` (a ring of the last
    100 batches), so polling at least once per 100 batches loses
    nothing."""

    def __init__(self) -> None:
        self.by_batch: dict[int, dict] = {}

    def poll(self, query) -> None:
        for p in query.recentProgress:
            d = json.loads(p.json)
            self.by_batch.setdefault(d["batchId"], d)

    def batches(self) -> list[dict]:
        return [self.by_batch[k] for k in sorted(self.by_batch)]

    def rows_in(self) -> int:
        return sum(int(b.get("numInputRows", 0)) for b in self.batches())


class Sampler:
    """A background thread calling ``fn`` every ``period_s`` until
    stopped; exceptions are kept and re-raised by ``stop``."""

    def __init__(self, fn, period_s: float) -> None:
        self._fn, self._period = fn, period_s
        self._stop = threading.Event()
        self._err: BaseException | None = None
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        try:
            while not self._stop.wait(self._period):
                self._fn()
        except BaseException as e:  # re-raised in stop()
            self._err = e

    def start(self) -> "Sampler":
        self._t.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=30)
        if self._err is not None:
            raise self._err


def _tree_pss_bytes(root: int, exclude: set[int]) -> int:
    """Proportional resident bytes (PSS: a page shared by k processes
    counts 1/k in each) summed over ``root`` and its descendants, minus
    the subtrees rooted at ``exclude``.  PSS rather than RSS, so the
    sum does not depend on how many forked Python workers share the
    interpreter's pages at the moment of sampling."""
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # ppid is the 2nd field after the parenthesised command name
        kids[int(stat.rsplit(")", 1)[1].split()[1])].append(int(d))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
        todo.extend(kids.get(pid, []))
    return total


class PeakMem:
    """Peak proportional resident memory of this process tree (the
    engine: Python driver, JVM, Python workers), excluding the load
    generator."""

    def __init__(self, exclude: set[int], period_s: float = 0.5) -> None:
        self.peak = 0
        self._exclude = exclude
        self._sampler = Sampler(self.sample, period_s)

    def sample(self) -> None:
        self.peak = max(self.peak, _tree_pss_bytes(os.getpid(), self._exclude))

    def start(self) -> "PeakMem":
        self.sample()
        self._sampler.start()
        return self

    def stop(self) -> float:
        self._sampler.stop()
        self.sample()
        return self.peak / 2**20
