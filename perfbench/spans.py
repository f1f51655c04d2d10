"""Span recorder and the /proc CPU and memory sampler.

Spans are kept in memory and written out once, when the run ends.  A span's
self time is its duration minus the part of that interval its child spans
cover.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def secs(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every span: its duration minus the union of its
    children's intervals inside it."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.secs - _covered(children.get(s.id, []), s.start, s.end)
        for s in spans
    }


class Recorder:
    """Collects spans and samples of the process tree.

    Times are wall-clock seconds, the clock Spark's event log uses.  Spans
    nest per thread; a span opened on a thread with no open span (such as
    a ``foreachBatch`` callback) becomes a child of the outermost span open
    on the thread that created the recorder."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self.samples: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._root
        is_root = not stack and threading.get_ident() == self._main
        if is_root:
            self._root = sid
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            if is_root:
                self._root = None
            with self._lock:
                self.spans.append(
                    Span(sid, name, start, end, parent, self.run_id, attrs)
                )

    def dump(self, path: str) -> None:
        """Write every span, with its self time, and every sample."""
        own = self_times(self.spans)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [{**asdict(s), "self_s": own[s.id]} for s in self.spans],
                    "samples": self.samples,
                },
                f,
            )


# ---------------------------------------------------------------------------
# /proc sampler (psutil is not available)
# ---------------------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float] | None:
    """(ppid, CPU seconds including reaped children)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state): ppid is field 4, utime..cstime 14..17
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / _CLK


def _table() -> dict[int, tuple[int, float]]:
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    return stats


def _tree(root: int, stats: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    return _tree(root, _table())[1:]


def _pss(pid: int) -> int:
    """Proportional set size: shared pages (a forked Python worker shares
    most of its parent's) are split among the processes that map them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_usage(root: int) -> tuple[float, int]:
    """CPU seconds and summed PSS of ``root`` and all its descendants."""
    stats = _table()
    tree = [p for p in _tree(root, stats) if p in stats]
    return sum(stats[p][1] for p in tree), sum(_pss(p) for p in tree)


class Sampler:
    """Samples CPU and memory (PSS) of this process tree in a background
    thread, into ``recorder.samples``; ``peak_rss`` is the largest summed
    PSS seen since the last :meth:`reset`."""

    def __init__(self, recorder: Recorder, interval: float = 0.25) -> None:
        self.recorder = recorder
        self.interval = interval
        self.peak_rss = 0
        self._lock = threading.Lock()  # read() runs on two threads
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def reset(self) -> None:
        with self._lock:
            self.peak_rss = 0

    def read(self) -> tuple[float, int]:
        cpu, pss = tree_usage(os.getpid())
        with self._lock:
            self.peak_rss = max(self.peak_rss, pss)
        return cpu, pss

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            cpu, pss = self.read()
            self.recorder.samples.append({"t": time.time(), "cpu_s": cpu, "pss": pss})
