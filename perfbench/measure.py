"""Measurement helpers: sample summaries, /proc CPU and RSS, gzip
staging sizes, and an in-memory span tracer.

Nothing here imports Spark or the package under test, so the helpers
are unit-testable on their own (see ``test_measure.py``).
"""

from __future__ import annotations

import contextlib
import functools
import os
import statistics
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


# -- sample summaries --------------------------------------------------------

def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def summarize(values: list[float]) -> dict:
    """Median, sample count, and the highest percentile that still has
    at least ten samples above it (none below 11 samples)."""
    out = {"median": statistics.median(values), "n": len(values)}
    if len(values) >= 11:
        p = int(100 * (1 - 10 / len(values)))
        out[f"p{p}"] = percentile(values, p)
    return out


# -- /proc accounting --------------------------------------------------------

def parse_stat(raw: str) -> tuple[int, float]:
    """``(ppid, cpu_seconds)`` from one ``/proc/<pid>/stat`` line, where
    CPU is utime + stime + cutime + cstime, so children the process has
    already reaped are included."""
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, ticks / CLK_TCK


def read_stat(pid: int) -> tuple[int, float] | None:
    """:func:`parse_stat` of a live process; None if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return parse_stat(f.read())
    except OSError:
        return None


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = read_stat(int(name))
            if st is not None:
                kids.setdefault(st[0], []).append(int(name))
    return kids


def tree_pids(roots: list[int]) -> list[int]:
    kids = _children_map()
    seen: list[int] = []
    stack = [r for r in roots if r]
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.append(pid)
        stack.extend(kids.get(pid, []))
    return seen


def tree_cpu_seconds(roots: list[int]) -> float:
    """CPU seconds consumed so far by the process trees under ``roots``.
    Live processes report their own CPU plus their reaped children's, so
    summing the tree counts every finished or running process once."""
    total = 0.0
    for pid in tree_pids(roots):
        st = read_stat(pid)
        if st is not None:
            total += st[1]
    return total


def tree_rss_bytes(roots: list[int]) -> int:
    total = 0
    for pid in tree_pids(roots):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Background thread recording the peak summed RSS of a process tree."""

    def __init__(self, roots: list[int], interval: float = 0.2):
        self.roots = roots
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.roots))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


# -- staged file sizes -------------------------------------------------------

def gzip_isize(path: str) -> int:
    """Uncompressed size recorded in a single-member gzip file's
    trailer (ISIZE: the last four bytes, little-endian, modulo 2**32)."""
    with open(path, "rb") as f:
        f.seek(-4, os.SEEK_END)
        return int.from_bytes(f.read(4), "little")


def dir_files(root: str, suffix: str = "") -> dict[str, tuple[int, int]]:
    """``{path: (size, mtime_ns)}`` of the regular files under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(suffix):
                p = os.path.join(d, n)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def bytes_written(before: dict, after: dict) -> int:
    """Bytes in files that are new or changed between two ``dir_files``
    snapshots."""
    return sum(v[0] for p, v in after.items() if before.get(p) != v)


# -- spans -------------------------------------------------------------------

class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "run", "attrs", "cpu")

    def __init__(self, sid, name, start, parent, run, attrs):
        self.id, self.name, self.start = sid, name, start
        self.end = start
        self.parent, self.run, self.attrs = parent, run, attrs
        self.cpu = 0.0  # CPU seconds of the opening thread inside the span

    @property
    def duration(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start,
                "end": self.end, "parent": self.parent, "run": self.run,
                "cpu": self.cpu, **self.attrs}


class Tracer:
    """In-memory spans with parent links. Spans opened on one thread nest
    under that thread's innermost open span."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            s = Span(len(self.spans), name, time.perf_counter(),
                     stack[-1].id if stack else None, self.run_id, attrs)
            self.spans.append(s)
        stack.append(s)
        cpu0 = time.thread_time()
        try:
            yield s
        finally:
            s.cpu = time.thread_time() - cpu0
            s.end = time.perf_counter()
            stack.pop()

    def wrap(self, owner, attr: str, name: str, on_call=None, on_return=None):
        """Rebind ``owner.attr`` (a module or class attribute) to a
        wrapper that records a span per call. ``on_call(span, args)``
        runs before the call and ``on_return(span, args, result)`` after
        it; both may attach attributes. Returns an undo callable."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                if on_call is not None:
                    on_call(s, args)
                result = fn(*args, **kwargs)
                if on_return is not None:
                    on_return(s, args, result)
                return result

        setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
        return lambda: setattr(owner, attr, raw)


def union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval covered by its
    direct children (children may overlap one another)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in kids.get(s.id, [])]
        out[s.id] = s.duration - union_length([c for c in clipped if c[1] > c[0]])
    return out


def uncovered_share(root: Span, spans: list[Span]) -> float:
    """Share of ``root``'s wall time that no direct child span covers."""
    kids = [(max(s.start, root.start), min(s.end, root.end))
            for s in spans if s.parent == root.id]
    if root.duration <= 0:
        return 0.0
    return 1.0 - union_length([k for k in kids if k[1] > k[0]]) / root.duration
