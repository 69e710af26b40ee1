"""In-memory spans around the program's public entry points, and a
peak-RSS sampler over the benchmark's process tree.

Spans are recorded by wrapping module attributes from outside the
program: the wrapped function runs unchanged inside a span. Spans are
kept in a list and written out once, when the benchmark ends.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass(eq=False)
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run: str = ""

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder for the calling thread; spans opened on other
    threads are recorded without a parent."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._owner = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        own = threading.get_ident() == self._owner
        parent = self._stack[-1] if own and self._stack else None
        s = Span(name, time.perf_counter(), parent=parent, run=self.run_id)
        self.spans.append(s)
        idx = len(self.spans) - 1
        if own:
            self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if own:
                self._stack.pop()

    def wrap(self, owner, attr: str, name=None):
        """Replace ``owner.attr`` by a spanned call. ``name`` is a string
        or a function of the call's arguments returning one."""
        fn = getattr(owner, attr)
        label = name or f"{getattr(owner, '__name__', owner)}.{attr}"

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            n = label(*args, **kwargs) if callable(label) else label
            with self.span(n):
                return fn(*args, **kwargs)

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def named(self, prefix: str, root: Span | None = None) -> list[Span]:
        """Spans whose name starts with ``prefix``, inside ``root``'s
        interval when given."""
        return [
            s for s in self.spans
            if s.name.startswith(prefix)
            and (root is None or (s.start >= root.start and s.end <= root.end))
        ]

    def children(self, span: Span) -> list[Span]:
        idx = self.spans.index(span)
        return [s for s in self.spans if s.parent == idx]

    def self_seconds(self, span: Span) -> float:
        """Span duration minus the union of its children's intervals."""
        covered, last = 0.0, span.start
        for c in sorted(self.children(span), key=lambda s: s.start):
            lo, hi = max(c.start, last), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                last = hi
        return span.seconds - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def descendants() -> list[int]:
    """Live descendant pids of this process."""
    return [p for p in _tree_pids(os.getpid()) if p != os.getpid()]


def alive(pid: int) -> bool:
    """The process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Samples the summed resident memory of this process and all its
    descendants (the JVM and the Python workers) every ``interval``
    seconds on a background thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in _tree_pids(os.getpid()))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
