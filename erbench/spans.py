"""Spans and process-tree memory sampling for the ER benchmark.

Spans are recorded from the benchmark's own files, around the calls
into each layer of the program; they stay in memory and are summarised
when the run ends.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op: int
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1].name if self._stack else None
        s = Span(name, op, parent, time.monotonic())
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()
            self.spans.append(s)

    def total(self, name: str) -> list[float]:
        """Per-op summed duration of every span called ``name``."""
        per_op: dict[int, float] = {}
        for s in self.spans:
            if s.name == name:
                per_op[s.op] = per_op.get(s.op, 0.0) + s.dur
        return [per_op[k] for k in sorted(per_op)]


def noop(df) -> None:
    """Materialize ``df`` fully without collecting it (never ``count()``:
    Catalyst prunes unreferenced joins under count)."""
    df.write.format("noop").mode("overwrite").save()


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of every descendant of ``root`` (the Spark JVM
    and the Python workers it forks), excluding ``root`` itself."""
    parent: dict[int, int] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                rss[int(entry)] = int(f.read().split()[1])
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Background thread keeping the peak of ``tree_rss_bytes``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
