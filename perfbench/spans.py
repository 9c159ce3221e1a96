"""Spans and peak-RSS sampling for one benchmark run."""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from dataclasses import asdict, dataclass

from eventlog import union_length


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float
    parent: int | None
    run_id: str
    group: str | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Times every call the benchmark makes into the package.

    Spans are always timed, because the end-to-end metrics are built from
    them. Only a traced run also tags each span's Spark jobs with a job
    group (one py4j call per span), so its event log can be attributed.
    Spans stay in memory until :meth:`dump`.
    """

    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.spark = None

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if self.traced and group and self.spark is not None:
            self.spark.sparkContext.setJobGroup(group, group)
        rec = Span(name, time.time(), 0.0, parent, self.run_id, group)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec.end = time.time()
            self._stack.pop()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = self.children(self.spans.index(span))
        return span.dur - union_length([(c.start, c.end) for c in kids])

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def descendants(root: int) -> set[int]:
    """Every live descendant pid of ``root`` (from /proc/<pid>/stat)."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
            parent[int(entry)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    out: set[int] = set()
    frontier = [root]
    while frontier:
        p = frontier.pop()
        for child, ppid in parent.items():
            if ppid == p and child not in out:
                out.add(child)
                frontier.append(child)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class MemSampler:
    """Summed PSS of this process's descendants (the driver JVM and the
    Python workers it forks), sampled every ``interval`` seconds from
    /proc (no psutil). PSS splits pages shared after a fork between the
    sharers, so the sum does not grow with the number of idle forked
    workers the way summed RSS does."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.samples.append(sum(_pss_bytes(p) for p in descendants(me)))
            self._stop.wait(self.interval)

    def quantile(self, q: float) -> int:
        """The ``q`` quantile of the samples (nearest rank)."""
        ordered = sorted(self.samples)
        return ordered[min(len(ordered) - 1, int(q * len(ordered)))] if ordered else 0

    def __enter__(self) -> "MemSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
