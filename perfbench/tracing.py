"""Spans around calls into the program's layers, and process-tree RSS.

Spans stay in memory and are written once, as one JSON file, when the run
ends. A span's self time is its duration minus the part of it covered by
its child spans.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """Records (name, start, end, parent, run id) spans. A disabled tracer
    records nothing, so untraced runs pay one branch per call."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a micro-batch's progress)."""
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "name": name, "parent": parent, "run": self.run_id, "start": start, "end": end, **attrs}
        )
        return sid

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, last), min(b, s["end"])
                if b > a:
                    covered += b - a
                    last = b
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, "self_s": self.self_times(), **extra}, indent=1))


def process_tree(root: int) -> set[int]:
    """``root`` and all its live descendants (the driver JVM is a child of
    this process, its Python workers are the JVM's children)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        state, ppid = stat.rsplit(")", 1)[1].split()[:2]
        if state not in "ZX":
            parent[int(d)] = int(ppid)
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


def _tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class PeakRss:
    """Samples the process tree's RSS every ``interval`` seconds while
    active. ``peak_mb`` is the 95th percentile of the samples: a robust
    peak, which one sample's transient (a worker being forked) cannot set."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False

    def _run(self) -> None:
        me = os.getpid()
        while True:
            self.samples.append(_tree_rss_bytes(me))
            if self._stop.wait(self.interval):
                return

    @property
    def peak_mb(self) -> float:
        if len(self.samples) < 20:
            return max(self.samples, default=0) / 2**20
        return statistics.quantiles(self.samples, n=20)[18] / 2**20
