"""Closed-loop measurement: one client runs the next operation only after
the previous one finished, for a fixed number of seconds."""

from __future__ import annotations

import os
import statistics
import threading
import time
from dataclasses import dataclass, field


@dataclass
class OpResult:
    """One timed operation: its wall time, the rows it processed, its
    recall and precision against the generator's truth, and every
    output check it failed."""

    seconds: float
    rows: int
    recall: float
    precision: float
    failures: list[str] = field(default_factory=list)


def _processes() -> tuple[dict[int, list[int]], dict[int, int]]:
    """Children per pid and resident kB per pid, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm") as fh:
                pages = int(fh.read().split()[1])
        except OSError:
            continue  # the process ended while we looked
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
        rss[int(entry)] = pages * os.sysconf("SC_PAGE_SIZE") // 1024
    return children, rss


def _descendants(children: dict[int, list[int]], root: int) -> list[int]:
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def descendants(root: int) -> list[int]:
    children, _ = _processes()
    return _descendants(children, root)


def _tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (driver,
    JVM and Python workers)."""
    children, rss = _processes()
    return sum(rss.get(pid, 0) for pid in [root, *_descendants(children, root)])


class RssSampler:
    """Samples the process tree's resident memory in a background
    thread and keeps the peak."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def run_window(op, seconds: float) -> list[OpResult]:
    """Run ``op`` back to back until ``seconds`` have passed (at least
    once); stop early after an operation whose checks failed."""
    ops: list[OpResult] = []
    t0 = time.perf_counter()
    while True:
        ops.append(op())
        if ops[-1].failures or time.perf_counter() - t0 >= seconds:
            return ops


def end_to_end(setup_s: float, ops: list[OpResult]) -> dict[str, float]:
    """A window holds a few operations (each takes seconds), so a
    timing is reported as its median only: no higher percentile has
    ten samples beyond it."""
    times = [o.seconds for o in ops]
    return {
        "setup_s": setup_s,
        "op_s": statistics.median(times),
        "rows_per_s": sum(o.rows for o in ops) / sum(times),
        "recall": statistics.median(o.recall for o in ops),
        "precision": statistics.median(o.precision for o in ops),
    }
