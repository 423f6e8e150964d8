"""Summaries of timed samples and readings of the machine from /proc."""

from __future__ import annotations

import math
import os
import threading

#: A tail percentile is reported only where at least this many samples
#: lie beyond it.
TAIL_BEYOND = 10
#: Seconds between two readings of the process tree's memory.
RSS_INTERVAL_S = 0.5


def tail(samples: list[float]) -> tuple[float, int, float]:
    """``(percentile, n, value)``: the highest whole percentile with at
    least :data:`TAIL_BEYOND` samples beyond it (nearest rank).

    When that percentile would not lie above the median — any run of
    at most ``2 * TAIL_BEYOND`` samples — the sample supports no tail,
    and the slowest sample is reported as percentile 100 instead.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    ordered = sorted(samples)
    pct = math.floor(100 * (n - TAIL_BEYOND) / n) if n > TAIL_BEYOND else 0
    if pct <= 50:
        return 100.0, n, ordered[-1]
    rank = math.ceil(pct * n / 100)
    return float(pct), n, ordered[rank - 1]


def descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # The command name may hold spaces or parentheses; the parent
        # pid is the second field after its closing parenthesis.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss_bytes(root: int | None = None) -> int:
    """Resident bytes of ``root`` (default: this process) and every
    process below it: the JVM and Spark's Python workers. Each process
    counts its proportional set size, so the pages a forked Python
    worker shares with its parent count once, not once per process."""
    total = 0
    for pid in descendants(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class PeakRss:
    """Sample :func:`tree_rss_bytes` on a thread until stopped."""

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="bench-rss",
                                        daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes())
            if self._stop.wait(RSS_INTERVAL_S):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes())


def cpu_times() -> list[int] | None:
    """The aggregate ``cpu`` line of /proc/stat, or None if unreadable."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return None
    if not fields or fields[0] != "cpu":
        return None
    return [int(x) for x in fields[1:]]


def steal_pct(before: list[int] | None,
              after: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor stole between two readings."""
    if before is None or after is None or len(before) < 8:
        return None
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total > 0 else None
