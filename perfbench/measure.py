"""Sampling helpers: order statistics, /proc process-tree CPU and RSS,
host steal.

Everything here reads Linux ``/proc``; nothing depends on Spark, so the
helpers are unit-tested on their own (``perfbench/tests``).
"""

from __future__ import annotations

import os
import statistics
import threading

TAIL_BEYOND = 10  # samples that must lie above the reported tail value
_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """The sample at the highest percentile that still has ``beyond``
    samples above it: ``(value, percentile, n)``.

    With ``n`` samples sorted ascending that is the one at index
    ``n - beyond - 1``; its percentile is the share of samples at or
    below it. Below ``beyond + 1`` samples no such percentile exists and
    the maximum is returned with percentile 100, so the caller can print
    the sample count next to it."""
    if not values:
        raise ValueError("tail of no samples")
    s = sorted(values)
    n = len(s)
    if n <= beyond:
        return float(s[-1]), 100.0, n
    i = n - beyond - 1
    return float(s[i]), 100.0 * (i + 1) / n, n


# ---------------------------------------------------------------------------
# /proc process tree
# ---------------------------------------------------------------------------


def _read_stat(pid: int, proc: str) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime in clock ticks) of one process."""
    try:
        with open(f"{proc}/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses: split after the
    # LAST ')'; the remaining fields start at field 3 (state)
    rest = raw[raw.rfind(b")") + 2 :].split()
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return ppid, utime + stime + cutime + cstime


def _read_rss(pid: int, proc: str) -> int:
    try:
        with open(f"{proc}/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def tree_pids(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        st = _read_stat(int(name), proc)
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int, proc: str = "/proc") -> float:
    """CPU seconds used so far by ``root``'s process tree.

    Each live process counts its own time plus that of its reaped
    children (``cutime``/``cstime``), so a Python worker that exits
    between two samples still counts: its time moves into its parent's
    child totals. Differences of two readings give the tree's CPU over
    an interval."""
    ticks = 0
    for pid in tree_pids(root, proc):
        st = _read_stat(pid, proc)
        if st is not None:
            ticks += st[1]
    return ticks / _CLK_TCK


def tree_rss_bytes(root: int, proc: str = "/proc") -> int:
    return sum(_read_rss(pid, proc) for pid in tree_pids(root, proc))


class RssPeak:
    """Background sampler of the process tree's summed RSS; ``peak`` is
    the largest sum seen while running."""

    def __init__(self, root: int, period_s: float = 0.2, proc: str = "/proc"):
        self.root, self.period_s, self.proc = root, period_s, proc
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root, self.proc))
            if self._stop.wait(self.period_s):
                return

    def __enter__(self) -> "RssPeak":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# host steal
# ---------------------------------------------------------------------------


def cpu_times(proc: str = "/proc") -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open(f"{proc}/stat") as f:
        fields = f.readline().split()
    vals = [int(x) for x in fields[1:9]]  # user..steal (guest is in user)
    return sum(vals), vals[7]


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0
