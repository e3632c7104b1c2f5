"""Small statistics and process helpers shared by the runner and its tests."""

from __future__ import annotations

import math
import os

# The tail is reported at the highest of these percentiles that keeps at
# least TAIL_MIN_BEYOND samples strictly beyond it.
TAIL_LADDER = tuple(float(p) for p in range(50, 100)) + (99.5, 99.9)
TAIL_MIN_BEYOND = 10


def _rank(n: int, pct: float) -> int:
    return max(1, math.ceil(round(pct / 100.0 * n, 9)))


def nearest_rank(values: list[float], pct: float) -> float:
    """The ``pct`` percentile by nearest rank (a value that was measured)."""
    return sorted(values)[_rank(len(values), pct) - 1]


def tail_percentile(values: list[float]) -> tuple[float, float, int]:
    """``(percentile, value, samples_beyond)`` for the highest ladder
    percentile with at least ``TAIL_MIN_BEYOND`` samples beyond it.

    With fewer than ``2 * TAIL_MIN_BEYOND`` samples no rung qualifies and
    the tail falls back to the median, with its smaller count beyond.
    """
    if not values:
        raise ValueError("no samples")
    n = len(values)
    chosen = TAIL_LADDER[0]
    for pct in TAIL_LADDER:
        if n - _rank(n, pct) >= TAIL_MIN_BEYOND:
            chosen = pct
    return chosen, nearest_rank(values, chosen), n - _rank(n, chosen)


def children() -> dict[int, list[int]]:
    """Child pids of every process, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # Field 4 (ppid) follows the parenthesised command name.
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids, tree, todo = children(), [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, ()))
    return tree


def tree_cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of ``pids``, including their reaped
    children (a Python worker's CPU lands in its daemon's counters)."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the kernel's resident-memory high-water mark (VmHWM) over
    ``root`` and its live descendants: the JVM and its Python workers."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next((int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0)
        except OSError:
            pass
    return total_kb / 1024
