"""Process-tree CPU and memory, read from /proc.

On ``local[n]`` the tree is this driver, the JVM it launched and the
JVM's Python workers.  CPU is summed the way ``bench.py:tree_cpu_sec``
sums it: user+sys of every live descendant plus the time each one
already reaped from its own children.  Memory is the tree's resident
set with every page counted once: the sum of each process's PSS, which
splits a shared page between its sharers.  Summing plain RSS would
count the pages a forked Python worker shares with its daemon twice.
"""

from __future__ import annotations

import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")


def _scan() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, cpu ticks) for every readable process."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                data = f.read()
        except OSError:          # raced a process exit
            continue
        # comm may hold spaces or parens: split after the last ')';
        # post-comm index i holds 1-based stat field i + 3
        fields = data[data.rindex(")") + 2:].split()
        procs[int(pid)] = (int(fields[1]),
                           sum(int(fields[i]) for i in (11, 12, 13, 14)))
    return procs


def _tree(procs: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        if p in procs:
            out.append(p)
            stack.extend(kids.get(p, ()))
    return out


def process_age_s() -> float:
    """Seconds since this process started, by the kernel's clock: the
    interpreter's own start-up and imports count."""
    with open("/proc/self/stat") as f:
        data = f.read()
    start = int(data[data.rindex(")") + 2:].split()[19])   # field 22
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start / _HZ


def tree_cpu_s() -> float:
    procs = _scan()
    return sum(procs[p][1] for p in _tree(procs, os.getpid())) / _HZ


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:              # raced a process exit
        pass
    return 0


def tree_rss_mb() -> float:
    """Resident memory of the tree, each page counted once (PSS)."""
    return sum(_pss_kb(p) for p in _tree(_scan(), os.getpid())) / 1024


class RssSampler:
    """Background thread that keeps the peak of ``tree_rss_mb``."""

    def __init__(self, period_s: float = 0.5) -> None:
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
