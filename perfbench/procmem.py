"""Peak resident memory of a process tree, sampled from ``/proc``.

The sampled tree is this Python process and all its descendants: the
Spark JVM the driver launches and the Python workers the JVM forks.
Python processes count their proportional set size (PSS): forked Python
workers share their parent's pages, and summing plain RSS would count
those pages once per worker. The JVM counts its resident set size (RSS):
it shares almost nothing (its RSS and PSS agree within 0.2 %), and
reading its PSS walks the page tables of the whole heap, about 17 ms on
a 2 GB heap with the JVM's address-space lock held, which can stall the
JVM's own memory management at every sample.
"""

from __future__ import annotations

import os
import threading


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # comm may hold spaces and parentheses: ppid follows the last ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant of it."""
    children = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def alive(pid: int) -> bool:
    """False once ``pid`` has exited, zombies included."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:].split()[0] != b"Z"


PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def process_bytes(pid: int) -> int:
    """RSS of a JVM, PSS of any other process (see the module doc)."""
    with open(f"/proc/{pid}/comm", "rb") as f:
        is_jvm = f.read().strip() == b"java"
    if is_jvm:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * PAGE_BYTES
    with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
        for line in f:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            total += process_bytes(pid)
        except OSError:  # the process ended while being read
            continue
    return total


class PeakRss:
    """Context manager that samples the tree's summed memory every
    ``interval`` seconds and keeps the maximum in ``peak_bytes``."""

    def __init__(self, root: int | None = None, interval: float = 0.2):
        self.root = root or os.getpid()
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, tree_bytes(self.root))
