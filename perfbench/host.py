"""Host probes read from ``/proc``: process-tree RSS, CPU steal, load.

The RSS sampler runs as a daemon thread for the whole benchmark run and
sums the resident set of this process and every descendant (the driver
JVM, the PySpark worker daemon and its forked Python workers).
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root: int) -> dict[str, int]:
    """Resident bytes of a process tree, by command name (java, python3)."""
    out: dict[str, int] = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                out[name] = out.get(name, 0) + int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of a process tree, reaped children included."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / _HZ


class RssSampler:
    """Tracks the peak summed RSS of a process tree until ``stop``."""

    def __init__(self, root: int, interval_s: float = 0.5):
        self.root = root
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_name: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            by_name = tree_rss_bytes(self.root)
            self.peak_bytes = max(self.peak_bytes, sum(by_name.values()))
            for name, b in by_name.items():
                self.peak_by_name[name] = max(self.peak_by_name.get(name, 0), b)
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_bytes / 2**20


def cpu_times() -> list[int]:
    """Aggregate jiffies from the ``cpu`` line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # user..steal; guest time is already in user
    return delta[7] / total if total > 0 and len(delta) > 7 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
