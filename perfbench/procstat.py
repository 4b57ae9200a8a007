"""Resident memory and CPU time of a process tree, read from /proc.

The tree is this Python driver, the Spark JVM it launches and the JVM's Python
workers. A background thread samples the summed resident set a few times a
second and keeps its peak. CPU time is utime + stime of every live process in
the tree plus cutime + cstime, which holds the time of children already reaped,
so a worker that exits between two readings is still counted.
"""

from __future__ import annotations

import os
import threading

TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        fields = _stat_fields(int(entry))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def rss_bytes(pids) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


def cpu_seconds(pids) -> float:
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] are utime, stime, cutime, cstime (stat fields 14-17)
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / TICK


def steal_ticks() -> int:
    """Steal time of the whole machine so far (/proc/stat, clock ticks)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def process_age_s(pid: int | None = None) -> float:
    """Seconds since the process started (stat field 22 against /proc/uptime)."""
    fields = _stat_fields(pid or os.getpid())
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(fields[19]) / TICK


class TreeSampler:
    """Peak resident memory and CPU seconds of the tree rooted at `root` over
    the interval between `start()` and `stop()`."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = root or os.getpid()
        self.interval_s = interval_s
        self.peak_rss = 0
        self.cpu_s = 0.0
        self._cpu0 = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _sample(self) -> None:
        self.peak_rss = max(self.peak_rss, rss_bytes(tree_pids(self.root)))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def start(self) -> None:
        self._cpu0 = cpu_seconds(tree_pids(self.root))
        self._sample()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        pids = tree_pids(self.root)
        self._sample()
        self.cpu_s = cpu_seconds(pids) - self._cpu0
