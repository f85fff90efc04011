"""CPU time and resident memory of this process and all its descendants,
read from ``/proc`` (Linux only; ``psutil`` is not required).

The tree is the benchmark process, the Spark JVM it launches, the
PySpark worker daemon and every Python worker forked from it. CPU time of
a process includes ``cutime``/``cstime``, the time of its children that
have already exited and been reaped, so short-lived Python workers still
count after they are gone.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited while we walked the table
        return None
    # the command name is in parentheses and may contain spaces
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> dict[int, list[str]]:
    """stat fields (after the command name) of ``root`` and descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is None:
            continue
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    total = 0
    for f in _tree(root or os.getpid()).values():
        # fields 14-17 of stat(5): utime stime cutime cstime
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor ran something else while one of this
    machine's CPUs was ready to run (the ``steal`` column of
    ``/proc/stat``, summed over CPUs)."""
    with open("/proc/stat") as f:
        # cpu user nice system idle iowait irq softirq steal ...
        return int(f.readline().split()[8]) / _TICK


def tree_rss_mib(root: int | None = None) -> float:
    """Sum of the resident set sizes of the tree, in MiB."""
    # field 24 of stat(5): rss in pages
    pages = sum(int(f[21]) for f in _tree(root or os.getpid()).values())
    return pages * _PAGE / 2**20


class PeakRss:
    """Samples the tree's RSS on a background thread; ``peak_mib`` is the
    largest sum seen between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_mib = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak_mib = max(self.peak_mib, tree_rss_mib())
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_mib = max(self.peak_mib, tree_rss_mib())
        return self.peak_mib
