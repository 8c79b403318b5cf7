"""CPU time and memory of a process tree, read from ``/proc``.

``psutil`` is not available, so this reads ``/proc/<pid>/stat`` directly.
The tree is the benchmark's own process and everything below it: the
Spark JVM it launches, the ``pyspark.daemon`` the JVM forks and the Python
workers forked from the daemon. Spark's own ``executorCpuTime`` leaves the
Python workers out, and they are where the window and scoring stages spend
their CPU.

CPU time of a process counts its own user and system time plus that of the
children it has already reaped (``cutime``/``cstime``), so a worker that
exits during a phase still counts, once, in its parent.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _read_all() -> dict[int, list[str]]:
    """pid -> stat fields from field 3 (state) on, for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                data = f.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name may hold spaces or parentheses: cut at the last ')'
        out[int(name)] = data[data.rindex(")") + 2 :].split()
    return out


def _tree(stats: dict[int, list[str]], root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    stats = _read_all()
    ticks = 0
    for pid in _tree(stats, root or os.getpid()):
        f = stats[pid]
        # fields 14-17: utime, stime, cutime, cstime
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def tree_size(root: int | None = None) -> int:
    """Number of live processes in the tree."""
    return len(_tree(_read_all(), root or os.getpid()))


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited, or a kernel thread without a memory map
        pass
    return 0


def tree_pss_bytes(root: int | None = None) -> int:
    """Summed proportional set size: resident memory, with each page shared
    between processes (a forked worker and its daemon) split among them
    instead of counted in full by each, as summed RSS would."""
    return sum(_pss_bytes(p) for p in _tree(_read_all(), root or os.getpid()))


class PeakMem:
    """Samples the tree's summed PSS on a thread; ``peak_mb`` is the max."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakMem":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_bytes = max(self.peak_bytes, tree_pss_bytes())

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1 << 20)


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks summed over all CPUs, from /proc/stat.

    Steal is time the hypervisor ran other guests on this VM's vCPUs.
    """
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class CpuWall:
    """Wall and process-tree CPU seconds over a ``with`` block."""

    def __enter__(self) -> "CpuWall":
        self.cpu0 = tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self.t0
        self.cpu_s = tree_cpu_s() - self.cpu0
