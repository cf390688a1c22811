"""Process-tree readings from /proc: summed RSS and Python-worker CPU time.

The benchmark process starts the Spark JVM (through spark-submit), and the
JVM forks the Python worker daemon and its workers, so every process the
run pays for is a descendant of this one.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None when the
    process has gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _tree(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, []):
            out.append((c, parent))
            todo.append(c)
    return out


def descendants(root: int | None = None) -> list[int]:
    """Every live descendant of ``root`` (default: this process)."""
    return [pid for pid, _ in _tree(os.getpid() if root is None else root)]


def tree_rss_bytes() -> dict[str, int]:
    """Resident set of this process (``bench``) and of its descendants,
    summed by command name (``java``, ``python``, ...).

    A child of the JVM that still runs the JVM's binary is a process the
    JVM is spawning, caught before its exec: it shares or copies the JVM's
    memory, and counting it would count the JVM twice."""
    parts: dict[str, int] = {}
    pids = [os.getpid()]
    for pid, parent in _tree(os.getpid()):
        exe = _exe(pid)
        if not (exe and exe == _exe(parent) and _comm(parent) == "java"):
            pids.append(pid)
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
        name = "bench" if pid == os.getpid() else _comm(pid).rstrip("0123456789.")
        parts[name] = parts.get(name, 0) + rss
    return parts


def python_worker_cpu_s() -> float:
    """User + system CPU seconds of the Python processes below this one,
    including workers that have exited and been reaped by the daemon."""
    total = 0
    for pid in descendants():
        if not _comm(pid).startswith("python"):
            continue
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime: fields 14-17 of stat (1-based)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def host_cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_cpu_shares(before: list[int], after: list[int]) -> tuple[float, float]:
    """Busy and stolen shares of all CPU time between two readings of
    :func:`host_cpu_ticks`. Steal is time the hypervisor ran something
    else while a virtual CPU of this machine had work."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1
    idle = d[3] + d[4]
    return (total - idle - d[7]) / total, d[7] / total


class PeakRss:
    """Background sampler of :func:`tree_rss_bytes`; ``peak_mb`` is the
    largest summed reading since :meth:`start`, ``parts`` its split."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self.parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        parts = tree_rss_bytes()
        if sum(parts.values()) > self.peak:
            self.peak, self.parts = sum(parts.values()), parts

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak_mb

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20
