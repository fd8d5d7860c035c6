"""CPU and memory of this process tree, read from ``/proc``.

The tree is this benchmark process, the Spark JVM it launched, the Python
workers the JVM forks, and the short-lived children the JVM forks to run
commands. Each process is classed as ``bench`` (this process), ``python``
(a process whose command name starts with ``python``: the PySpark daemon
and its workers) or ``jvm`` (the JVM and its other children, which carry a
JVM thread's name until they exec), so the JVM and the Python-worker
halves of a job's CPU can be told apart.

Memory is the proportional set size (PSS): resident pages, with each page
shared by several processes split among them. Summed over the tree it
counts a forked child's copy-on-write pages once, where summed RSS would
count a forking JVM twice.

CPU of a process that exits between two samples is counted up to its last
sample; the PySpark daemon reuses its workers, so that loss is small.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds) of ``pid``, or None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces and parentheses: split at the last ')'
    lp, rp = raw.index("("), raw.rindex(")")
    fields = raw[rp + 2:].split()
    return raw[lp + 1:rp], int(fields[1]), (int(fields[11]) + int(fields[12])) / _TICK


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class ProcessTree:
    """Samples the tree rooted at this process. :meth:`sample` is cheap
    enough to call at every layer boundary; :meth:`start` also samples in
    a background thread so that :meth:`peak_pss` sees memory peaks
    between boundaries. Memory peaks leave out this process: it holds the
    benchmark's own state, not the engine's."""

    def __init__(self, interval_s: float = 0.2):
        self.root = os.getpid()
        self.interval_s = interval_s
        self._cpu: dict[int, tuple[str, float]] = {}
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict[int, tuple[str, int, float]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _read_stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        members, frontier = {self.root}, [self.root]
        children: dict[int, list[int]] = {}
        for pid, (_, ppid, _) in stats.items():
            children.setdefault(ppid, []).append(pid)
        while frontier:
            for child in children.get(frontier.pop(), []):
                if child not in members:
                    members.add(child)
                    frontier.append(child)
        return {pid: stats[pid] for pid in members if pid in stats}

    def sample(self) -> dict[str, float]:
        """Cumulative CPU seconds per class since the tree started."""
        tree = self._tree()
        pss = sum(_pss_bytes(pid) for pid in tree if pid != self.root)
        with self._lock:
            for pid, (comm, _, cpu) in tree.items():
                cls = "bench" if pid == self.root else ("python" if comm.startswith("python") else "jvm")
                self._cpu[pid] = (cls, cpu)
            self._peak = max(self._peak, pss)
            out = {"bench": 0.0, "jvm": 0.0, "python": 0.0}
            for cls, cpu in self._cpu.values():
                out[cls] += cpu
        return out

    def reset_peak(self) -> None:
        with self._lock:
            self._peak = 0

    def peak_pss(self) -> int:
        with self._lock:
            return self._peak

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "ProcessTree":
        self._thread = threading.Thread(target=self._loop, name="procmon", daemon=True)
        self._thread.start()
        return self

    def close(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


def delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    """Per-class CPU seconds spent between two :meth:`ProcessTree.sample`s."""
    return {k: after[k] - before[k] for k in ("bench", "jvm", "python")}
