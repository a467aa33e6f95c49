"""CPU and resident memory of this process tree, read from ``/proc``.

The tree is the driver Python process, the JVM it launched and the Python
workers the JVM forks.  CPU counts user and system time of every live
process plus the time of children each has already reaped, so a worker
that exits between two reads keeps its seconds in its parent's total.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, int, float, str] | None:
    """(ppid, rss_bytes, cpu_s, command name) of one process, or None if it
    is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state) of proc(5).
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    rss = int(fields[21]) * _PAGE
    return ppid, rss, cpu, comm


def tree(root: int | None = None) -> tuple[float, int, dict[str, int]]:
    """(cpu_s, rss_bytes, rss_bytes by part) of ``root`` (the driver), the
    JVM it launched and the Python processes below them (the workers).

    Other descendants are skipped: a process the JVM is spawning shares the
    JVM's pages until it execs, so counting it would add the JVM's RSS a
    second time (seen as random +2.7 GB peaks).  Their CPU still counts once
    they are reaped, in the JVM's children time."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    cpu, parts, todo = 0.0, {"driver": 0, "jvm": 0, "workers": 0}, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid not in stats:
            continue
        ppid, rss, pcpu, comm = stats[pid]
        if pid == root:
            part = "driver"
        elif comm == "java" and ppid == root:
            part = "jvm"
        elif comm.startswith("python"):
            part = "workers"
        else:
            continue
        cpu += pcpu
        parts[part] += rss
    return cpu, sum(parts.values()), parts


def host_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from ``/proc/stat``;
    steal is time the hypervisor gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak`` in bytes and
    ``peak_parts`` its split at that sample."""

    def __init__(self, interval_s: float = 0.2):
        self.peak = 0
        self.peak_parts: dict[str, int] = {}
        self._paused = False
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True, name="perfbench-rss")

    def _sample(self) -> None:
        _, rss, parts = tree()
        if rss > self.peak:
            self.peak, self.peak_parts = rss, parts

    def _run(self) -> None:
        while not self._stop.is_set():
            if not self._paused:
                self._sample()
            self._stop.wait(self._interval)

    @contextmanager
    def paused(self):
        """Stop sampling inside the block (the benchmark's own checks)."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
