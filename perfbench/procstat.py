"""Process counters read from ``/proc``: CPU time of the driver, the JVM
and the Python workers below it, and the driver's read bytes.  Used by
the traced run and to wait for every process a run started."""

from __future__ import annotations

import os
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def cpu_ms(pid: int) -> float:
    """utime + stime of ``pid`` in ms, at clock-tick resolution; 0 when
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return 1000.0 * (int(fields[11]) + int(fields[12])) / CLK_TCK


def descendants(root: int) -> list[int]:
    """Every live process below ``root``."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(root, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def read_rchar() -> int:
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    return 0


class CpuClock:
    """Cumulative CPU ms of the driver process (all threads, ns
    resolution), the JVM and, when asked, the Python workers below it.
    A worker that exits keeps its last reading, so totals never drop."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.workers: dict[int, float] = {}

    def read(self, workers: bool) -> tuple[float, float, float]:
        if workers:
            for p in descendants(self.jvm_pid):
                self.workers[p] = max(self.workers.get(p, 0.0), cpu_ms(p))
        return (1000.0 * time.process_time(), cpu_ms(self.jvm_pid),
                sum(self.workers.values()))
