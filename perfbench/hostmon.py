"""CPU time and memory of the Spark JVM and its Python workers, read from
/proc.

The JVM is launched as a child of this process and the Python workers are
children of the JVM, so "the engine" is every descendant of this process.
CPU includes ``cutime``/``cstime`` so that workers which exit and are
reaped by their parent are still counted. Memory is the proportional set
size (PSS): forked workers share most of their pages with the daemon they
fork from, and summing RSS would count those pages once per worker.
"""

from __future__ import annotations

import os
import threading

_TCK = os.sysconf("SC_CLK_TCK")


def _stat_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        ticks = sum(int(fields[i]) for i in (11, 12, 13, 14))
        out[int(name)] = (int(fields[1]), ticks / _TCK)
    return out


def _descendants(table: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    found, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, []))
    return found


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def engine_pids() -> list[int]:
    return _descendants(_stat_table(), os.getpid())


def engine_cpu_s() -> float:
    table = _stat_table()
    return sum(table[p][1] for p in _descendants(table, os.getpid()))


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests while this VM's vCPUs
    wanted to run (the steal column of /proc/stat), summed over vCPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TCK


def engine_pss_mb() -> float:
    return sum(_pss_kb(p) for p in engine_pids()) / 1024


class MemPeak:
    """Samples the engine's summed PSS in a background thread; ``stop()``
    returns the largest sum seen since ``start()``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, engine_pss_mb())
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> "MemPeak":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb
