"""Process-tree CPU and resident-memory measurement.

The Spark JVM and its Python workers are descendants of the benchmark
process, so both meters walk ``/proc`` from this process down.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: seconds between RSS samples
RSS_INTERVAL_S = 0.2


def host_steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs since boot (``steal`` in ``/proc/stat``)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _CLK_TCK


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks, resident pages) for every live process.

    CPU ticks include the reaped children of a process (cutime/cstime),
    so Python workers that exited during the run are still counted.
    """
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # post-comm fields: 0=state 1=ppid ... 11=utime 12=stime
        # 13=cutime 14=cstime ... 21=rss (pages)
        fields = raw.rsplit(")", 1)[1].split()
        ticks = sum(int(x) for x in fields[11:15])
        table[int(d)] = (int(fields[1]), ticks, int(fields[21]))
    return table


def _tree(table: dict[int, tuple[int, int, int]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, frontier = [], [os.getpid()]
    while frontier:
        pid = frontier.pop()
        if pid in table:
            out.append(pid)
            frontier.extend(kids.get(pid, []))
    return out


def descendants() -> list[int]:
    """Live descendants of this process."""
    return [p for p in _tree(_proc_table()) if p != os.getpid()]


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    table = _proc_table()
    return sum(table[p][1] for p in _tree(table)) / _CLK_TCK


def tree_rss_mb() -> float:
    """Resident memory of this process and all its descendants, in MB."""
    table = _proc_table()
    return sum(table[p][2] for p in _tree(table)) * _PAGE / 1e6


class RssSampler:
    """Context manager: a background thread tracks the peak
    process-tree RSS while the block runs."""

    def __init__(self) -> None:
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
