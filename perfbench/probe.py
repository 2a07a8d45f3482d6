"""Host labels and the memory probe, both read from /proc."""

from __future__ import annotations

import os
import threading

import procs


def host_label() -> dict:
    with open("/proc/loadavg") as fh:
        load1, load5, load15 = (float(x) for x in fh.read().split()[:3])
    return {"nproc": len(os.sched_getaffinity(0)),
            "loadavg": [load1, load5, load15]}


def under_load(before: dict, after: dict) -> bool:
    """Outside load: the 1-minute load average, before or after the run,
    above the host's core count. The run itself keeps about K + 1 threads
    runnable, so only load beyond the host's cores counts as outside."""
    return max(before["loadavg"][0], after["loadavg"][0]) > before["nproc"] + 0.5


def _tree_rss_bytes(root_pid: int) -> int:
    """Summed RSS of `root_pid` and all its descendants (the driver, the
    JVM it launched and the JVM's Python workers)."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root_pid] + procs.descendants(root_pid):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the process tree's summed RSS every `period` seconds on a
    background thread and keeps the peak."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(pid))
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

