"""Ending every process a run starts, before the run itself exits.

A run starts three kinds of process: the Spark JVM (through the
py4j gateway), the JVM's Python worker daemons, and, when the input pool
is generated, multiprocessing's pool workers and resource tracker. Left to
themselves the JVM and the tracker end only once this process has exited,
and the workers once the JVM has; `stop_all` ends them while it waits.
"""

from __future__ import annotations

import os
import signal
import sys
import time

GRACE_S = 60.0      # the JVM's own shutdown: hooks, local dirs, workers
SWEEP_S = 15.0      # the rest, once the JVM is gone
TERM_S = 10.0       # after SIGTERM, before SIGKILL


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        out[int(name)] = int(stat[stat.rindex(")") + 2:].split()[1])
    return out


def descendants(root_pid: int | None = None) -> list[int]:
    """Every live descendant of `root_pid` (default: this process)."""
    root = os.getpid() if root_pid is None else root_pid
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    """False once `pid` has ended; a direct child is reaped here."""
    try:
        done, _ = os.waitpid(pid, os.WNOHANG)
        if done == pid:
            return False
    except ChildProcessError:
        pass    # not our child: ask /proc
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def _wait(pids: list[int], timeout: float) -> list[int]:
    deadline = time.monotonic() + timeout
    left = [p for p in pids if _alive(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _alive(p)]
    return left


def _signal(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def _stop_gateway() -> None:
    """Closes the Spark JVM's stdin, on which it exits, and waits for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass    # the JVM is ended below either way
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=GRACE_S)
    except Exception:
        proc.kill()
        proc.wait()


def _stop_resource_tracker() -> None:
    """multiprocessing's tracker ignores SIGTERM and exits when its pipe
    closes; `_stop` closes the pipe and waits."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()


def stop_all() -> list[int]:
    """Ends every process this one started, gracefully first, and waits for
    each. Returns the pids that needed a signal."""
    # the JVM's workers are its children: note them before it goes
    pids = descendants()
    if "pyspark" in sys.modules:
        _stop_gateway()
    _stop_resource_tracker()
    pids += [p for p in descendants() if p not in pids]
    left = _wait(pids, SWEEP_S)
    if left:
        _signal(left, signal.SIGTERM)
        still = _wait(left, TERM_S)
        _signal(still, signal.SIGKILL)
        _wait(still, TERM_S)
    return left
