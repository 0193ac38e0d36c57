"""The benchmark's process tree: which processes a run started (read
from /proc), waiting until every one of them has ended, and how much CPU
time they have used.

A run's process tree is this Python process, the Spark session's JVM
(local mode, so driver and executors in one) and the Python workers the
JVM forks.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

#: prctl option from <linux/prctl.h>
PR_SET_CHILD_SUBREAPER = 36


def _stat(pid: int | str) -> list[str]:
    """Fields of /proc/<pid>/stat after the command name (state first)."""
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def descendants(pid: int) -> list[int]:
    """Process ids of every descendant of ``pid``, zombies included."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                ppid = int(_stat(entry)[1])
            except (OSError, IndexError, ValueError):
                continue  # ended while we read
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants.

    When the JVM ends, the processes it started (Python workers) are
    handed to this process instead of to init, so :func:`reap_all` can
    wait for every one of them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_all(timeout: float) -> None:
    """Wait until this process has no child left, zombies included; kill
    the process tree if it still runs after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # none left
        if pid:
            continue
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass  # ended meanwhile
        time.sleep(0.05)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process, its
    descendants and the children they have reaped.

    Time a busy host takes from this machine's CPUs (steal) is not CPU
    time of the run, so this moves less with the host's load than wall
    time does.  It includes the JVM's JIT compiler and garbage collector
    threads: code the compiler has not reached yet runs interpreted at a
    higher CPU cost, so the sum is steadier than either part."""
    ticks = 0
    for pid in [os.getpid()] + descendants(os.getpid()):
        try:
            # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in _stat(pid)[11:15])
        except (OSError, IndexError, ValueError):
            pass  # ended while we read
    return ticks / os.sysconf("SC_CLK_TCK")
