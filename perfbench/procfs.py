"""Process-tree accounting from /proc (no psutil): CPU seconds and peak
resident memory of this driver, the Spark JVM it launches and the
Python workers the JVM forks, plus the host load average."""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; the fields after it are plain
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat(int(d))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of every live process in the tree, plus the times of
    the children each has already reaped (cutime+cstime), so a worker
    that exits between two samples is still counted once."""
    total = 0
    for pid in descendants(root):
        f = _stat(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the per-process resident high-water marks (VmHWM)."""
    return sum(_hwm_kb(p) for p in descendants(root)) / 1024.0


def steal_s() -> float:
    """CPU seconds the hypervisor ran other guests on this VM's CPUs
    (the ``steal`` column of /proc/stat), summed over all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _alive(pid: int) -> bool:
    f = _stat(pid)
    return f is not None and f[0] != "Z"


def reap(pids: list[int], timeout_s: float = 20.0) -> list[int]:
    """Wait for ``pids`` to end; SIGKILL what is left after the timeout.
    Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        if not any(_alive(p) for p in pids):
            return []
        time.sleep(0.1)
    killed = [p for p in pids if _alive(p)]
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 5.0
    while time.monotonic() < deadline and any(_alive(p) for p in killed):
        time.sleep(0.1)
    return killed
