"""Process-tree accounting from ``/proc``: CPU time, peak RSS, reaping.

The job runs in three kinds of process: this Python driver, the Spark JVM
it launches, and the Python workers the JVM forks.  CPU time and memory
are summed over all of them, so work moved between the JVM and the
workers still shows.  CPU time comes from ``utime + stime`` (plus the
``cutime + cstime`` of reaped children), which CPU steal does not inflate.
"""

from __future__ import annotations

import os
import signal
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces and parentheses; fields after it don't
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process tree, reaped children included."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields:
            # utime, stime, cutime, cstime are stat fields 14-17
            total += sum(int(v) for v in fields[11:15])
    return total / _CLK_TCK


def tree_peak_rss_mb() -> float:
    """Sum of each live tree process's peak resident set (VmHWM), in MiB."""
    kib = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kib += int(line.split()[1])
                        break
        except OSError:
            continue
    return kib / 1024


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def _wait_children() -> None:
    """Collect exited direct children, so none is left a zombie."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def reap(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for ``pids`` to end; SIGTERM then SIGKILL whatever lingers."""
    for sig, wait_s in ((None, timeout_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        if sig is not None:
            for pid in pids:
                if _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline and any(_alive(p) for p in pids):
            _wait_children()
            time.sleep(0.05)
        if not any(_alive(p) for p in pids):
            break
    _wait_children()
