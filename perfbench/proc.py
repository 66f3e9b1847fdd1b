"""Readings from Linux ``/proc``: process-tree CPU time, process age, load
and the machine-wide iowait/steal counters that make a contaminated run
visible. Only the standard library; every reader is a pure function."""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name (field 3 on),
    or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may contain spaces and parentheses: split after
    # the LAST closing parenthesis
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """utime+stime of ``root`` and its live descendants, plus the reaped
    children's times their parents absorbed (cutime+cstime) — the CPU
    seconds the whole tree (driver, JVM, Python workers) has used. The
    difference of two readings is the tree's CPU over the interval, also
    for workers that exited in between."""
    ticks = 0
    for pid in descendants(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / CLK_TCK


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    start_ticks = int(_stat_fields(os.getpid())[19])
    return uptime - start_ticks / CLK_TCK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_jiffies() -> dict[str, int]:
    """Machine-wide iowait and steal jiffies (``/proc/stat`` cpu line)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return {"iowait": int(fields[5]), "steal": int(fields[8])}


def fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    path = os.path.realpath(path)
    best, best_type = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            mnt, fstype = line.split()[1:3]
            inside = path == mnt or path.startswith(mnt.rstrip("/") + "/")
            if inside and len(mnt) > len(best):
                best, best_type = mnt, fstype
    return best_type


def _alive(pid: int) -> bool:
    fields = _stat_fields(pid)
    return fields is not None and fields[0] != "Z"


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> list[int]:
    """Wait until every pid has exited; SIGKILL what is left at the
    timeout and wait again. Returns the pids that had to be killed."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        live = [p for p in pids if _alive(p)]
        if not live:
            return []
        time.sleep(0.1)
    live = [p for p in pids if _alive(p)]
    for pid in live:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10.0
    while time.monotonic() < deadline and any(_alive(p) for p in live):
        time.sleep(0.1)
    return live
