"""CPU time and peak resident memory of a process tree, read from ``/proc``.

The benchmark's tree is its own interpreter, the Spark JVM it launches
and the Python workers the JVM forks. A process's CPU is ``utime +
stime`` plus ``cutime + cstime``, the time of children it has already
reaped, so a worker that exits between two samples is still counted
through the daemon that waited for it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, or None
    when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("utf-8", "replace")
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pid: int) -> float:
    """utime + stime + cutime + cstime of one process (0 when gone)."""
    fields = _stat(pid)
    if fields is None:
        return 0.0
    # after the command name: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return sum(int(fields[i]) for i in (11, 12, 13, 14)) / _TICK


def thread_cpu_seconds(pid: int, prefix: str) -> dict[int, float]:
    """utime + stime of each live thread of ``pid`` whose name starts
    with ``prefix`` (the kernel keeps 15 characters of a name), by
    thread id. Compare two reads thread by thread: a pool may end an
    idle thread between them."""
    out: dict[int, float] = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat", "rb") as f:
                raw = f.read().decode("utf-8", "replace")
        except OSError:
            continue
        if raw[raw.index("(") + 1:].startswith(prefix):
            fields = raw[raw.rindex(")") + 2:].split()
            out[int(tid)] = (int(fields[11]) + int(fields[12])) / _TICK
    return out


def tree_cpu_seconds(root: int, match: str | None = None) -> float:
    """CPU seconds of ``root``'s tree; with ``match``, only of processes
    whose command line contains it."""
    return sum(
        cpu_seconds(p)
        for p in tree_pids(root)
        if match is None or match in _cmdline(p)
    )


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of ``/proc/stat``: ticks spent in
    user, nice, system, idle, iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time between two ``cpu_ticks`` reads
    that the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def peak_rss_mb(pid: int) -> float:
    """The kernel's resident-set high-water mark (``VmHWM``) of one
    process, in MiB (0 when gone)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0.0


def tree_peak_rss_mb(root: int) -> float:
    """Sum of the high-water marks of ``root``'s live tree."""
    return sum(peak_rss_mb(p) for p in tree_pids(root))
