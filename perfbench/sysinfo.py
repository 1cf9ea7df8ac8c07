"""Host readers (``/proc``: memory, process trees, steal) and byte counts of
output trees.

psutil is not installed, so memory and steal come straight from procfs.
"""

from __future__ import annotations

import os
from typing import Dict, Iterable, List


def _status_kib(text: str, key: str) -> int:
    for line in text.splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def descendants(root: int, proc: str = "/proc") -> List[int]:
    """Every live process below ``root`` (the JVM, its Python workers)."""
    children: Dict[int, List[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(os.path.join(proc, name, "stat")) as fh:
                stat = fh.read()
        except OSError:  # exited while we listed
            continue
        # the command name may hold spaces and parentheses: split after it
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for kid in children.get(todo.pop(), []):
            out.append(kid)
            todo.append(kid)
    return out


def cpu_seconds(pids: Iterable[int], proc: str = "/proc") -> float:
    """User + system CPU of ``pids`` and of their reaped children, in seconds.
    Steal is not charged to a process, so this is what the job itself used."""
    ticks = 0
    for pid in pids:
        try:
            with open(os.path.join(proc, str(pid), "stat")) as fh:
                stat = fh.read()
        except OSError:
            continue
        # after "(comm) ": utime, stime, cutime, cstime are fields 11..14
        ticks += sum(int(v) for v in stat[stat.rindex(")") + 2:].split()[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mib(pids: Iterable[int], proc: str = "/proc") -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total = 0
    for pid in pids:
        try:
            with open(os.path.join(proc, str(pid), "status")) as fh:
                total += _status_kib(fh.read(), "VmHWM")
        except OSError:
            continue
    return total / 1024.0


def steal_seconds(proc: str = "/proc") -> float:
    """Cumulative CPU steal of the host, in seconds (``/proc/stat`` cpu line)."""
    with open(os.path.join(proc, "stat")) as fh:
        fields = fh.readline().split()
    # cpu user nice system idle iowait irq softirq steal ...
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def mem_total_mib(proc: str = "/proc") -> float:
    with open(os.path.join(proc, "meminfo")) as fh:
        return _status_kib(fh.read(), "MemTotal") / 1024.0


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def tree_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))
