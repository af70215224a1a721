"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is a process and all its descendants: here the Python driver,
the JVM it launched and the Python workers the JVM forks.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # The command name may hold spaces; fields resume after its ')'.
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, including children it has reaped."""
    total = 0
    for pid in tree(root):
        f = _stat(pid)
        if f is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def peak_rss_mb(root: int) -> float:
    """Sum over the tree's live processes of each one's peak resident set
    (``VmHWM``). The JVM dominates it."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def host_cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` clock ticks of the whole host so far, from the
    first line of ``/proc/stat``. Steal is time a virtual CPU was ready
    but the hypervisor ran someone else; its share over a run says how
    loaded the machine under the benchmark was."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)
