"""CPU time of a process tree, read from ``/proc``.

An op's CPU cost is the difference of two readings: user plus system
time of every live process under the given roots, including what
their exited, reaped children used. It is what the op costs whatever
the number of cores that ran it.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, tuple[int, int]]:
    """``pid -> (ppid, cpu ticks)`` for every visible process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:  # exited while we looked
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        # fields[1] = ppid; [11..14] = utime, stime, cutime, cstime
        out[int(name)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    return out


def tree_cpu_s(roots: set[int]) -> float:
    stats = _stats()
    total = 0
    for pid, (ppid, ticks) in stats.items():
        p = pid
        while p not in roots and p in stats and p > 1:
            p = stats[p][0]
        if p in roots:
            total += ticks
    return total / _TICK
