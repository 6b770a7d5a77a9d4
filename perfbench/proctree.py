"""CPU time and resident memory of a process and all its descendants,
read from /proc (Linux)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process ended while we looked
        return None
    # The command name is parenthesised and may hold spaces.
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """User+system CPU of the tree, including children that already
    exited and were reaped (their time is in the parent's cutime and
    cstime)."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat.
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def resident_bytes(root: int) -> int:
    """Resident memory of the tree with each shared page counted once:
    the sum of the processes' proportional set sizes. A plain RSS sum
    counts the pages a fork shares with its parent twice, so it jumps
    whenever the JVM forks a helper process and while the Python
    daemon's forked workers live."""
    total = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended while we looked
            pass
    return total


def host_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine so far: time the
    hypervisor gave to other guests while this one wanted to run."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])
