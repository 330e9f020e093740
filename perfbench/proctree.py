"""CPU time and resident memory of a process tree, read from /proc.

The benchmark's process tree is the Python driver, the Spark JVM it
launches and the Python workers the JVM forks; a change that buys wall
time with extra CPU or memory in any of them shows here.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is parenthesised and may itself contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """`root` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, including its reaped children."""
    ticks = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (proc(5) fields 14-17)
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def pss_mb(root: int) -> float:
    """Resident memory of the live tree as proportional set size: a page
    shared by n processes counts 1/n in each, so the Python workers forked
    from one daemon are not counted once per worker."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def dir_bytes(path: str) -> int:
    """Bytes in the files under `path`."""
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (`steal` in /proc/stat): host contention the process CPU
    clock does not show."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK
