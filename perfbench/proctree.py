"""Process-tree accounting from ``/proc`` (Linux only, no psutil).

The benchmark measures the Spark driver process, the JVM it launches and
the Python workers the JVM forks as one tree. CPU is summed over every
live member (``utime + stime`` plus ``cutime + cstime``, the CPU of
children already reaped, so a worker that exits mid-pass is still
counted once). Memory is the sum of proportional set sizes.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces or parentheses: split after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def _parents() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                out[int(name)] = int(fields[1])
    return out


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """Cumulative CPU seconds of the tree rooted at ``root``."""
    ticks = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime, stime, cutime, cstime
            ticks += sum(int(v) for v in fields[11:15])
    return ticks / _TICK


def tree_pss_bytes(pids: list[int]) -> int:
    """Proportional set size summed over ``pids``: a page shared between
    processes (a forked Python worker, a child the JVM is spawning) is
    split between them, so the sum counts it once."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError):
            pass
    return total


def cmdline(pid: int) -> list[str]:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().decode("utf-8", "replace").split("\0")[:-1]
    except OSError:
        return []


def spark_jvms(exclude: set[int] = frozenset()) -> list[dict]:
    """Running Spark JVMs outside ``exclude`` (for example a standalone
    master/worker left behind by another harness): they compete for the
    same cores and memory, so a result records them."""
    found = []
    for pid in _parents():
        if pid in exclude:
            continue
        argv = cmdline(pid)
        if argv and os.path.basename(argv[0]) == "java" and any(
            "org.apache.spark" in a for a in argv
        ):
            main = next((a for a in argv if a.startswith("org.apache.spark.")), "")
            found.append({"pid": pid, "main": main})
    return found


def alive(pids: list[int]) -> list[int]:
    """The pids that still run (a zombie has ended)."""
    out = []
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None and fields[0] != "Z":
            out.append(pid)
    return out
