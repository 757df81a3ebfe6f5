"""Host and process-tree readings taken from /proc, outside the engine.

- ``tree_cpu_s``: user+system CPU of this process and every live
  descendant (the Spark JVM and its Python workers), including children
  they have already reaped.
- ``tree_hwm_mb``: VmHWM (peak resident set) of every process in the
  same tree.
- ``steal_s``: cumulative host CPU steal of the machine.
- ``calibrate``: a fixed single-thread CPU task; its wall time tells
  how fast the host ran, and enters no metric.
"""

from __future__ import annotations

import hashlib
import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree_pids(root: int | None = None) -> list[int]:
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    return sum(_cpu_ticks(p) for p in tree_pids()) / _TICK


def tree_hwm_mb() -> list[tuple[str, float]]:
    """(command name, VmHWM in MB) of every live process in the tree."""
    out = []
    for pid in tree_pids():
        name, kb = "", 0
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("Name:"):
                        name = line.split()[1]
                    elif line.startswith("VmHWM:"):
                        kb = int(line.split()[1])
                        break
        except OSError:
            continue
        out.append((name, kb / 1024.0))
    return out


def steal_s() -> float:
    with open("/proc/stat") as f:
        parts = f.readline().split()
    return int(parts[8]) / _TICK


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


CALIB_ROUNDS = 1_000_000


def calibrate() -> float:
    """Wall seconds of a fixed chain of SHA-256 rounds on one thread."""
    t0 = time.perf_counter()
    h = b"perfbench"
    for _ in range(CALIB_ROUNDS):
        h = hashlib.sha256(h).digest()
    return time.perf_counter() - t0
