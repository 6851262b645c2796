"""CPU time and peak memory of this process and all its descendants
(the Spark JVM and its Python workers), read from /proc, plus two
readings of the host's speed.
"""

from __future__ import annotations

import os
import time

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
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int | None = None) -> float:
    """utime+stime of the live tree plus reaped children's times."""
    total = 0
    for pid in tree(root or os.getpid()):
        fields = _stat(pid)
        if fields:
            # utime, stime, cutime, cstime are stat fields 14-17.
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # cpu user nice system idle iowait irq softirq steal
    return int(fields[8]) / _TICK


def calibration_ms(reps: int = 5) -> float:
    """Median time of a fixed pure-Python loop: a host-speed reading that
    does not depend on the engine, for judging noisy runs."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(1000 * (time.perf_counter() - t0))
    return sorted(times)[reps // 2]


def peak_rss_bytes(root: int | None = None) -> int:
    """Sum over the live tree of each process's peak resident set size
    (``VmHWM``): an upper bound on the tree's peak, read without sampling."""
    total = 0
    for pid in tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total
