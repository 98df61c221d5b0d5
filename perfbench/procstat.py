"""/proc readers: process-tree CPU-seconds and a host interference stamp.

CPU-seconds of the benchmark's own process tree (the Python driver, the
Spark JVM it launches and the JVM's Python workers) move less than wall
times when other processes share the host: in the busiest runs measured,
serving CPU-seconds grew 1.2x while serving walls grew 1.5-1.8x.  Every
timed wall is therefore reported beside its CPU-seconds.

The JVM's JIT compiler threads are the exception: in a short run they burn
about as much CPU as the work itself, in bursts that land on whichever
batch happens to be running.  ``CpuMeter`` therefore reports them apart.
"""

from __future__ import annotations

import os
from collections import defaultdict

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    # fields after the ')' that closes comm (comm may contain spaces)
    return s[s.rindex(")") + 2:].split()


def _tree(root: int) -> list[int]:
    """``root`` and its live descendants."""
    kids: dict[int, list[int]] = defaultdict(list)
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                kids[int(_stat_fields(p)[1])].append(int(p))
            except (OSError, ValueError, IndexError):
                pass  # exited while listing
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """utime + stime + cutime + cstime of ``root`` (default: this process)
    and every live descendant, in seconds."""
    ticks = 0
    for pid in _tree(root or os.getpid()):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue  # exited
        ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuMeter:
    """Process-tree CPU-seconds split into JIT compilation and the rest.

    The JVM starts and stops compiler threads as the compile queue grows
    and drains; a stopped thread's CPU stays in its process's total.  The
    meter remembers each compiler thread's CPU as last read, so a thread
    that has since stopped still counts as JIT (what it burned after that
    last read does not).
    """

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self._jit: dict[tuple[int, int], float] = {}

    def read(self) -> tuple[float, float]:
        """(work, jit) CPU-seconds so far; work excludes jit."""
        ticks = 0
        for pid in _tree(self.root):
            try:
                f = _stat_fields(pid)
                with open(f"/proc/{pid}/comm") as c:
                    is_jvm = c.read().strip() == "java"
                tids = os.listdir(f"/proc/{pid}/task") if is_jvm else ()
            except OSError:
                continue
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
            for tid in tids:
                try:
                    with open(f"/proc/{pid}/task/{tid}/comm") as c:
                        if not c.read().startswith(_JIT_THREADS):
                            continue
                    t = _stat_fields(f"{pid}/task/{tid}")
                except OSError:
                    continue
                self._jit[(pid, int(tid))] = (int(t[11]) + int(t[12])) / _TICK
        jit = sum(self._jit.values())
        return ticks / _TICK - jit, jit


def host_cpu() -> tuple[float, float, float]:
    """(busy, steal, total) CPU-seconds of the whole host since boot, from
    /proc/stat.  Steal is time the hypervisor gave this machine's CPUs to
    someone else; busy excludes it."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    idle, steal = v[3] + v[4], v[7]  # idle + iowait; steal
    total = sum(v[:8])  # guest time is already inside user/nice
    return (total - idle - steal) / _TICK, steal / _TICK, total / _TICK


class Interference:
    """Load average, stolen CPU and the other processes' share of host CPU
    over an interval: ``start()`` then ``stop()``."""

    def start(self) -> None:
        self._host0, self._own0 = host_cpu(), tree_cpu_s()

    def stop(self) -> dict:
        host1, own1 = host_cpu(), tree_cpu_s()
        busy, steal, total = (b - a for a, b in zip(self._host0, host1))
        own = own1 - self._own0
        with open("/proc/loadavg") as f:
            load = [float(x) for x in f.read().split()[:3]]

        def frac(x: float) -> float:
            return x / total if total > 0 else 0.0

        return {
            "loadavg": load,
            "own_frac": frac(own),
            "others_frac": frac(max(0.0, busy - own)),
            "steal_frac": frac(steal),
            "interval_cpu_s": total,
        }
