"""Host readings from ``/proc``: CPU steal, load, per-process CPU and peak RSS.

They sit next to every run's metrics so that a run slowed by other tenants
of the machine (CPU steal, a high load average, executor CPU far below wall
time) can be told apart from a slower engine.
"""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_line() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` (all its threads)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MiB (``VmHWM``)."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class HostWindow:
    """CPU steal share, load and JVM CPU over the interval from construction
    to :meth:`close`."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self._wall0 = time.monotonic()
        self._cpu0 = _cpu_line()
        self._jvm0 = _proc_cpu_s(jvm_pid)

    def close(self, cores: int) -> dict:
        wall = time.monotonic() - self._wall0
        cpu1 = _cpu_line()
        delta = [b - a for a, b in zip(self._cpu0, cpu1)]
        # /proc/stat columns: user nice system idle iowait irq softirq steal ...
        total = sum(delta[:8]) or 1
        steal = delta[7] if len(delta) > 7 else 0
        jvm_cpu = _proc_cpu_s(self.jvm_pid) - self._jvm0
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return {
            "wall_s": wall,
            "steal_frac": steal / total,
            "load1": load1,
            "jvm_cpu_s": jvm_cpu,
            "jvm_cpu_util": jvm_cpu / (wall * cores) if wall > 0 else 0.0,
        }
