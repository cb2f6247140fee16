"""Host weather and memory: CPU steal and load average per pass, and the
peak resident memory of the benchmark process (plus the JVM, if any).

Host weather is diagnostic only.  Identical code has measured 1.2-1.5x
slower when the machine was busy; a per-pass record lets such an outlier be
explained from the run record instead of rerun.
"""

from __future__ import annotations

import os
import resource


def _cpu_times() -> tuple[int, int] | None:
    """(steal jiffies, total jiffies) from the aggregate ``cpu`` line."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            fields = fh.readline().split()
    except OSError:
        return None
    vals = [int(v) for v in fields[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    # guest time is already counted inside user/nice
    return steal, sum(vals[:8])


class Weather:
    """Samples taken at pass boundaries: ``mark()`` before a pass,
    ``sample()`` after it."""

    def __init__(self) -> None:
        self._last = _cpu_times()

    def mark(self) -> None:
        self._last = _cpu_times()

    def sample(self) -> dict:
        now = _cpu_times()
        steal_pct = 0.0
        if now is not None and self._last is not None:
            d_total = now[1] - self._last[1]
            if d_total > 0:
                steal_pct = 100.0 * (now[0] - self._last[0]) / d_total
        self._last = now
        return {"steal_pct": steal_pct, "loadavg": os.getloadavg()[0]}


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None = None) -> float:
    """Peak resident memory of this process plus the JVM's, in MiB."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        kb += _vm_hwm_kb(jvm_pid)
    return kb / 1024.0

