"""The benchmark's clock: elapsed wall time with the hypervisor's steal
taken out.

On a shared host the raw wall clock of identical runs swings by up to 2x
over minutes, as other guests come and go. Linux counts, per CPU, the
time a runnable CPU of this machine was not given to it (``steal`` in
``/proc/stat``). Over an interval, the CPUs that had work were runnable
for busy + steal CPU-seconds and ran for busy of them; the interval is
reported as its wall time times busy / (busy + steal), the time it would
have taken had every runnable CPU run throughout. The summary line of a
run keeps its raw wall time and steal beside the metrics.
"""

from __future__ import annotations

import os
import time

_CPUS = {f"cpu{i}" for i in os.sched_getaffinity(0)}
_TICK = os.sysconf("SC_CLK_TCK")


def cpu_seconds() -> tuple[float, float]:
    """(busy, steal) CPU-seconds since boot, summed over the CPUs this
    process may run on."""
    busy = steal = 0
    with open("/proc/stat") as f:
        for line in f:
            name, *fields = line.split()
            if name in _CPUS:
                user, nice, system, _idle, _iowait, irq, softirq, st = map(int, fields[:8])
                busy += user + nice + system + irq + softirq
                steal += st
    return busy / _TICK, steal / _TICK


def mark() -> tuple[float, float, float]:
    return (time.perf_counter(), *cpu_seconds())


def since(start: tuple[float, float, float]) -> float:
    """Steal-corrected seconds since ``start`` (a ``mark()``)."""
    wall, busy, steal = (now - then for now, then in zip(mark(), start))
    return wall * busy / (busy + steal) if busy > 0 else wall
