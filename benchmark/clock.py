"""The benchmark's clock for every timed operation and for set-up."""

import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_NCPU = os.cpu_count() or 1


def net_clock() -> float:
    """Seconds of wall clock minus the CPU time the hypervisor stole,
    averaged over the machine's CPUs (the ``steal`` column of
    /proc/stat). On a shared host a neighbour's load can take 10-30% of
    this VM's CPU time, and wall time alone would read that as a
    regression of the code under test."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / _CLK_TCK
    return time.perf_counter() - steal / _NCPU

