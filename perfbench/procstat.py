"""Host CPU steal from /proc/stat.

On a shared virtual machine the hypervisor runs other guests on our vCPUs
("steal"), which stretches wall time by a factor that changes minute to
minute. These readings tell a run how much of the host's CPU time was
taken away while an operation ran.
"""

from __future__ import annotations


def host_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0

