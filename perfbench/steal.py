"""CPU time the hypervisor stole from this machine.

On a shared virtual machine another tenant's load shows up as *steal*:
time a virtual CPU was ready to run this machine's work but the host
ran something else. It stretches every wall time the benchmark takes,
by a share that changes from minute to minute; on the shared 4-vCPU
virtual machine the benchmark was sized on, steal reached 23% of busy
CPU time and was the largest source of run-to-run spread. The
end-to-end times are therefore reported with the stolen share removed:
a wall time ``w`` over which the CPUs were busy for ``b`` ticks and
lost ``s`` ticks to steal is reported as ``w * b / (b + s)``, the time
it would have taken had the CPUs it waited for not been taken away.
Steal accrues only while a CPU has work to run, so idle time is not
scaled by it.
"""

from __future__ import annotations


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal ...
    fields += [0] * (8 - len(fields))
    return fields[0] + fields[1] + fields[2] + fields[5] + fields[6], fields[7]


def unstolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPUs' runnable time between two readings that was
    not stolen (1.0 on an unshared machine)."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return busy / (busy + stolen) if busy + stolen > 0 else 1.0
