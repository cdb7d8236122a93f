"""Sizes the benchmark JVM to the machine it runs on."""
import os


def cpus():
    """Processors this process may use (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def heap_mb(meminfo='/proc/meminfo'):
    """A fifth of physical memory, between 1 GiB and 6 GiB."""
    total_kb = 4 << 20
    with open(meminfo) as f:
        for line in f:
            if line.startswith('MemTotal:'):
                total_kb = int(line.split()[1])
    return max(1024, min(6144, total_kb // 5 // 1024))
