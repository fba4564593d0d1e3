"""Per-run environment record, kept for attributing outliers.

None of these values enters a metric: a slow host window shows up here (a
slower canary, more steal ticks) instead of being corrected away.
"""

from __future__ import annotations

import os
import time


def canary_s(reps: int = 5) -> float:
    """Median wall of a fixed pure-Python loop: tracks host speed drift
    between processes independently of Spark."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i % 7
        walls.append(time.perf_counter() - t0)
    return sorted(walls)[reps // 2]


def steal_ticks() -> int:
    """Aggregate steal ticks from /proc/stat (0 where unavailable)."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
    except OSError:
        return 0
    return int(fields[8]) if len(fields) > 8 else 0


def process_age_s() -> float:
    """Seconds since this process started (Linux /proc clock)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants (the Spark JVM and its Python workers), including
    descendants that have exited and been reaped. Time the hypervisor
    steals from the guest is not counted."""
    parent, times = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        parent[int(pid)] = int(f[1])
        times[int(pid)] = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    tree, frontier = {os.getpid()}, [os.getpid()]
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    while frontier:
        for child in children.get(frontier.pop(), []):
            tree.add(child)
            frontier.append(child)
    return sum(times.get(p, 0) for p in tree) / os.sysconf("SC_CLK_TCK")


def versions(spark) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "java": jvm.System.getProperty("java.version"),
        "spark": spark.version,
        "pyspark": pyspark.__version__,
    }


def dir_bytes(*paths: str) -> int:
    total = 0
    for path in paths:
        for root, _, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
