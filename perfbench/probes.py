"""Process and box readings taken from outside the library.

Everything here reads ``/proc`` or asks the JVM through the py4j gateway;
nothing calls into ``ffn_polars_spark``. The readings are diagnostics: they
tell a slow run on a busy box apart from a slow program.
"""

from __future__ import annotations

import os
import resource
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds a process has used so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    # fields[11], fields[12] are utime, stime (fields 14, 15 of proc(5))
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK


def proc_rss_peak_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of a process."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def self_rss_peak_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def jvm_gc_s(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, int(b.getCollectionTime())) for b in beans) / 1000.0


def python_workers(pid: int) -> int:
    """Python processes below the JVM: the worker daemon's forked workers.

    Idle workers stay alive for reuse, so the count at the end of a pass is
    the size of the pool the pass needed. The daemon itself is not counted.
    """
    children: dict = {}
    names: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        child = int(entry)
        names[child] = head.split("(", 1)[1]
        children.setdefault(int(rest.split()[1]), []).append(child)
    below, stack = [], list(children.get(pid, []))
    while stack:
        p = stack.pop()
        below.append(p)
        stack.extend(children.get(p, []))
    py = [p for p in below if names.get(p, "").startswith("python")]
    # the daemon is the one Python process whose parent is the JVM
    daemons = [p for p in py if p in children.get(pid, [])]
    return max(0, len(py) - len(daemons))


class StealMeter:
    """Share of the box's CPU time stolen by the hypervisor between
    ``start()`` and ``share()``, from the aggregate line of ``/proc/stat``."""

    @staticmethod
    def _read():
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        # guest time is already counted in user time
        return steal, sum(vals[:8])

    def start(self) -> None:
        self._s0, self._t0 = self._read()

    def share(self) -> float:
        s1, t1 = self._read()
        return (s1 - self._s0) / max(1, t1 - self._t0)


def canary(spark, sf_dir: str) -> float:
    """Wall seconds of a fixed scan + aggregate over ``lineitem``.

    Built from plain PySpark, never from the catalog, so no change to the
    library can move it: when it is slow, the box is slow.
    """
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).agg(
        F.sum("l_extendedprice"),
        F.sum("l_quantity"),
        F.avg("l_discount"),
        F.count(F.lit(1)),
    ).collect()
    return time.perf_counter() - t0
