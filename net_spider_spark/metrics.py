"""Host and JVM counters read beside wall-clock measurements.

Wall-clock on a shared box swings 2-5x run to run. GC time (from
Spark's AppStatusStore, which is populated even with
``spark.ui.enabled=false``; one py4j call, no listener, no extra jobs)
and hypervisor steal tell memory pressure and box contention apart
from a real regression.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def gc_time_ms(spark: SparkSession) -> int:
    """Cumulative JVM GC milliseconds across all executors (in local
    mode: the driver). A wall regression with flat counters AND flat
    GC-time delta is box contention; a GC spike is memory pressure —
    recording both makes the distinction visible in the benchmark
    record instead of requiring a re-run (sustained ingest once fell
    829k -> 15.4k rows/s with byte-identical shuffle counters)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    total = 0
    it = store.executorList(False).iterator()
    while it.hasNext():
        total += it.next().totalGCTime()
    return int(total)


def host_steal_jiffies() -> int:
    """Cumulative hypervisor steal time (jiffies) from /proc/stat. On a
    shared-host VM, steal is the smoking gun for 'identical counters,
    inflated wall': the guest was runnable but the host ran someone
    else. Recording the per-query delta beside the wall makes box
    noise PROVABLE in the benchmark record (scale queries once ran
    4-13x slower with byte-identical shuffle and task counts while
    steal accumulated). Returns 0 where
    /proc/stat is unavailable (non-Linux)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8])  # cpu  user nice system idle iowait irq softirq steal
    except (OSError, IndexError, ValueError):
        return 0
