"""Session lifecycle for one benchmark run: start a session in a fresh
JVM through ``session.get_spark``, read the JVM's peak RSS and GC time,
and stop the JVM and wait for it to exit.

Only ``master`` and the driver memory are passed to ``get_spark``, so a
change to the engine's session defaults is part of what is measured.
"""

from __future__ import annotations

import os
import subprocess

from pyspark import SparkContext
from pyspark.sql import SparkSession

from learn_etl_data_warehouse_spark.session import get_spark

DRIVER_MEMORY = "2g"


def start_session() -> SparkSession:
    """Launch a JVM, build the session and run the warm-up plan bench.py
    uses, so the first measured query is not charged for class loading."""
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{os.cpu_count()}]",
        extra_conf={"spark.driver.memory": DRIVER_MEMORY},
    )
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    return spark


def stop_session(spark: SparkSession, timeout: float = 60.0) -> None:
    """Stop the session and its JVM; the next ``start_session`` launches
    a new JVM instead of reusing this gateway."""
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark: SparkSession) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of a process, in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def gc_seconds(spark: SparkSession) -> float:
    """Total collection time of every JVM garbage collector, in seconds."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(
        max(bean.getCollectionTime(), 0)
        for bean in mf.getGarbageCollectorMXBeans()
    ) / 1000.0


def versions(spark: SparkSession) -> dict[str, str]:
    system = spark.sparkContext._jvm.java.lang.System
    return {
        "spark": spark.version,
        "java": str(system.getProperty("java.version")),
    }
