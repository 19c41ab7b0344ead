"""Host readings and process lifetime helpers (Linux ``/proc`` only)."""

from __future__ import annotations

import hashlib
import os
import subprocess
import time


def process_age_s() -> float:
    """Seconds since this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except FileNotFoundError:
        pass
    return 0.0


def jvm_process() -> subprocess.Popen | None:
    """The JVM PySpark launched for this process's SparkContext."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    """Peak RSS of this Python process plus its JVM."""
    proc = jvm_process()
    return vm_hwm_mb("self") + (vm_hwm_mb(proc.pid) if proc else 0.0)


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit: the JVM ends when
    its stdin closes; it is killed if it has not ended after 30 s."""
    from pyspark import SparkContext
    proc = jvm_process()
    try:
        spark.stop()
    finally:
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def cpu_ticks() -> tuple[int, int]:
    """(steal, all) clock ticks of every CPU of this machine since boot."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def cpu_probe() -> float:
    """Seconds for a fixed single-thread sha256 pass (reads per-core
    steal); never used to adjust a metric."""
    buf = b"\x5a" * (1 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(64):
        h.update(buf)
    return time.perf_counter() - t0


def spark_probe(spark, width: int) -> float:
    """Seconds for a fixed ``width``-partition JVM-side range aggregate
    (reads steal under full-width parallel load)."""
    from pyspark.sql import functions as F

    def job(n):
        spark.range(0, n, numPartitions=width).select(
            F.bit_xor(F.xxhash64("id"))).collect()

    job(width * 1000)       # compile the stage once, untimed
    t0 = time.perf_counter()
    job(20_000_000)
    return time.perf_counter() - t0
