"""Process bookkeeping: start-relative clocks, resident memory, the box
state canary, and stopping every process the benchmark starts."""

from __future__ import annotations

import os
import subprocess
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def seconds_since_start() -> float:
    """Seconds since this process started (kernel start time, clock tick
    resolution)."""
    with open("/proc/self/stat", encoding="ascii") as f:
        # the command name may hold spaces; fields resume after its ')'
        fields = f.read().rsplit(")", 1)[1].split()
    started = int(fields[19]) / _TICKS
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    return uptime - started


def jvm_process(spark) -> subprocess.Popen | None:
    """The driver JVM that PySpark launched for this session."""
    return getattr(spark.sparkContext._gateway, "proc", None)


def _pids(spark) -> list[int]:
    proc = jvm_process(spark)
    return [os.getpid()] + ([proc.pid] if proc is not None else [])


def reset_peak_rss(spark) -> None:
    """Collect the driver heap (G1 then returns free regions, so resident
    memory falls) and restart the kernel's peak-RSS counters, so the
    next reading is the peak of what runs in between."""
    spark.sparkContext._jvm.java.lang.System.gc()
    for pid in _pids(spark):
        with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
            f.write("5")


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its driver JVM
    since the last :func:`reset_peak_rss` (or since they started)."""
    kb = 0
    for pid in _pids(spark):
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kb / 1024


def canary(n: int = 5_000_000) -> float:
    """Wall seconds of a fixed pure-CPU loop: its cost moves with box
    contention only, so it is recorded as context beside each run."""
    t0 = time.perf_counter()
    sum(i % 7 for i in range(n))
    return time.perf_counter() - t0


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop the session, close the JVM's stdin (PySpark's gateway exits on
    EOF) and wait for the JVM to end, killing it past ``timeout``."""
    proc = jvm_process(spark)
    spark.stop()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
