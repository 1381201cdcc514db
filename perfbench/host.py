"""Process isolation, engine lifetime and host readings for one run.

``prepare_env`` must run before ``fairy_spark`` or ``pyspark`` is imported:
it points every directory the engine writes to (warehouse, staging, Spark
local dirs, JVM and Python temp files) into a per-run directory inside
the checkout.
"""

from __future__ import annotations

import os
import subprocess
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def prepare_env(work: Path) -> None:
    dirs = {name: work / name for name in ("warehouse", "io", "local", "tmp")}
    for d in dirs.values():
        d.mkdir(parents=True, exist_ok=True)
    os.environ["FAIRY_SPARK_WAREHOUSE"] = str(dirs["warehouse"])
    os.environ["FAIRY_SPARK_IO_DIR"] = str(dirs["io"])
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    os.environ["TMPDIR"] = str(dirs["tmp"])
    # Every JVM the launch starts (launcher and driver): temp files in the
    # run directory, and no hsperfdata file, which HotSpot puts in /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData"


def boot_engine():
    """Start the engine with its own defaults; returns (engine, seconds)."""
    from fairy_spark.engine import Engine

    t0 = time.perf_counter()
    engine = Engine()
    engine.spark.sparkContext.setLogLevel("ERROR")
    return engine, time.perf_counter() - t0


def jvm_process(engine) -> subprocess.Popen | None:
    return getattr(engine.spark.sparkContext._gateway, "proc", None)


def stop_engine(engine) -> None:
    """Stop Spark, then end the gateway JVM and wait until it has exited."""
    from pyspark import SparkContext

    proc = jvm_process(engine)
    try:
        engine.stop()
    finally:
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def jvm_gc_ms(engine) -> float:
    beans = engine.spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return float(sum(b.getCollectionTime() for b in beans))


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def rss_peak_mb(engine) -> float:
    """Peak resident set (VmHWM) of this Python process plus the driver JVM."""
    kb = _vm_hwm_kb("self")
    proc = jvm_process(engine)
    if proc is not None:
        kb += _vm_hwm_kb(proc.pid)
    return kb / 1024.0


class Window:
    """Readings over a run's timed window: JVM GC time, load average and
    the hypervisor steal share. Host noise is recorded in the run's output,
    never used to gate or correct a metric."""

    def __init__(self, engine):
        self._engine = engine
        self.readings: dict[str, float] = {}

    @staticmethod
    def _cpu() -> list[int]:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]

    def start(self) -> float:
        self._cpu0, self._gc0 = self._cpu(), jvm_gc_ms(self._engine)
        self._t0 = time.perf_counter()
        return self._t0

    def stop(self) -> float:
        t1 = time.perf_counter()
        delta = [b - a for a, b in zip(self._cpu0, self._cpu())]
        total = sum(delta[:8]) or 1  # user..steal; guest time is inside user
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        self.readings = {
            "window_s": t1 - self._t0,
            "jvm_gc_ms": jvm_gc_ms(self._engine) - self._gc0,
            "loadavg_1m": load1,
            "steal_share": delta[7] / total if len(delta) > 7 else 0.0,
        }
        return t1
