"""The session is sized from the host and launches its JVM with the JIT
compiler-thread cap (trino_spark/session.py)."""

import os
import re


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return kb * 1024


def _size_bytes(size: str) -> int:
    """A JVM memory string; without a unit, Spark reads driver memory in MiB."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", size.strip().lower())
    assert m, size
    return int(m.group(1)) * 1024 ** " kmgt".index(m.group(2) or "m")


def test_driver_jvm_caps_compiler_threads(spark):
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert "-XX:CICompilerCount=2" in args


def test_driver_memory_fits_the_host(spark):
    assert _size_bytes(spark.conf.get("spark.driver.memory")) <= _mem_total_bytes()


def test_master_uses_host_cpus(spark):
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    assert spark.sparkContext.master == f"local[{cpus}]"
