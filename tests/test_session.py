"""The shared session is sized from the host: driver heap from
``MemTotal``, cores from ``SPARK_GRAFT_CPUS`` or the CPU affinity."""

from __future__ import annotations

import os


def test_session_sized_from_host(spark):
    """``spark.driver.memory`` is a quarter of ``MemTotal`` in MiB and
    the JVM really runs with it; the master uses ``SPARK_GRAFT_CPUS``
    cores when set, else every core this process may run on."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    mib = kib // 4 // 1024
    assert spark.conf.get("spark.driver.memory") == f"{mib}m"

    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    assert f"-Xmx{mib}m" in list(mf.getRuntimeMXBean().getInputArguments())
    # G1 rounds the heap up to a whole number of regions (4017m reads
    # back as 4018 MiB with 2 MiB regions); the heap may not exceed that
    bean = mf.newPlatformMXBeanProxy(
        mf.getPlatformMBeanServer(),
        "com.sun.management:type=HotSpotDiagnostic",
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"),
    )
    region = max(int(bean.getVMOption("G1HeapRegionSize").getValue()), 1)
    heap = mib * 2**20
    assert jvm.java.lang.Runtime.getRuntime().maxMemory() <= -(-heap // region) * region

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    assert spark.sparkContext.master == f"local[{cpus}]"
    assert spark.sparkContext.defaultParallelism == cpus
