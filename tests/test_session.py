"""Session defaults: resources come from the host, not from a larger
machine, and caller JVM options compose instead of clobbering."""

from __future__ import annotations

import os

from umi_dedup_spark.session import _DRIVER_OPTS_KEY, _driver_java_opts, spread_to_slots


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise AssertionError("MemTotal missing from /proc/meminfo")


def test_driver_memory_sized_from_host(spark):
    # 60% of physical memory in whole GiB, unless the deployment says so
    expected = os.environ.get("SPARK_DRIVER_MEM") or f"{int(_mem_total_bytes() * 0.6 / (1 << 30))}g"
    assert spark.sparkContext.getConf().get("spark.driver.memory") == expected


def test_no_heap_pretouch(spark):
    opts = spark.sparkContext.getConf().get(_DRIVER_OPTS_KEY, "")
    assert "AlwaysPreTouch" not in opts and "-Xms" not in opts, opts


def test_slots_drive_scan_floor(spark):
    conf = spark.sparkContext.getConf()
    slots = spark.sparkContext.defaultParallelism
    assert conf.get("spark.master") == f"local[{slots}]"
    assert conf.get("spark.sql.files.minPartitionNum") == str(slots)


def test_driver_java_opts_merge_order(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_JAVA_OPTS", raising=False)
    assert _driver_java_opts(None) == ""
    assert _driver_java_opts({_DRIVER_OPTS_KEY: "-Dx=2"}) == "-Dx=2"
    monkeypatch.setenv("SPARK_DRIVER_JAVA_OPTS", "-Dx=1 -Dy=1")
    assert _driver_java_opts(None) == "-Dx=1 -Dy=1"
    assert _driver_java_opts({"spark.other": "v"}) == "-Dx=1 -Dy=1"
    # extra_conf comes last, so it wins on duplicate flags
    assert _driver_java_opts({_DRIVER_OPTS_KEY: "-Dx=2"}) == "-Dx=1 -Dy=1 -Dx=2"


def test_spread_to_slots(spark):
    slots = spark.sparkContext.defaultParallelism
    narrow = spark.range(0, 100, 1, 1)
    spread = spread_to_slots(narrow)
    assert spread.rdd.getNumPartitions() == slots
    assert sorted(r.id for r in spread.collect()) == list(range(100))
    wide = spark.range(0, 100, 1, slots)
    assert spread_to_slots(wide) is wide


def test_memory_pages_not_humongous(spark):
    # A page of half a G1 region or more is a humongous object; pages that
    # size make the driver's resident memory depend on GC timing.
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.com.sun.management.HotSpotDiagnosticMXBean._java_lang_class)
    assert bean.getVMOption("UseG1GC").getValue() == "true"
    region = int(bean.getVMOption("G1HeapRegionSize").getValue())
    page = spark._jsc.sc().env().memoryManager().pageSizeBytes()
    assert page < region // 2, (page, region)
