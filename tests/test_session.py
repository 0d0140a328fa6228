"""Session settings ``session.get_spark`` chooses for the host."""

from __future__ import annotations

import os


def test_driver_heap_fits_physical_memory(spark):
    """The default heap is at most half of physical memory (24g on a
    large host); ``SPARK_GRAFT_DRIVER_MEM`` overrides it."""
    heap = spark.sparkContext.getConf().get("spark.driver.memory")
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override is not None:
        assert heap == override
        return
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap_mb = spark._jvm.org.apache.spark.util.Utils.memoryStringToMb(heap)
    assert 0 < heap_mb <= min(24 << 10, phys_mb // 2), heap


def test_scan_split_is_sparks_default(spark):
    """Scan splits stay at Spark's own 128 MB."""
    conf = spark._jsparkSession.sessionState().conf()
    assert conf.filesMaxPartitionBytes() == 128 << 20
