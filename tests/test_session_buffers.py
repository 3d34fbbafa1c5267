"""Per-task buffers sized from the driver heap (``session.buffer_sizes``):
the Tungsten page and the torrent-broadcast chunk stay under half a G1
region, so no task allocates a humongous object, and 8192 pages still
cover the heap, so a task spills before it runs out of page-table
slots."""

from __future__ import annotations

import pytest

from sensapp_spark.session import buffer_sizes, size_bytes

MIB = 1 << 20


@pytest.mark.parametrize(
    "heap, page, block",
    [
        ("512m", 512 * 1024 - 16, "256k"),
        # Non-power-of-two heaps: JDK 17 rounds the region UP (1536m →
        # 1 MiB, 3g → 2 MiB); the rule rounds down, which stays under
        # half of either region.
        ("1536m", 512 * 1024 - 16, "256k"),
        ("2g", 512 * 1024 - 16, "256k"),
        ("3g", 512 * 1024 - 16, "256k"),
        ("8g", 2 * MIB - 16, "1024k"),
        ("64g", 16 * MIB - 16, "8192k"),
        # The region stops at 32 MiB: coverage (8192 pages ≥ heap) wins.
        ("256g", 32 * MIB, "8192k"),
    ],
)
def test_buffer_sizes(heap, page, block):
    assert buffer_sizes(heap) == (page, block)


@pytest.mark.parametrize("heap", ["512m", "1536m", "2g", "3g", "8g", "64g", "256g"])
def test_pages_cover_the_heap(heap):
    page, _ = buffer_sizes(heap)
    assert 8192 * page >= size_bytes(heap)


def test_live_session_buffers_are_not_humongous(spark):
    jvm = spark.sparkContext._jvm
    diagnostic = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    region = int(diagnostic.getVMOption("G1HeapRegionSize").getValue())
    assert region >= MIB
    page = jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes()
    block_kib = spark.sparkContext._jsc.sc().conf().getSizeAsKb(
        "spark.broadcast.blockSize", "4m"
    )
    # A long[] page carries a 16-byte header.
    assert page + 16 <= region // 2
    assert block_kib * 1024 <= region // 2
    assert 8192 * page >= jvm.java.lang.Runtime.getRuntime().maxMemory()
