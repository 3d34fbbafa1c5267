"""SparkSession factory tuned for the sensapp_spark engine.

Local testing runs on ``local[N]``; the configs below are the ones that
matter identically on a 1000-executor cluster:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing)
* Arrow execution for the few Pandas-UDF operators
* shuffle partitions sized for the test scale; on a real cluster AQE's
  coalescing makes the initial number mostly a ceiling.
* per-task buffers (the Tungsten page, the torrent-broadcast chunk)
  sized from the driver heap so that G1 never sees them as humongous
  objects (``buffer_sizes``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _ensure_worker_pythonpath() -> None:
    """Python workers import UDF modules by name; make sure the repo root
    is importable in workers regardless of the driver's CWD."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    current = os.environ.get("PYTHONPATH", "")
    if root not in current.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{root}{os.pathsep}{current}" if current else root
        )


_MIB = 1 << 20
# TaskMemoryManager's page table: a task can hold at most this many pages.
_PAGE_TABLE_SIZE = 8192
# The header of a long[], which Spark subtracts from its own G1 default.
_LONG_ARRAY_OFFSET = 16


def size_bytes(raw: str) -> int:
    """Parse a Spark size conf value or a heap size ("134217728b",
    "128MB", "8g"); a bare number is bytes, as for ``-Xmx``."""
    s = raw.strip().lower()
    mult = 1
    for suffix, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                      ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                      ("b", 1)):
        if s.endswith(suffix):
            s = s[: -len(suffix)]
            mult = m
            break
    return int(s) * mult


def buffer_sizes(memory: str) -> tuple[int, str]:
    """``(spark.buffer.pageSize in bytes, spark.broadcast.blockSize)``
    for a driver heap of ``memory``.

    Spark allocates both buffers whole, however few rows a task has:
    every aggregate, sort or window task takes one Tungsten page (up to
    64 MiB by Spark's own rule; 16 MiB at a 2 GiB heap on 4 cores),
    and every stage's task binary and every broadcast is cut into
    4 MiB chunks. G1 treats an object larger than half a region as humongous:
    it lands in fresh regions outside eden and its pages stay resident,
    so a gateway serving a few hundred rows per request grew its RSS by
    hundreds of MB. ``region`` is the one JDK 17 picks for the heap
    (heap/2048 as a power of two, 1-32 MiB), rounded down: JDK 17
    rounds a non-power-of-two up, so the buffers stay under half a
    region either way.

    * The page is half a region minus the ``long[]`` header, so it is
      never humongous, unless that would leave 8192 pages short of the
      heap: ``TaskMemoryManager.allocatePage`` throws instead of
      spilling past 8192 pages, so from 128 GiB up (the region stops
      at 32 MiB) coverage wins and the page is heap/8192.
    * The broadcast chunk is a quarter region (the conf's unit is KiB).
    """
    heap = size_bytes(memory)
    target = max(heap // 2048, _MIB)
    region = min(1 << (target.bit_length() - 1), 32 * _MIB)
    page = max(region // 2 - _LONG_ARRAY_OFFSET, -(-heap // _PAGE_TABLE_SIZE))
    return page, f"{region // 4 >> 10}k"


def get_spark(
    app_name: str = "sensapp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    _ensure_worker_pythonpath()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SENSAPP_SHUFFLE_PARTITIONS", "32"))
    memory = os.environ.get("SENSAPP_DRIVER_MEMORY", "8g")
    page_size, block_size = buffer_sizes(memory)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        # Timestamps in the data model are µs since epoch (reference
        # docs/DATAMODEL.md:184-186); keep Spark session timezone UTC so
        # timestamp arithmetic and formatting are deterministic everywhere.
        .config("spark.sql.session.timeZone", "UTC")
        # TIMESTAMP_MICROS, not the legacy INT96 default: it IS the
        # data model's physical unit, every modern reader handles it,
        # and — load-bearing for file skipping — the parquet writer
        # records min/max statistics for it, which INT96 never gets.
        # The lake's zone maps (storage/zonemap.py) read those footer
        # stats; INT96-era files simply stay unknown on the time axis.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", memory)
        .config("spark.buffer.pageSize", str(page_size))
        .config("spark.broadcast.blockSize", block_size)
        .config("spark.ui.enabled", "false")
        # PySpark's DataFrame debugging wraps EVERY Column / functions
        # call: it looks up the active session over py4j, reads a conf,
        # walks the Python stack for the call site and sets/clears it in
        # the JVM — several round-trips per ``F.col``, and a gateway
        # read builds hundreds of Column expressions per request. Off,
        # an analysis or runtime error keeps its message but no longer
        # cites the Python line that built the failing expression.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()
