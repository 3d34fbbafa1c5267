"""SparkSession factory tuned for the sensapp_spark engine.

Local testing runs on ``local[N]``; the configs below are the ones that
matter identically on a 1000-executor cluster:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing)
* Arrow execution for the few Pandas-UDF operators
* shuffle partitions sized for the test scale; on a real cluster AQE's
  coalescing makes the initial number mostly a ceiling.
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


def get_spark(
    app_name: str = "sensapp-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    _ensure_worker_pythonpath()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get("SENSAPP_SHUFFLE_PARTITIONS", "32"))
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
        .config("spark.driver.memory", os.environ.get("SENSAPP_DRIVER_MEMORY", "8g"))
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
