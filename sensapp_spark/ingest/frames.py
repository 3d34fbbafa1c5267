"""The one constructor for driver-side frames: Arrow-built local relations.

Every frame the serving code builds on the driver (an ingest batch, an
empty "nothing here" result, a small literal such as a probe list) goes
through :func:`arrow_frame`. ``spark.createDataFrame(rows, schema)`` on a
Python list plans as ``Scan ExistingRDD`` over a ``PythonRDD``: the rows
are pickled and spread over ``defaultParallelism`` tasks, so every
action on the frame is a Spark job, and the first one starts the
``pyspark.daemon`` and a Python worker per task (about 60 MB resident
each) even when the list is empty. :func:`arrow_frame` builds the rows
into a ``pa.Table`` first, and ``createDataFrame(table, schema)`` plans
it as a ``LocalRelation`` (below
``spark.sql.execution.arrow.localRelationThreshold``), which the
optimizer folds on the driver: an empty frame collects with no job,
projecting the sensor ids of a batch or filtering it runs none either,
only the write that lands it does, and no Python worker is ever needed.
``tests/test_worker_free.py`` fails if a serving package calls
``createDataFrame`` anywhere else.
"""

from __future__ import annotations

import datetime as dt
import decimal

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
_MICROSECOND = dt.timedelta(microseconds=1)


def arrow_frame(
    spark: SparkSession,
    rows: list[tuple] | pa.Table,
    schema: T.StructType | str,
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)``, built through Arrow.

    ``schema`` is a ``StructType`` or, as for ``createDataFrame``, a DDL
    string (``"sensor_id string, bucket timestamp"``). ``rows`` is a
    list of tuples or an already built ``pa.Table``, which is handed
    over as it is. Tuples collect equal to the row-built frame's, with
    three conversions made here rather than in the JVM:

    * a ``TimestampType`` value must be a tz-aware ``datetime``; it is
      stored as its UTC instant. A naive one raises ``ValueError``:
      Arrow would read it as UTC while the row path reads it in the
      driver's local timezone, so neither reading is safe to pick.
    * a ``DecimalType`` value is rounded half-up to the column's scale,
      as Spark rounds it on the row path (Arrow refuses to drop
      digits); a value with more integer digits than the column holds
      raises ``decimal.InvalidOperation`` here instead of at the first
      action.
    * a ``MapType`` value (a sensor's labels) is stored with its entries
      sorted by key, so one series' labels keep one order whatever order
      a request sent them in, as the sensor UUID hashes them. The row
      path's order was the JVM ``HashMap``'s iteration order.
    """
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    if isinstance(rows, pa.Table):
        return spark.createDataFrame(rows, schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(schema.fields)
    arrays = [
        pa.array(_convert(values, field.dataType), afield.type)
        for values, field, afield in zip(columns, schema.fields, arrow_schema)
    ]
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def _convert(values: tuple, dtype: T.DataType) -> list:
    if isinstance(dtype, T.TimestampType):
        return [None if t is None else _utc_micros(t) for t in values]
    if isinstance(dtype, T.DecimalType):
        quantum = decimal.Decimal(1).scaleb(-dtype.scale)
        ctx = decimal.Context(prec=dtype.precision, rounding=decimal.ROUND_HALF_UP,
                              traps=[decimal.InvalidOperation])
        return [None if v is None else v.quantize(quantum, context=ctx) for v in values]
    if isinstance(dtype, T.MapType):
        return [None if m is None else sorted(m.items()) for m in values]
    return list(values)


def _utc_micros(t: dt.datetime) -> int:
    # pyarrow takes an aware datetime's wall clock and drops its offset,
    # so the instant is computed here.
    if t.tzinfo is None or t.utcoffset() is None:
        raise ValueError(
            f"naive datetime {t.isoformat()} in an ingest batch: pass a "
            "tz-aware datetime (the engine stores UTC instants)"
        )
    return (t - _EPOCH) // _MICROSECOND
