"""Driver-side ingest batches as Arrow-built local frames.

Every wire importer parses its request on the driver into row tuples.
``spark.createDataFrame(rows, schema)`` plans those as ``Scan
ExistingRDD``: the rows are pickled and spread over
``defaultParallelism`` tasks, so each action on the batch is a Spark
job. :func:`arrow_frame` builds the same rows into a ``pa.Table`` first,
and ``createDataFrame(table, schema)`` plans it as a ``LocalRelation``
(below ``spark.sql.execution.arrow.localRelationThreshold``), which the
optimizer folds on the driver: projecting the sensor ids of a batch or
filtering it runs no job, and only the write that lands it does.
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


def arrow_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """``spark.createDataFrame(rows, schema)``, built through Arrow.

    The rows collect equal to the row-built frame's, with two
    conversions made here rather than in the JVM:

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
