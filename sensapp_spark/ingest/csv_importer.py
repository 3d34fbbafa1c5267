"""CSV importer (operator S1) — schema-on-read ingestion, Spark-first.

Semantics follow reference src/importers/csv.rs:22-201:

* header row read first; column types inferred (I2) with trim=true;
* datetime column chosen by scoring (I3); an Integer datetime column is
  epoch **seconds**; a Float one is an error (csv.rs:203-230);
* **long** layout when both a sensor-name column (one of
  sensor_name/metric/name/sensor, case-insensitive) and a value column
  (value/reading/measurement) exist — one sample per row, sensor type =
  the unified value-column type, unit from the unit/units column's first
  non-empty cell (csv.rs:113-136);
* otherwise **wide** layout — every non-datetime column is a sensor named
  after the column (csv.rs:137-164); DateTime-typed value columns are
  stored as RFC3339 Strings (csv.rs:286-296);
* no datetime column at all: long layout falls back to the row index as
  Unix seconds (csv.rs:106-111); wide layout without a datetime column is
  an error (csv.rs:165-170);
* empty sensor names are an error (csv.rs:116-118).

Scale design: the reference reads the whole file into a string grid and
infers on everything. Here inference runs on a ≤``max_inference_rows``
driver-side sample (default 128, SENSAPP_MAX_INFERENCES_ROWS — reference
src/config/mod.rs:24-26) and the resulting schema drives **JVM-side
casts over the full distributed scan** — including a pure-Catalyst
ISO8601 parser (`iso8601_to_timestamp`) that reproduces the reference's
additive-timezone quirk without any Python UDF. The only driver
materialization is the sample and the (small) sensors dimension.
"""

from __future__ import annotations

import csv as csv_mod
import io
import itertools
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sensapp_spark.config import CONFIG
from sensapp_spark.datamodel.sensor import sensor_uuid
from sensapp_spark.datamodel.types import SENSOR_SCHEMA, SensorType
from sensapp_spark.ingest.frames import arrow_frame
from sensapp_spark.ingest.inference import (
    InferredType,
    infer_column,
    likely_datetime_column,
)

SENSOR_NAME_CANDIDATES = ("sensor_name", "metric", "name", "sensor")
VALUE_CANDIDATES = ("value", "reading", "measurement")
UNIT_CANDIDATES = ("unit", "units")

_TYPE_MAP = {
    InferredType.INTEGER: SensorType.INTEGER,
    InferredType.NUMERIC: SensorType.NUMERIC,
    InferredType.FLOAT: SensorType.FLOAT,
    InferredType.STRING: SensorType.STRING,
    InferredType.BOOLEAN: SensorType.BOOLEAN,
    InferredType.DATETIME: SensorType.STRING,  # stored as RFC3339 string
    InferredType.JSON: SensorType.JSON,
}


class CsvFormatError(ValueError):
    pass


@dataclass
class CsvPlan:
    """Inference outcome: everything needed to build the typed scan."""

    column_names: list[str]
    column_types: dict[str, InferredType]
    datetime_column: str | None
    layout: str  # "long" | "wide"
    sensor_name_column: str | None = None
    value_column: str | None = None
    unit_column: str | None = None
    sensor_columns: list[str] = field(default_factory=list)  # wide layout


@dataclass
class IngestBatch:
    """Ingestion result: sensors dimension + one values frame per type
    (the reference's Batch, reference src/datamodel/batch.rs:6-15)."""

    sensors: DataFrame
    values: dict[SensorType, DataFrame]


def _find_column(names: list[str], candidates: tuple[str, ...]) -> str | None:
    lowered = [n.lower() for n in names]
    for cand in candidates:
        if cand in lowered:
            return names[lowered.index(cand)]
    return None


def plan_csv(column_names: list[str], sample_rows: list[list[str]]) -> CsvPlan:
    """Run inference (I2/I3) on the sample and decide the layout."""
    if len(column_names) < 2:
        raise CsvFormatError("CSV must have at least 2 columns (datetime and values)")
    if not sample_rows:
        raise CsvFormatError("CSV contains no data rows")

    cols = list(zip(*(r + [""] * (len(column_names) - len(r)) for r in sample_rows)))
    inferred = [infer_column(list(c), trim=True, numeric=False) for c in cols]
    types = {name: k for name, (k, _) in zip(column_names, inferred)}
    datetime_column = likely_datetime_column(column_names, inferred)

    sensor_col = _find_column(column_names, SENSOR_NAME_CANDIDATES)
    value_col = _find_column(column_names, VALUE_CANDIDATES)

    if sensor_col is not None and value_col is not None:
        return CsvPlan(
            column_names, types, datetime_column, "long",
            sensor_name_column=sensor_col, value_column=value_col,
            unit_column=_find_column(column_names, UNIT_CANDIDATES),
        )
    if datetime_column is not None:
        sensor_columns = [c for c in column_names if c != datetime_column]
        if not sensor_columns:
            raise CsvFormatError("No sensor columns found - CSV format unclear")
        return CsvPlan(column_names, types, datetime_column, "wide",
                       sensor_columns=sensor_columns)
    raise CsvFormatError(
        "Unable to parse CSV: no clear datetime column and no "
        "sensor_name/value columns found"
    )


# --------------------------------------------------------------------------
# Pure-Catalyst ISO8601 parsing with the reference's additive-offset quirk
# --------------------------------------------------------------------------

_NAIVE_RE = (
    r"^([+-]?\d{4})-(?:(\d{2})-(\d{2})|(\d{3})|W(\d{2})-(\d))"
    r"[Tt ](\d{2}):(\d{2})(?::(\d{2})(?:[.,](\d+))?)?"
)
_TZ_RE = r"([Zz]|[+-]\d{2}(?::?\d{2})?)$"


def iso8601_to_timestamp(col: F.Column) -> F.Column:
    """ISO8601 string → TimestampType, entirely in Catalyst expressions.

    Handles YMD, ordinal (YYYY-DDD) and week (YYYY-Www-D) dates, optional
    fractional seconds, and reproduces the reference's quirk of *adding*
    UTC offsets instead of subtracting (src/infer/parsing.rs:126-131).
    Unparseable strings yield NULL.
    """
    g = lambda i: F.regexp_extract(col, _NAIVE_RE, i)  # noqa: E731
    year = g(1).cast("int")
    # Date part: one of the three alternations matched. ANSI mode makes
    # make_date throw on out-of-range components, so the YMD path goes
    # through try_to_timestamp (NULL on invalid) and Jan-1 anchors are
    # guarded by a year range check.
    ymd = F.try_to_timestamp(
        F.concat_ws("-", g(1), g(2), g(3)), F.lit("y-M-d")
    ).cast("date")
    jan1 = F.when(year.between(1, 9999), F.make_date(year, F.lit(1), F.lit(1)))
    ordinal = F.date_add(jan1, g(4).cast("int") - 1)
    week = F.date_add(jan1, (g(5).cast("int") - 1) * 7 + g(6).cast("int") - 1)
    date = F.when(g(2) != "", ymd).when(g(4) != "", ordinal).when(g(5) != "", week)
    frac = F.rpad(F.substring(g(10), 1, 6), 6, "0")  # → microseconds
    micros_in_day = (
        (g(7).cast("long") * 3600 + g(8).cast("long") * 60
         + F.coalesce(g(9).cast("long"), F.lit(0))) * 1_000_000
        + F.coalesce(F.nullif(frac, F.lit("")).cast("long"), F.lit(0))
    )
    # Additive-quirk offset: +HH:MM ADDS to the wall time.
    tz = F.regexp_extract(col, _TZ_RE, 1)
    tz_digits = F.translate(tz, ":", "")
    offset_sec = F.when(
        tz_digits.rlike(r"^[+-]\d{2}(\d{2})?$"),
        (F.substring(tz_digits, 2, 2).cast("long") * 3600
         + F.coalesce(F.nullif(F.substring(tz_digits, 4, 2), F.lit("")).cast("long"),
                      F.lit(0)) * 60)
        * F.when(F.substring(tz_digits, 1, 1) == "-", -1).otherwise(1),
    ).otherwise(0)
    base = F.to_timestamp(date)  # session TZ is UTC → midnight UTC
    return F.timestamp_micros(
        F.unix_micros(base) + micros_in_day + offset_sec * 1_000_000
    )


def _rfc3339_col(ts: F.Column) -> F.Column:
    """RFC3339 text with seconds precision and +00:00 suffix — the shape the
    reference's hifitime ``to_rfc3339`` emits for whole-second datetimes."""
    frac = F.date_format(ts, "SSSSSS")
    has_frac = F.nullif(F.regexp_replace(frac, "0+$", ""), F.lit(""))
    return F.concat(
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss"),
        F.coalesce(F.concat(F.lit("."), has_frac), F.lit("")),
        F.lit("+00:00"),
    )


def _cast_value(col: F.Column, kind: InferredType) -> F.Column:
    if kind is InferredType.INTEGER:
        return F.trim(col).cast("long")
    if kind is InferredType.FLOAT:
        return F.trim(col).cast("double")
    if kind is InferredType.NUMERIC:
        return F.trim(col).cast(T.DecimalType(38, 18))
    if kind is InferredType.BOOLEAN:
        return F.lower(F.trim(col)) == "true"
    if kind is InferredType.DATETIME:
        return _rfc3339_col(iso8601_to_timestamp(F.trim(col)))
    # STRING and JSON keep the original text (JSON was validated on the
    # sample; the reference re-serializes via serde, same content).
    return col


def _datetime_cast(col: F.Column, kind: InferredType) -> F.Column:
    if kind is InferredType.DATETIME:
        return iso8601_to_timestamp(F.trim(col))
    if kind is InferredType.INTEGER:
        # Epoch seconds (csv.rs:215-224).
        return F.timestamp_seconds(F.trim(col).cast("long"))
    raise CsvFormatError(f"Cannot parse datetime from column type: {kind.value}")


def _with_row_index(df: DataFrame) -> DataFrame:
    """Stable 0-based row index in file order — only used for the quirky
    no-datetime-column fallback (csv.rs:106-111), which targets small
    config-style files. Fully JVM-side: ``monotonically_increasing_id``
    preserves the file scan's within-and-across-partition order
    (partition id in the high bits), and one single-partition
    ``row_number`` densifies it to 0..n-1 — the coalesce(1) is exactly
    as bounded as the fallback itself (small files by definition), and
    nothing round-trips through Python row serialization."""
    from pyspark.sql import Window

    w = Window.orderBy("__mono")
    return (
        df.withColumn("__mono", F.monotonically_increasing_id())
        .coalesce(1)
        .withColumn("__idx", F.row_number().over(w) - F.lit(1))
        .drop("__mono")
        .select("__idx", *df.columns)
    )


def read_csv_sample(
    spark: SparkSession, path: str, max_rows: int
) -> tuple[list[str], list[list[str]]]:
    """Header + ≤max_rows sample rows, read driver-side without pulling the
    whole file (datasource text scan with a row limit)."""
    lines = [r[0] for r in spark.read.text(path).take(max_rows + 1)]
    reader = csv_mod.reader(io.StringIO("\n".join(lines)))
    rows = list(itertools.islice(reader, max_rows + 1))
    if not rows:
        raise CsvFormatError("CSV contains no data rows")
    return rows[0], rows[1:]


def ingest_csv(
    spark: SparkSession,
    path: str,
    max_inference_rows: int | None = None,
) -> IngestBatch:
    """Full S1 pipeline: sample → infer → plan → distributed typed scan."""
    n = max_inference_rows or CONFIG.max_inference_rows
    header, sample = read_csv_sample(spark, path, n)
    plan = plan_csv(header, sample)
    raw = spark.read.csv(path, header=True, inferSchema=False)
    return apply_plan(spark, raw, plan)


def apply_plan(spark: SparkSession, raw: DataFrame, plan: CsvPlan) -> IngestBatch:
    # All engine timestamps are UTC; iso8601_to_timestamp anchors dates
    # via to_timestamp(date), which reads the session timezone.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ts_kind = plan.column_types.get(plan.datetime_column) if plan.datetime_column else None
    if plan.datetime_column is not None:
        timed = raw.withColumn(
            "__time", _datetime_cast(F.col(plan.datetime_column), ts_kind)
        )
    else:
        timed = _with_row_index(raw).withColumn(
            "__time", F.timestamp_seconds(F.col("__idx"))
        ).drop("__idx")

    if plan.layout == "long":
        return _ingest_long(spark, timed, plan)
    return _ingest_wide(spark, timed, plan)


def _sensor_rows(spark: SparkSession, entries: list[tuple]) -> DataFrame:
    rows = [
        (sensor_uuid(name, stype, unit, labels), name, stype.label, unit, None,
         labels)
        for name, stype, unit, labels in entries
    ]
    return arrow_frame(spark, rows, SENSOR_SCHEMA)


def _ingest_long(spark: SparkSession, timed: DataFrame, plan: CsvPlan) -> IngestBatch:
    vkind = plan.column_types[plan.value_column]
    stype = _TYPE_MAP[vkind]
    name_col = F.col(plan.sensor_name_column)

    # spark.read.csv surfaces empty cells as NULL; both NULL and
    # whitespace-only names are the reference's error case (csv.rs:116-118).
    bad = timed.filter(
        F.coalesce(F.trim(name_col), F.lit("")) == ""
    ).limit(1).count()
    if bad:
        raise CsvFormatError("Empty sensor name found")

    # Sensor dimension: distinct names + unit. The reference takes the unit
    # from whichever row creates the sensor first (csv.rs:121-129); row
    # order within a distributed group is not a stable notion, so we take
    # MIN of the non-empty units — deterministic, and identical whenever a
    # sensor's unit is consistent (the only well-defined case).
    if plan.unit_column is not None:
        unit_expr = F.min(F.nullif(F.col(plan.unit_column), F.lit("")))
    else:
        unit_expr = F.min(F.lit(None).cast("string"))
    dims = (
        timed.groupBy(name_col.alias("s_name"))
        .agg(unit_expr.alias("s_unit"))
        .collect()
    )
    sensors = _sensor_rows(
        spark, [(r.s_name, stype, r.s_unit, {}) for r in dims]
    )
    # Assign sensor_ids by broadcast-joining the (small) dimension into the
    # big scan on name — no shuffle of the fact stream.
    ids = F.broadcast(
        sensors.select(F.col("name").alias("s_name"), "sensor_id")
    )
    values = (
        timed.join(ids, name_col == F.col("s_name"))
        .select(
            "sensor_id",
            F.col("__time").alias("time"),
            _cast_value(F.col(plan.value_column), vkind).alias("value"),
        )
    )
    return IngestBatch(sensors=sensors, values={stype: values})


def _ingest_wide(spark: SparkSession, timed: DataFrame, plan: CsvPlan) -> IngestBatch:
    entries = []
    by_type: dict[SensorType, list[str]] = {}
    for c in plan.sensor_columns:
        stype = _TYPE_MAP[plan.column_types[c]]
        entries.append((c, stype, None, {}))
        by_type.setdefault(stype, []).append(c)
    sensors = _sensor_rows(spark, entries)
    uuid_map = {r[1]: r[0] for r in sensors.select("sensor_id", "name").collect()}

    values: dict[SensorType, DataFrame] = {}
    for stype, cols in by_type.items():
        # Unpivot the columns of this type: one (sensor_id, time, value)
        # stream — stack() is JVM-side, no shuffle.
        pairs = list(
            itertools.chain.from_iterable(
                (F.lit(uuid_map[c]),
                 _cast_value(F.col(c), plan.column_types[c]))
                for c in cols
            )
        )
        stacked = timed.select(
            F.col("__time").alias("time"),
            F.stack(F.lit(len(cols)), *pairs).alias("sensor_id", "value"),
        )
        values[stype] = stacked.select("sensor_id", "time", "value")
    return IngestBatch(sensors=sensors, values=values)
