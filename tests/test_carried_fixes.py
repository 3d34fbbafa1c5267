"""Small correctness fixes in driver-side helpers: non-finite numeric
array literals, the deterministic primary error of ``_await_all``, and
the per-application plan memo."""

from __future__ import annotations

import concurrent.futures as cf
import math
import struct

from hypothesis import example, given, settings
from hypothesis import strategies as st

from sensapp_spark.pipeline.similarity import sql_array_lit


def _bits(x: float) -> bytes:
    return struct.pack("<d", x)


def test_sql_array_lit_round_trips_special_doubles(spark):
    special = [math.nan, math.inf, -math.inf, -0.0, 0.0, 5e-324,
               2.2250738585072014e-308, -1.5e-310, 1.0, 0.1]
    got = spark.range(1).select(
        sql_array_lit(special).alias("a")
    ).first().a
    assert [_bits(v) for v in got] == [_bits(v) for v in special]
    nested = [[math.inf, -0.0], [math.nan, 3.0]]
    got2 = spark.range(1).select(
        sql_array_lit(nested, depth=2).alias("a")
    ).first().a
    assert [[_bits(v) for v in row] for row in got2] == [
        [_bits(v) for v in row] for row in nested
    ]


@settings(max_examples=15, deadline=None)
@given(st.lists(st.floats(allow_nan=True, allow_infinity=True),
                min_size=1, max_size=12))
@example([math.nan, -math.inf, -0.0, 5e-324])
def test_sql_array_lit_round_trips_any_double(spark, values):
    got = spark.range(1).select(
        sql_array_lit(values).alias("a")
    ).first().a
    # NaN payloads are not preserved by the SQL cast; compare NaN-ness.
    assert [math.isnan(v) for v in got] == [math.isnan(v) for v in values]
    assert [_bits(v) for v in got if not math.isnan(v)] == [
        _bits(v) for v in values if not math.isnan(v)
    ]


def test_await_all_primary_error_is_first_submitted():
    from sensapp_spark.plans.queries import _await_all

    # Fresh futures per trial: the done set's iteration order follows
    # object hashes, so an unordered implementation fails some trials.
    for _ in range(32):
        first, second = cf.Future(), cf.Future()
        # Complete out of order: the later submission fails first.
        second.set_exception(KeyError("second"))
        first.set_exception(ValueError("first"))
        try:
            _await_all([first, second])
        except ValueError as e:
            assert any("KeyError" in n for n in e.__notes__)
        else:  # pragma: no cover - the regression case
            raise AssertionError("expected the first future's error")


def test_plan_memo_keys_on_application_id(spark, tmp_path):
    from sensapp_spark.plans import pipeline_queries as pq

    sf_dir = str(tmp_path)
    spark.range(3).write.parquet(f"{sf_dir}/documents.parquet")

    class OtherApplication:
        """The live session seen under another application id."""

        def __init__(self, inner):
            self.conf = inner.conf
            self.read = inner.read
            self.sparkContext = type(
                "Ctx", (), {"applicationId": "other-application"}
            )()

    hit = pq._read_memo(spark, sf_dir, "documents")
    assert pq._read_memo(spark, sf_dir, "documents") is hit
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Europe/Oslo")
        # A memo hit still re-applies the session confs.
        assert pq._read_memo(spark, sf_dir, "documents") is hit
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        other = pq._read_memo(
            OtherApplication(spark), sf_dir, "documents"
        )
        assert other is not hit
        assert ("other-application", sf_dir, "documents") in pq._PLAN_MEMO
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
        for app_id in ("other-application",
                       spark.sparkContext.applicationId):
            pq._PLAN_MEMO.pop((app_id, sf_dir, "documents"), None)
