"""Property-based tests (hypothesis) — beyond the reference's
example-based suite (SURVEY §5 notes it has no property testing).

Each property pins an invariant that example tests can't sweep:
codec round-trips over arbitrary inputs, parser/lattice laws, identity
hash stability, Arrow-built ingest frames equal to row-built ones.
"""

from __future__ import annotations

import datetime as dt
import math
import random
import zoneinfo

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sensapp_spark.datamodel.sensor import sensor_uuid
from sensapp_spark.datamodel.types import SENSOR_SCHEMA, SensorType, value_schema
from sensapp_spark.ingest.frames import arrow_frame
from sensapp_spark.ingest.inference import (
    InferredType,
    infer_cell,
    infer_column,
)
from sensapp_spark.query.rollup_serve import ROLLUP_SERVE_FUNCS
from sensapp_spark.wire import snappy_codec
from sensapp_spark.wire.protowire import (
    Writer,
    decode_varint,
    encode_varint,
    iter_fields,
    signed64,
)
from sensapp_spark.wire.xorchunk import decode_xor_chunk, encode_xor_chunk

# -- codecs -----------------------------------------------------------------


@given(st.binary(max_size=200_000))
@settings(max_examples=50, deadline=None)
def test_snappy_roundtrip_any_bytes(payload):
    assert snappy_codec.decompress(snappy_codec.compress(payload)) == payload


@given(st.integers(min_value=0, max_value=2**64 - 1))
def test_varint_roundtrip(n):
    value, pos = decode_varint(encode_varint(n), 0)
    assert value == n


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_varint_signed64_roundtrip(n):
    raw, _ = decode_varint(encode_varint(n), 0)
    assert signed64(raw) == n


_ts_values = st.floats(
    allow_nan=False, allow_infinity=True, width=64
)


@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=10_000_000),
                  _ts_values),
        min_size=0, max_size=200,
    )
)
@settings(max_examples=60, deadline=None)
def test_xor_chunk_roundtrip_random_series(deltas):
    t = 1_600_000_000_000
    samples = []
    for d, v in deltas:
        t += d
        samples.append((t, v))
    assert decode_xor_chunk(encode_xor_chunk(samples)) == samples


@given(st.lists(st.tuples(st.text(max_size=20), st.text(max_size=20)),
                max_size=10))
def test_protowire_string_fields_roundtrip(pairs):
    w = Writer()
    for name, value in pairs:
        w.message(1, Writer().string(1, name).string(2, value))
    decoded = []
    for f, _, v in iter_fields(bytes(w)):
        inner = {g: x for g, _, x in iter_fields(v)}
        decoded.append((inner.get(1, b"").decode(), inner.get(2, b"").decode()))
    assert decoded == pairs


# -- inference laws ---------------------------------------------------------


@given(st.integers(min_value=-(2**63), max_value=2**63 - 1))
def test_integers_always_infer_integer(n):
    assert infer_cell(str(n)) == (InferredType.INTEGER, n)


@given(st.floats(allow_nan=False, allow_infinity=False))
def test_finite_float_repr_infers_numeric_kind(f):
    kind, value = infer_cell(repr(f))
    assert kind in (InferredType.INTEGER, InferredType.FLOAT)
    assert math.isclose(float(value), f, rel_tol=1e-15)


@given(st.lists(st.sampled_from(["1", "2.5", "true", "x", "{}",
                                 "2020-01-01T00:00:00Z", ""]),
                min_size=1, max_size=8))
def test_lattice_string_dominates(cells):
    # Law: if any cell is a String, the column is String with original
    # content (columns.rs:57-61).
    kinds = {infer_cell(c)[0] for c in cells}
    k, values = infer_column(cells)
    if InferredType.STRING in kinds:
        assert k is InferredType.STRING and values == cells


@given(st.lists(st.integers(-10**15, 10**15).map(str), min_size=1, max_size=20))
def test_lattice_pure_integers(cells):
    assert infer_column(cells) == (InferredType.INTEGER,
                                   [int(c) for c in cells])


@given(st.datetimes(min_value=dt.datetime(1900, 1, 1),
                    max_value=dt.datetime(2100, 1, 1)))
def test_iso_datetime_cells_infer_datetime(d):
    s = d.strftime("%Y-%m-%dT%H:%M:%S") + "Z"
    kind, value = infer_cell(s)
    assert kind is InferredType.DATETIME
    assert value == d.replace(microsecond=0, tzinfo=dt.timezone.utc)


# -- identity ---------------------------------------------------------------

_label_text = st.text(
    alphabet=st.characters(blacklist_characters="\x0b\x1c\x1d\x1e\x1f",
                           blacklist_categories=("Cs",)),
    max_size=12,
)


@given(st.dictionaries(_label_text, _label_text, max_size=5))
@settings(max_examples=50, deadline=None)
def test_sensor_uuid_label_order_invariance(labels):
    a = sensor_uuid("m", SensorType.FLOAT, None, labels)
    b = sensor_uuid("m", SensorType.FLOAT, None,
                    dict(reversed(list(labels.items()))))
    assert a == b


@given(_label_text.filter(lambda s: s))
@settings(max_examples=50, deadline=None)
def test_sensor_uuid_name_prefix_property(name):
    # First 8 hex chars depend only on the name (sensor.rs:159-175).
    a = sensor_uuid(name, SensorType.FLOAT, None, {"k": "1"})
    b = sensor_uuid(name, SensorType.INTEGER, "unit", {"k": "2"})
    assert a[:8] == b[:8]


# ---------------------------------------------------------------------------
# GIF LZW codec round-trip (pipeline/multimodal.py)
# ---------------------------------------------------------------------------

@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(min_value=1, max_value=40),
    h=st.integers(min_value=1, max_value=12),
    n_colors=st.integers(min_value=2, max_value=16),
    data=st.data(),
    interlace=st.booleans(),
)
def test_gif_lzw_roundtrip_arbitrary_frames(w, h, n_colors, data, interlace):
    """Any index frame over any small palette must survive the full
    container encode (test encoder) → decode (real decoder) cycle,
    including variable code-width growth and interlaced row order."""
    from tests.test_multimodal import make_gif_full

    from sensapp_spark.pipeline.multimodal import decode_gif_pixels

    palette = [(i * 17 % 256, i * 29 % 256, i * 43 % 256)
               for i in range(n_colors)]
    idx = bytes(
        data.draw(
            st.lists(
                st.integers(min_value=0, max_value=n_colors - 1),
                min_size=w * h, max_size=w * h,
            )
        )
    )
    payload = make_gif_full(w, h, idx, palette, interlace=interlace)
    got_w, got_h, ch, px = decode_gif_pixels(payload)
    assert (got_w, got_h, ch) == (w, h, 3)
    assert px == b"".join(bytes(palette[i]) for i in idx)


# ---------------------------------------------------------------------------
# Chunk-plan window arithmetic (pipeline/text.py) — pure replay of the
# closed-form last-start, no Spark session needed
# ---------------------------------------------------------------------------

@settings(max_examples=200, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=5000),
    chunk=st.integers(min_value=2, max_value=512),
    data=st.data(),
)
def test_chunk_windows_cover_exactly(n, chunk, data):
    """The closed-form window starts must (a) cover every token,
    (b) start a window only when it adds new tokens, (c) overlap
    consecutive windows by exactly `overlap` away from the tail, and
    (d) emit exactly one window for short documents."""
    import math

    overlap = data.draw(st.integers(min_value=0, max_value=chunk - 1))
    step = chunk - overlap
    last_start = max(0, math.floor((n - overlap - 1) / step) * step)
    starts = list(range(0, last_start + 1, step))
    covered = set()
    prev_end = None
    for s in starts:
        end = min(n, s + chunk)
        assert s < n, f"window starts past the document ({s} >= {n})"
        if prev_end is not None:
            assert end > prev_end, "window adds no new tokens"
        covered.update(range(s, end))
        prev_end = end
    assert covered == set(range(n)), "tokens not fully covered"
    if n <= chunk:
        assert starts == [0]


# ---------------------------------------------------------------------------
# PNG decode round-trip (round-5 branches: filters x color types x
# depths x Adam7) — the forward encoder lives in test_multimodal and is
# written independently from the same public spec
# ---------------------------------------------------------------------------

@settings(max_examples=40, deadline=None)
@given(
    w=st.integers(1, 11),
    h=st.integers(1, 11),
    color=st.sampled_from([0, 2, 4, 6]),
    ftype=st.integers(0, 4),
    interlace=st.sampled_from([0, 1]),
    seed=st.integers(0, 2**31),
)
def test_png_roundtrip_any_geometry(w, h, color, ftype, interlace, seed):
    import random

    from test_multimodal import make_png_full

    from sensapp_spark.pipeline.multimodal import decode_png_pixels

    ch = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    rng = random.Random(seed)
    rows = [bytes(rng.randrange(256) for _ in range(w * ch))
            for _ in range(h)]
    p = make_png_full(w, h, rows, color=color, bpp=ch,
                      interlace=interlace, ftype=ftype)
    got = decode_png_pixels(p)
    assert got == (w, h, ch, b"".join(rows))


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 9),
    h=st.integers(1, 9),
    depth=st.sampled_from([1, 2, 4]),
    interlace=st.sampled_from([0, 1]),
    seed=st.integers(0, 2**31),
)
def test_png_subbyte_gray_roundtrip(w, h, depth, interlace, seed):
    import random

    from test_multimodal import make_png_subbyte

    from sensapp_spark.pipeline.multimodal import decode_png_pixels

    rng = random.Random(seed)
    mx = (1 << depth) - 1
    rows = [[rng.randrange(mx + 1) for _ in range(w)] for _ in range(h)]
    p = make_png_subbyte(w, h, rows, color=0, depth=depth,
                         interlace=interlace)
    scale = 255 // mx
    got = decode_png_pixels(p)
    assert got == (w, h, 1, bytes(v * scale for r in rows for v in r))


# ---------------------------------------------------------------------------
# Arrow-built ingest frames (ingest/frames.py) collect like row-built ones
# ---------------------------------------------------------------------------

_ZONES = st.sampled_from([
    dt.timezone.utc,
    dt.timezone(dt.timedelta(hours=5, minutes=30)),
    dt.timezone(-dt.timedelta(hours=8)),
    zoneinfo.ZoneInfo("Europe/Oslo"),
])
_aware_times = st.datetimes(min_value=dt.datetime(1900, 1, 1),
                            max_value=dt.datetime(2100, 1, 1),
                            timezones=_ZONES)
_doubles = st.floats() | st.sampled_from(
    [math.nan, math.inf, -math.inf, -0.0])
_VALUES = {
    SensorType.INTEGER: st.integers(-(2**63), 2**63 - 1),
    SensorType.NUMERIC: st.decimals(min_value=-(10**19), max_value=10**19,
                                    allow_nan=False, allow_infinity=False),
    SensorType.FLOAT: _doubles,
    SensorType.STRING: st.text(max_size=12),
    SensorType.BOOLEAN: st.booleans(),
    SensorType.LOCATION: st.tuples(_doubles, _doubles),
    SensorType.JSON: st.text(max_size=12),
    SensorType.BLOB: st.binary(max_size=12),
}


@pytest.mark.parametrize("stype", list(SensorType), ids=lambda t: t.name)
@settings(max_examples=6, deadline=None)
@given(data=st.data())
def test_arrow_frame_collects_like_row_frame(spark, stype, data):
    """Nulls, non-finite and signed-zero doubles, pre-1970 and
    µs-precision times in any zone, decimals past the column scale
    (rounded half-up on both paths): ``arrow_frame`` and
    ``createDataFrame(rows, schema)`` collect the same rows."""
    rows = data.draw(st.lists(st.tuples(
        st.text(min_size=1, max_size=8), _aware_times,
        st.none() | _VALUES[stype],
    ), max_size=8))
    schema = value_schema(stype)
    got = arrow_frame(spark, rows, schema).collect()
    # repr, not ==: NaN != NaN, and -0.0 == 0.0 would hide a lost sign.
    assert repr(got) == repr(spark.createDataFrame(rows, schema).collect())


@settings(max_examples=6, deadline=None)
@given(rows=st.lists(st.tuples(
    st.text(min_size=1, max_size=8), st.text(max_size=8),
    st.sampled_from([t.label for t in SensorType]),
    st.none() | st.text(max_size=4), st.none() | st.text(max_size=4),
    st.dictionaries(st.text(max_size=4), st.text(max_size=4), max_size=3),
), max_size=6))
def test_arrow_frame_sensor_rows_collect_like_row_frame(spark, rows):
    """Equal rows, and labels stored in key order whatever order the
    dict was built in (the row path kept the JVM HashMap's order).
    ``map_keys`` shows the stored order; a collected dict does not."""
    df = arrow_frame(spark, rows, SENSOR_SCHEMA)
    assert df.collect() == spark.createDataFrame(rows, SENSOR_SCHEMA).collect()
    keys = [r.k for r in df.selectExpr("map_keys(labels) AS k").collect()]
    assert keys == [sorted(labels) for *_, labels in rows]


def test_arrow_frame_refuses_naive_datetimes(spark):
    with pytest.raises(ValueError, match="naive datetime"):
        arrow_frame(spark, [("s", dt.datetime(2024, 1, 1), 1.0)],
                    value_schema(SensorType.FLOAT))


# -- ANN training sample ----------------------------------------------------


@settings(max_examples=12, deadline=None)
@given(
    cap=st.integers(min_value=1, max_value=300),
    extra=st.integers(min_value=1, max_value=3000),
    seeds=st.integers(min_value=0, max_value=16),
)
def test_train_sample_above_cap_holds_exactly_cap(spark, cap, extra, seeds):
    """Above the cap the md5 band, widened by 8·√cap, always holds at
    least ``cap`` rows, so the sample is exactly ``cap`` distinct corpus
    rows — ``len(sample) < cap`` keeps meaning "the whole corpus"."""
    from pyspark.sql import functions as F

    from sensapp_spark.pipeline.similarity import train_sample

    n = cap + extra
    corpus = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("float")).alias("embedding"),
    )
    sample = train_sample(corpus, cap=cap, seeds=seeds)
    ids = [vid for vid, _ in sample]
    assert len(sample) == cap
    assert ids == sorted(set(ids))
    assert all(0 <= vid < n and emb == [float(vid)] for vid, emb in sample)
    seed_band = set(range(seeds))
    assert seed_band <= set(ids) if seeds <= cap else set(ids) <= seed_band


# -- rollup-served == raw ---------------------------------------------------
#
# One fixed lake per module, folded by a quartet RollupStore and a
# bottom-k QuantileRollupStore at the same grain. Hypothesis draws the
# range function, a grain-aligned window, start and offset, and a step
# grid: one step (any step length — a one-step grid has no step to
# align) or several grain-multiple steps. The oracle is the raw
# evaluator over the same lake.

_G = 1800  # rollup grain (s)
_T0 = dt.datetime(2024, 1, 1)
_NOW = dt.datetime(2024, 1, 1, 12, 17, 3)  # parse anchor, not aligned


def _rollup_lake_rows():
    """Samples on bucket edges (multiples of 1800 s), between them,
    repeated at one instant with different values, a 2 h gap (m/a), a
    single-sample series (m/c) and a second metric (n/a). Values are
    quarter-integers, so the folded sums carry only rounding of the
    Σv²/n − μ² kind."""
    rng = random.Random(14)
    times = {
        "m/a": [*range(0, 3 * 3600, 600), 3600, 3600,
                *range(5 * 3600, 8 * 3600 + 1, 900)],
        "m/b": [7, 1799, 1800, 1800, 5401, 9000, 9000, 9000, 12600,
                16199, 21600, 27000],
        "m/c": [14400],
        "n/a": list(range(0, 8 * 3600, 3600)),
    }
    return [
        (sid, _T0 + dt.timedelta(seconds=s), rng.randint(-40, 40) / 4)
        for sid, ts in times.items()
        for s in ts
    ]


@pytest.fixture(scope="module")
def rollup_lake(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from sensapp_spark.storage.lake import SensorLake
    from sensapp_spark.storage.qrollup import QuantileRollupStore
    from sensapp_spark.storage.rollup import RollupStore

    lake = SensorLake(spark, str(tmp_path_factory.mktemp("prop_rollup")))
    vals = spark.createDataFrame(
        _rollup_lake_rows(), "sensor_id string, time timestamp, value double"
    )
    lake.append_values(SensorType.FLOAT, vals)
    sensors = vals.select("sensor_id").distinct().select(
        "sensor_id",
        F.split("sensor_id", "/").getItem(0).alias("name"),
        F.lit("Float").alias("type"),
        F.lit(None).cast("string").alias("unit"),
        F.lit(None).cast("string").alias("unit_description"),
        F.create_map(
            F.lit("site"), F.split("sensor_id", "/").getItem(1)
        ).alias("labels"),
    )
    store = RollupStore(lake, grain_s=_G)
    qstore = QuantileRollupStore(lake, grain_s=_G)
    for s in (store, qstore):
        s.refresh(SensorType.FLOAT)
    return lake, sensors, store, qstore


# (n_steps, step seconds): one step of any length, or 1–4 steps of
# 1–3 grains.
_GRIDS = st.tuples(st.just(0), st.sampled_from([1, 7, 60, _G, 5400])) | (
    st.tuples(st.integers(1, 4), st.sampled_from([_G, 2 * _G, 3 * _G]))
)
_GRID_DRAWS = dict(
    window=st.integers(1, 4),
    start=st.integers(0, 18),
    offset=st.integers(0, 2),
    grid=_GRIDS,
)


def _served_and_raw(rollup_lake, store, call, window, start, offset, grid):
    """(served, raw) rows of ``call(m[window·G] offset offset·G)``
    evaluated at ``T0 + start·G + i·step`` for i ∈ [0, n_steps], keyed
    by (sensor_id, t)."""
    from sensapp_spark.query.promql_ext import evaluate_range, parse_extended
    from sensapp_spark.query.rollup_serve import (
        _window_aligned,
        evaluate_range_rollup,
    )

    lake, sensors, *_ = rollup_lake
    n_steps, step = grid
    t0 = _T0 + dt.timedelta(seconds=start * _G)
    t1 = t0 + dt.timedelta(seconds=n_steps * step)
    sel = "m" if call is None else f"m[{window * _G}s]"
    if offset:
        sel += f" offset {offset * _G}s"
    eq = parse_extended(sel if call is None else call(sel), now=_NOW)
    assert _window_aligned(eq, _G, t0, step, _NOW, t1)
    served = evaluate_range_rollup(
        store, sensors, eq, t0, t1, step, now=_NOW
    )
    raw = evaluate_range(
        sensors, lake.values(SensorType.FLOAT), eq,
        start=t0, end=t1, step_seconds=step, now=_NOW,
    )
    assert served.columns == raw.columns
    return tuple(
        {(r.sensor_id, r.t): r.value for r in df.collect()}
        for df in (served, raw)
    )


# Folded moment sums: the raw path adds samples, the served path adds
# per-bucket partial sums (and stdvar/stddev use Σv²/n − μ²).
_FOLDED_SUMS = frozenset(
    ["sum_over_time", "avg_over_time", "stddev_over_time", "stdvar_over_time"]
)


@settings(max_examples=10, deadline=None)
@given(
    func=st.sampled_from(sorted(ROLLUP_SERVE_FUNCS, key=str)),
    **_GRID_DRAWS,
)
def test_rollup_served_equals_raw(rollup_lake, func, window, start, offset,
                                  grid):
    """Every served function, on both grid shapes: the same (sensor, t)
    rows; values bit-equal, or within 1e-9 relative for folded sums.
    ``func`` None is the plain selector (its window is the 1 h
    lookback)."""
    store = rollup_lake[2]
    call = None if func is None else (lambda sel: f"{func}({sel})")
    served, raw = _served_and_raw(
        rollup_lake, store, call, window, start, offset, grid
    )
    assert served.keys() == raw.keys()
    for k, w in raw.items():
        if func in _FOLDED_SUMS:
            assert math.isclose(served[k], w, rel_tol=1e-9), (k, w)
        else:
            assert served[k] == w, k


@settings(max_examples=5, deadline=None)
@given(phi=st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9, 1.0]), **_GRID_DRAWS)
def test_quantile_served_equals_raw_below_k(rollup_lake, phi, window, start,
                                            offset, grid):
    """No window of the lake holds more than K = 256 samples, so the
    merged bottom-k sample is the whole window and the served
    ``quantile_over_time`` equals the raw one up to the interpolation's
    last bit (Spark's ``percentile`` weights both order statistics,
    the fold adds a fraction of their difference)."""
    qstore = rollup_lake[3]
    served, raw = _served_and_raw(
        rollup_lake, qstore, lambda sel: f"quantile_over_time({phi}, {sel})",
        window, start, offset, grid,
    )
    assert served.keys() == raw.keys()
    for k, w in raw.items():
        assert math.isclose(served[k], w, rel_tol=1e-12, abs_tol=1e-12), (k, w)
