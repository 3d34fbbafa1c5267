"""Response parsers and the checks that compare them with the truth.

Each check returns the number of rows the response carried, or raises
``WrongAnswer``. They only read bytes the gateway returned; expected
rows, series sets and values come from ``truth.Truth``.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import json

from truth import Series, Truth, WrongAnswer, close, expect


def _epoch(text: str) -> float:
    parsed = dt.datetime.fromisoformat(text.replace("Z", "+00:00"))
    if parsed.tzinfo is None:
        parsed = parsed.replace(tzinfo=dt.timezone.utc)
    return parsed.timestamp()


def export_rows(fmt: str, body: bytes) -> list[tuple[str, float, object]]:
    """(sensor_id, epoch seconds, value) for every sample in an export."""
    if fmt == "csv":
        reader = csv.DictReader(io.StringIO(body.decode()))
        return [(r["sensor_id"], _epoch(r["timestamp"]), r["value"]) for r in reader]
    if fmt == "jsonl":
        out = []
        for line in body.decode().splitlines():
            if line:
                r = json.loads(line)
                out.append((r["sensor_uuid"], _epoch(r["timestamp"]), r["value"]))
        return out
    if fmt == "senml":
        out, sid, base_t = [], None, 0.0
        for r in json.loads(body):
            if "bn" in r:
                sid, base_t = r["bn"], r.get("bt", 0.0)
            value = r["v"] if "v" in r else r.get("vs", r.get("vb"))
            out.append((sid, base_t + r.get("t", 0.0), value))
        return out
    raise ValueError(fmt)


def _same_value(got, want) -> bool:
    if isinstance(want, str):
        return str(got) == want
    try:
        return close(float(got), float(want))
    except (TypeError, ValueError):
        return False


def check_samples(got: list[tuple[str, float, object]],
                  series: list[Series], lo: float, hi: float) -> int:
    """The export holds exactly the samples of ``series`` in [lo, hi]."""
    want = []
    for s in series:
        times, values = s.window(lo, hi)
        want.extend((s.sid, float(t), v) for t, v in zip(times, values))
    expect(len(got) == len(want), f"rows: got {len(got)}, want {len(want)}")
    got_sorted = sorted(got, key=lambda r: (r[0], r[1]))
    want.sort(key=lambda r: (r[0], r[1]))
    for g, w in zip(got_sorted, want):
        expect(g[0] == w[0] and abs(g[1] - w[1]) < 1e-3,
               f"sample key: got {g[:2]}, want {w[:2]}")
        expect(_same_value(g[2], w[2]), f"value at {w[:2]}: got {g[2]!r}, want {w[2]!r}")
    return len(got)


def range_points(body: bytes) -> list[tuple[str, float, float]]:
    rows = json.loads(body)["result"]
    return [(r["sensor_id"], _epoch(r["t"]), r["value"]) for r in rows]


def check_range_points(got, want) -> int:
    """query_range rows against (sensor_id, step time, value) triples."""
    expect(len(got) == len(want), f"points: got {len(got)}, want {len(want)}")
    got = sorted(got)
    want = sorted(want)
    for g, w in zip(got, want):
        expect(g[0] == w[0] and abs(g[1] - w[1]) < 1e-3,
               f"point key: got {g[:2]}, want {w[:2]}")
        expect(close(g[2], w[2]), f"point value at {w[:2]}: got {g[2]}, want {w[2]}")
    return len(got)


def avg_over_time_points(series: list[Series], start: int, end: int, step: int,
                         window: int) -> list[tuple[str, float, float]]:
    """Expected ``avg_over_time(sel[window])`` at start, start+step, ..., end
    (windows are left-open, right-closed; empty windows give no point)."""
    out = []
    for s in series:
        for t in range(start, end + 1, step):
            values = s.window(t - window + 1e-6, t)[1]
            if values:
                out.append((s.sid, float(t), sum(values) / len(values)))
    return out


def instant_rows(body: bytes) -> list[dict]:
    return json.loads(body)["result"]


def _group_key(row: dict, label: str) -> str | None:
    labels = row.get("labels")
    if isinstance(labels, dict) and label in labels:
        return labels[label]
    return row.get(label)


def check_instant_by_label(rows: list[dict], label: str, want: dict[str, float]) -> int:
    got = {_group_key(r, label): r["value"] for r in rows}
    expect(set(got) == set(want), f"groups: got {sorted(map(str, got))}, want {sorted(want)}")
    for k, v in want.items():
        expect(close(got[k], v), f"group {k}: got {got[k]}, want {v}")
    return len(rows)


def check_metrics_catalog(body: bytes, truth: Truth) -> int:
    """``/metrics``: one DCAT dataset per metric name written."""
    got = {d["@id"] for d in json.loads(body)["dcat:dataset"]}
    want = {s.name for s in truth.series.values()}
    expect(got == want, f"metrics: got {sorted(got)[:5]}..., want {sorted(want)[:5]}...")
    return len(got)


def chunked_read_series(body: bytes) -> list[tuple[dict, int]]:
    """STREAMED_XOR_CHUNKS frames → [(labels, sample count)], verifying
    each frame's CRC32C."""
    from sensapp_spark.wire.protowire import decode_varint, iter_fields
    from sensapp_spark.wire.xorchunk import crc32c, decode_xor_chunk

    out, pos = [], 0
    while pos < len(body):
        size, pos = decode_varint(body, pos)
        crc = int.from_bytes(body[pos:pos + 4], "big")
        msg = body[pos + 4:pos + 4 + size]
        pos += 4 + size
        expect(crc32c(msg) == crc, "remote-read frame CRC mismatch")
        for f, _, series in iter_fields(msg):
            if f != 1:
                continue
            labels, n = {}, 0
            for g, _, v in iter_fields(series):
                if g == 1:
                    kv = {k: bytes(x).decode() for k, _, x in iter_fields(v)}
                    labels[kv.get(1, "")] = kv.get(2, "")
                elif g == 2:
                    data = [x for k, _, x in iter_fields(v) if k == 4]
                    n += sum(len(decode_xor_chunk(bytes(d))) for d in data)
            out.append((labels, n))
    return out


def check_remote_read(got: list[tuple[dict, int]], series: list[Series],
                      lo: float, hi: float) -> int:
    want = {}
    for s in series:
        n = len(s.window(lo, hi)[0])
        if n:
            want[tuple(sorted({"__name__": s.name, **s.labels}.items()))] = n
    got_map = {tuple(sorted(labels.items())): n for labels, n in got}
    expect(got_map == want, f"remote read: got {len(got_map)} series / {sum(got_map.values())} samples, "
                            f"want {len(want)} / {sum(want.values())}")
    return sum(want.values())
