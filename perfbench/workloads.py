"""Seeded workloads: the lake each run sets up and the fixed op sequence
it then times.

Both workloads are closed loops with one client (remote-write shards,
Telegraf flushes and dashboard panels each wait for their reply). The
seed fixes every payload, series choice and time window; a run replays
the sequence from the start for as long as it measures.

All sample times carry a non-zero seconds offset while every query
bound and step sits on a whole minute, so no sample ever lands on a
window edge and each expected answer is exact.
"""

from __future__ import annotations

import io
import json
import random
import urllib.parse
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.ipc as ipc

import checks
from truth import Series, Truth, expect

DAY = 86400
HOUR = 3600
REGIONS = ("eu", "us", "ap", "sa")

PROM_WRITE_HEADERS = {
    "content-encoding": "snappy",
    "content-type": "application/x-protobuf",
    "x-prometheus-remote-write-version": "0.1.0",
}
PROM_READ_HEADERS = {
    "content-encoding": "snappy",
    "content-type": "application/x-protobuf",
    "x-prometheus-remote-read-version": "0.1.0",
}


@dataclass
class Op:
    """One request. ``check`` returns the rows it verified or raises
    ``WrongAnswer``; ``on_ack`` records acknowledged samples in the truth."""

    cls: str  # instant | range | export | catalog | write | maintain
    name: str
    method: str
    path: str
    check: Callable[[object], int]
    body: bytes | None = None
    headers: dict | None = None
    content_type: str | None = None
    samples: int = 0
    ok_status: int = 200
    on_ack: Callable[[], None] | None = None


# -- wire-format clients ---------------------------------------------------


def arrow_ipc(columns: dict[str, pa.Array]) -> bytes:
    table = pa.table(columns)
    sink = io.BytesIO()
    with ipc.new_file(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue()


def remote_write_body(series: list[tuple[str, dict, list[int], list[float]]]) -> bytes:
    from sensapp_spark.wire import snappy_codec
    from sensapp_spark.wire.prompb import TimeSeries, encode_write_request

    ts = [
        TimeSeries(
            labels=[("__name__", name)] + sorted(labels.items()),
            samples=[(v, t * 1000) for t, v in zip(times, values)],
        )
        for name, labels, times, values in series
    ]
    return snappy_codec.compress(encode_write_request(ts))


def remote_read_body(start_s: int, end_s: int, matchers: list[tuple[str, str, str]]) -> bytes:
    """A remote-read request that accepts streamed XOR chunks."""
    from sensapp_spark.operators.matchers import LabelMatcher, MatcherType
    from sensapp_spark.wire import snappy_codec
    from sensapp_spark.wire.prompb import (
        RESPONSE_TYPE_STREAMED_XOR_CHUNKS,
        ReadQuery,
        encode_read_request,
    )

    ms = [LabelMatcher(n, v, MatcherType(op)) for n, op, v in matchers]
    return snappy_codec.compress(encode_read_request(
        [ReadQuery(start_s * 1000, end_s * 1000, ms)], [RESPONSE_TYPE_STREAMED_XOR_CHUNKS]))


def iso(t: int) -> str:
    import datetime as dt

    return dt.datetime.fromtimestamp(t, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def selector(name: str, matchers: list[tuple[str, str, str]]) -> str:
    inner = ",".join(f'{k}{op}"{v}"' for k, op, v in matchers)
    return f"{name}{{{inner}}}" if inner else name


def q(path: str, **params) -> str:
    return path + "?" + urllib.parse.urlencode(params)


# -- shared op builders ------------------------------------------------------


def _sid(name: str, stype: str, labels: dict) -> str:
    from sensapp_spark.datamodel.sensor import sensor_uuid
    from sensapp_spark.datamodel.types import SensorType

    return sensor_uuid(name, SensorType.from_label(stype), None, labels)


def metrics_catalog_op(truth: Truth) -> Op:
    return Op("catalog", "metrics", "GET", "/metrics",
              lambda r: checks.check_metrics_catalog(r.data, truth))


def series_export_op(truth: Truth, sid: str, lo: int | None, hi: int | None, fmt: str) -> Op:
    params = {"format": fmt}
    if lo is not None:
        params.update(start=iso(lo), end=iso(hi))

    def check(r):
        s = truth.series[sid]
        return checks.check_samples(checks.export_rows(fmt, r.data), [s],
                                    lo if lo is not None else float("-inf"),
                                    hi if hi is not None else float("inf"))

    return Op("export", f"series_{fmt}", "GET", q(f"/series/{sid}", **params), check)


def avg_range_op(truth: Truth, metric: str, matchers, window: int,
                 start: int, end: int, step: int) -> Op:
    expr = f"avg_over_time({selector(metric, matchers)}[{window}s])"

    def check(r):
        want = checks.avg_over_time_points(
            truth.select([("__name__", "=", metric)] + list(matchers)),
            start, end, step, window)
        return checks.check_range_points(checks.range_points(r.data), want)

    return Op("range", "range_aligned", "GET",
              q("/api/v1/query_range", query=expr, start=start, end=end, step=step), check)


def maintain_op() -> Op:
    def check(r):
        doc = json.loads(r.data)
        expect(doc.get("status") == "maintained", f"maintain: {doc}")
        return 0

    return Op("maintain", "maintain", "POST", "/api/v1/admin/maintain", check)


def influx_op(truth: Truth, name: str, lines: list[str],
              acks: list[tuple[Series, list[int], list]]) -> Op:
    n = sum(len(t) for _, t, _ in acks)

    def ack():
        for s, times, values in acks:
            truth.get(s.sid, s.name, s.labels, s.stype).add(times, values)

    return Op("write", name, "POST", "/api/v2/write?precision=s",
              lambda r: 0, body="\n".join(lines).encode(), samples=n,
              ok_status=204, on_ack=ack)


def remote_write_op(truth: Truth, name: str, series: list[Series],
                    times: list[list[int]], values: list[list]) -> Op:
    """Remote write of ``values`` at ``times`` for each series."""
    def ack():
        for s, t, v in zip(series, times, values):
            truth.get(s.sid, s.name, s.labels, s.stype).add(t, v)

    body = remote_write_body([(s.name, s.labels, t, v) for s, t, v in zip(series, times, values)])
    return Op("write", name, "POST", "/api/v1/prometheus_remote_write", lambda r: 0,
              body=body, headers=PROM_WRITE_HEADERS, samples=sum(map(len, times)),
              ok_status=204, on_ack=ack)


def remote_read_xor_op(truth: Truth, matchers, lo: int, hi: int) -> Op:
    """Prometheus remote read answered as streamed XOR chunks."""
    def check(r):
        return checks.check_remote_read(checks.chunked_read_series(r.data),
                                        truth.select(matchers), lo, hi)

    return Op("export", "remote_read_xor", "POST", "/api/v1/prometheus_remote_read", check,
              body=remote_read_body(lo, hi, matchers),
              headers=PROM_READ_HEADERS)


# -- gateway_read ------------------------------------------------------------


class GatewayRead:
    """Dashboard reads over a fixed lake of 10 metrics x 25 hosts x 4
    regions = 1000 float series (2-3 labels) spanning 120 days at one
    sample per 4 days: 30,000 samples, loaded by one remote write and
    maintained once so that rollups and zone maps exist."""

    METRICS = ("cpu_usage", "mem_used", "disk_io", "net_rx", "net_tx",
               "load1", "temp_c", "fan_rpm", "req_rate", "err_rate")
    HOSTS = tuple(f"h{i:02d}" for i in range(25))
    T0 = 1704067200  # 2024-01-01T00:00:00Z
    DAYS = 120
    STEP = 4 * DAY

    def __init__(self, seed: int, now_s: float):
        self.rng = random.Random(seed)
        self.np_rng = np.random.default_rng(seed)
        self.truth = Truth()
        # Simple selectors are relative to the wall clock; this range
        # reaches back past the start of the lake from any later date.
        self.lookback_days = int((now_s - self.T0) // DAY) + 2
        self.layout: list[Series] = []
        for mi, metric in enumerate(self.METRICS):
            for hi, host in enumerate(self.HOSTS):
                for region in REGIONS:
                    labels = {"host": host, "region": region}
                    if mi < 5:
                        labels["tier"] = "ab"[hi % 2]
                    self.layout.append(Series(_sid(metric, "float", labels), metric, labels, "float"))

    def setup_requests(self) -> list[Op]:
        npts = self.DAYS * DAY // self.STEP
        times, values = [], []
        for _ in self.layout:
            offset = self.rng.randrange(1, 59) * 60 + self.rng.randrange(1, 60)
            times.append([self.T0 + offset + k * self.STEP for k in range(npts)])
            values.append(np.round(self.np_rng.normal(50.0, 15.0, npts), 3).tolist())
        return [remote_write_op(self.truth, "remote_write", self.layout, times, values),
                maintain_op()]

    def ops(self):
        """Endless rounds in a fixed template order (the seed only picks
        parameters): a simple selector, an extended instant query, a
        rollup-aligned range query, a series export, a catalog read and a
        streamed remote read. Nothing maintains the lake after set-up, so
        its layout stays fixed."""
        i = 0
        while True:
            yield [self._simple(i), self._sum_by(), self._aligned(i), self._export(i),
                   metrics_catalog_op(self.truth), self._remote_read()]
            i += 1

    def warmup(self) -> list[Op]:
        """The two templates whose first call costs most over later ones."""
        return [self._simple(0), self._sum_by()]

    def closing_ops(self) -> list[Op]:
        return []

    def _pick(self):
        return self.rng.choice(self.METRICS), self.rng.choice(self.HOSTS), self.rng.choice(REGIONS)

    def _simple(self, i: int) -> Op:
        """A simple selector over the whole lake, exported as CSV; even
        rounds match one label exactly, odd rounds add a regex."""
        metric, host, region = self._pick()
        if i % 2 == 0:
            matchers = [("host", "=", host)]
        else:
            matchers = [("host", "=~", f"h{self.rng.randrange(3)}[0-4]"), ("region", "=", region)]
        expr = f"{selector(metric, matchers)}[{self.lookback_days}d]"

        def check(r):
            series = self.truth.select([("__name__", "=", metric)] + matchers)
            return checks.check_samples(checks.export_rows("csv", r.data), series,
                                        float("-inf"), float("inf"))

        return Op("instant", "simple_csv", "GET",
                  q("/api/v1/query", query=expr, format="csv"), check)

    def _sum_by(self) -> Op:
        metric = self.rng.choice(self.METRICS)
        at = self.T0 + self.rng.randrange(3, self.DAYS * DAY // self.STEP) * self.STEP
        expr = f"sum by (region) (avg_over_time({metric}[4d] @ {at}))"

        def check(r):
            want: dict[str, float] = {}
            for s in self.truth.select([("__name__", "=", metric)]):
                region = s.labels["region"]
                want[region] = want.get(region, 0.0) + s.last_in(at - self.STEP, at)[1]
            return checks.check_instant_by_label(checks.instant_rows(r.data), "region", want)

        return Op("instant", "sum_by", "GET", q("/api/v1/query", query=expr, extended=1), check)

    def _aligned(self, i: int) -> Op:
        metric, host, _ = self._pick()
        days = (7, 14, 28)[i % 3]
        start = self.T0 + self.rng.randrange(1, self.DAYS - days) * DAY
        return avg_range_op(self.truth, metric, [("host", "=", host)],
                            HOUR, start, start + days * DAY, HOUR)

    def _export(self, i: int) -> Op:
        sid = self.rng.choice(self.layout).sid
        width = (DAY, 7 * DAY, 30 * DAY, None)[i % 4]
        lo = hi = None
        if width is not None:
            lo = self.T0 + self.rng.randrange(0, (self.DAYS * DAY - width) // HOUR) * HOUR
            hi = lo + width
        return series_export_op(self.truth, sid, lo, hi, "senml")

    def _remote_read(self) -> Op:
        metric, _, region = self._pick()
        lo = self.T0 + self.rng.randrange(0, self.DAYS - 28) * DAY
        return remote_read_xor_op(self.truth, [("__name__", "=", metric), ("region", "=", region)],
                                  lo, lo + 28 * DAY)


# -- gateway_write -----------------------------------------------------------


class GatewayWrite:
    """Collectors pushing into a live lake, each write read back at once.
    The lake starts empty. Writes rotate over Influx line protocol,
    Prometheus remote write and Arrow; each fills a fresh day with 100 to
    50,000 samples, and every other write per route adds series (a
    dimension upsert)."""

    T0 = 1709337600  # 2024-03-02T00:00:00Z
    # (route, batch sizes in samples, cycled; series per write). Sizes are
    # fixed so that runs with different seeds time the same work.
    ROUTES = (("influx", (200, 1000, 2000, 100), 8),
              ("remote_write", (1000, 100, 2000, 500), 8),
              ("arrow", (5000, 50000, 1000, 20000), 4))

    def __init__(self, seed: int, now_s: float):
        self.rng = random.Random(seed)
        self.np_rng = np.random.default_rng(seed)
        self.truth = Truth()
        self.cursor = self.T0
        self.pools: dict[str, list] = {r[0]: [] for r in self.ROUTES}
        self.writes = {r[0]: 0 for r in self.ROUTES}
        self.last: dict[str, tuple[list[Series], int]] = {}
        for _ in range(8):
            for route, *_ in self.ROUTES:
                self._grow(route)

    def setup_requests(self) -> list[Op]:
        return []

    def _grow(self, route: str) -> None:
        pool = self.pools[route]
        k = len(pool)
        region = REGIONS[k % 4]
        if route == "influx":
            labels = {"host": f"e{k:02d}", "region": region}
            pool.append((Series(_sid("env temp", "float", labels), "env temp", labels, "float"),
                         Series(_sid("env count", "integer", labels), "env count", labels, "integer")))
        elif route == "remote_write":
            labels = {"host": f"r{k:02d}", "region": region}
            pool.append((Series(_sid("rw_latency", "float", labels), "rw_latency", labels, "float"),))
        else:
            name = f"bulk_{k:02d}"
            pool.append((Series(_sid(name, "float", {}), name, {}, "float"),))

    def ops(self):
        """Endless rounds in a fixed template order: an Influx write and
        its read-back, a remote write, and an Arrow write and its
        read-back."""
        while True:
            influx = self._write("influx")
            check_influx = self._ryw("influx")
            remote = self._write("remote_write")
            arrow = self._write("arrow")
            yield [influx, check_influx, remote, arrow, self._ryw("arrow")]

    def warmup(self) -> list[Op]:
        """One round, so the timed window starts warm on every template."""
        return next(self.ops())

    def closing_ops(self) -> list[Op]:
        """One maintain tick over what the run wrote (traced runs only: a
        5-10 s tick would take a third of a timed window)."""
        return [maintain_op()]

    def _write(self, route: str) -> Op:
        _, sizes, k = next(r for r in self.ROUTES if r[0] == route)
        self.writes[route] += 1
        if self.writes[route] % 2 == 1:
            self._grow(route)
        n = sizes[(self.writes[route] - 1) % len(sizes)]
        targets = self.pools[route][-k:]
        series = [s for group in targets for s in group]
        per = max(1, n // len(series))
        base = self.cursor
        self.cursor += DAY
        spacing = (DAY - 2) // per
        times = [base + 1 + j * spacing for j in range(per)]
        self.last[route] = (series, base)
        values = [np.round(self.np_rng.normal(50.0, 15.0, per), 3).tolist() if s.stype == "float"
                  else self.np_rng.integers(0, 1000, per).tolist() for s in series]
        if route == "remote_write":
            return remote_write_op(self.truth, route, series, [times] * len(series), values)
        acks = [(s, times, v) for s, v in zip(series, values)]
        if route == "influx":
            lines = []
            for j in range(0, len(acks), 2):
                (temp, _, tv), (_, _, cv) = acks[j], acks[j + 1]
                tags = ",".join(f"{key}={val}" for key, val in sorted(temp.labels.items()))
                lines += [f"env,{tags} temp={a},count={b}i {t}" for t, a, b in zip(times, tv, cv)]
            return influx_op(self.truth, "influx", lines, acks)
        names, ts, vs = [], [], []
        for s, t, v in acks:
            names += [s.name] * len(t)
            ts += t
            vs += v
        body = arrow_ipc({
            "sensor_name": pa.array(names, pa.string()),
            "timestamp": pa.array(np.asarray(ts, dtype=np.int64) * 1_000_000, pa.timestamp("us")),
            "value": pa.array(vs, pa.float64()),
        })

        def ack():
            for s, t, v in acks:
                self.truth.get(s.sid, s.name, s.labels, s.stype).add(t, v)

        return Op("write", route, "POST", "/publish", lambda r: 0, body=body,
                  content_type="application/vnd.apache.arrow.file", samples=len(vs), on_ack=ack)

    def _ryw(self, route: str) -> Op:
        """Read back one series of the write just made, over its day."""
        series, base = self.last[route]
        s = self.rng.choice(series)
        return series_export_op(self.truth, s.sid, base, base + DAY, "jsonl")


WORKLOADS = {"gateway_read": GatewayRead, "gateway_write": GatewayWrite}
