"""What the load generator knows it wrote: the reference every answer is
checked against.

Every sample the benchmark sends is recorded here once the gateway
acknowledges it, so a read's expected rows, series set and values come
from the generator, never from the program under test.
"""

from __future__ import annotations

import bisect
import re
from dataclasses import dataclass, field


class WrongAnswer(Exception):
    """A response that parsed but does not match what was written."""


@dataclass
class Series:
    sid: str
    name: str
    labels: dict[str, str]
    stype: str  # "float" | "integer" | "string"
    times: list[int] = field(default_factory=list)  # epoch seconds, sorted
    values: list = field(default_factory=list)

    def add(self, times: list[int], values: list) -> None:
        if self.times and times and times[0] <= self.times[-1]:
            # An earlier-generated write acknowledged after a later one.
            pairs = sorted(zip(self.times + list(times), self.values + list(values)),
                           key=lambda p: p[0])
            self.times = [t for t, _ in pairs]
            self.values = [v for _, v in pairs]
            return
        self.times.extend(times)
        self.values.extend(values)

    def window(self, lo: float, hi: float) -> tuple[list[int], list]:
        """Samples with lo <= t <= hi."""
        a = bisect.bisect_left(self.times, lo)
        b = bisect.bisect_right(self.times, hi)
        return self.times[a:b], self.values[a:b]

    def last_in(self, lo_open: float, hi: float):
        """Last sample with lo_open < t <= hi, or None."""
        b = bisect.bisect_right(self.times, hi)
        if b and self.times[b - 1] > lo_open:
            return self.times[b - 1], self.values[b - 1]
        return None


def matches(series: Series, matchers: list[tuple[str, str, str]]) -> bool:
    """Prometheus matcher semantics (regexes are fully anchored)."""
    for label, op, value in matchers:
        actual = series.name if label == "__name__" else series.labels.get(label, "")
        if op == "=" and actual != value:
            return False
        if op == "=~" and not re.fullmatch(value, actual):
            return False
    return True


class Truth:
    def __init__(self) -> None:
        self.series: dict[str, Series] = {}

    def get(self, sid: str, name: str, labels: dict[str, str], stype: str) -> Series:
        s = self.series.get(sid)
        if s is None:
            s = self.series[sid] = Series(sid, name, dict(labels), stype)
        return s

    def select(self, matchers, stype: str = "float") -> list[Series]:
        return [s for s in self.series.values()
                if s.stype == stype and matches(s, matchers)]

    def rows_per_type(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for s in self.series.values():
            out[s.stype] = out.get(s.stype, 0) + len(s.times)
        return out


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise WrongAnswer(what)


def close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
