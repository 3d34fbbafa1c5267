"""Self-test: the benchmark's checks catch deliberately wrong answers.

Runs without Spark:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))

import checks  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from truth import Series, Truth, WrongAnswer  # noqa: E402

SID = "8128849f-70a2-8824-aa27-f5675aaa1cf2"
T0 = 1704067277


def _truth() -> Truth:
    truth = Truth()
    s = truth.get(SID, "m1", {"host": "h1"}, "float")
    s.add([T0, T0 + 60, T0 + 120], [1.5, 2.25, 3.0])
    return truth


def _csv(rows) -> bytes:
    lines = ["timestamp,sensor_id,sensor_name,value,type,host"]
    lines += [f"{workloads.iso(t)},{SID},m1,{v},float,h1" for t, v in rows]
    return ("\n".join(lines) + "\n").encode()


class FakeResponse:
    def __init__(self, body: bytes, status: int = 200):
        self.data = body
        self.status_code = status
        self.headers = {}

    def get_data(self):
        return self.data

    def close(self):
        pass


class FakeClient:
    def __init__(self, resp: FakeResponse):
        self.resp = resp

    def open(self, path, method, **kwargs):
        return self.resp


def test_correct_export_passes():
    truth = _truth()
    s = truth.series[SID]
    body = _csv(zip(s.times, s.values))
    assert checks.check_samples(checks.export_rows("csv", body), [s], T0, T0 + 120) == 3


@pytest.mark.parametrize("mutate", [
    lambda rows: rows[:-1],                                   # a sample lost
    lambda rows: rows + [(T0 + 180, 9.0)],                    # a sample invented
    lambda rows: [(t, v + 0.5) if t == T0 else (t, v) for t, v in rows],  # wrong value
    lambda rows: [(t + 1 if t == T0 else t, v) for t, v in rows],         # wrong time
])
def test_wrong_export_is_caught(mutate):
    truth = _truth()
    s = truth.series[SID]
    body = _csv(mutate(list(zip(s.times, s.values))))
    with pytest.raises(WrongAnswer):
        checks.check_samples(checks.export_rows("csv", body), [s], T0, T0 + 120)


def test_wrong_range_value_is_caught():
    truth = _truth()
    want = checks.avg_over_time_points([truth.series[SID]], T0 + 3, T0 + 123, 60, 60)
    got = [(sid, t, v) for sid, t, v in want]
    assert checks.check_range_points(got, want) == len(want)
    got[0] = (got[0][0], got[0][1], got[0][2] * 2)
    with pytest.raises(WrongAnswer):
        checks.check_range_points(got, want)


def test_wrong_catalog_is_caught():
    truth = _truth()
    body = json.dumps({"dcat:dataset": [{"@id": "m1"}]}).encode()
    assert checks.check_metrics_catalog(body, truth) == 1
    body = json.dumps({"dcat:dataset": [{"@id": "m1"}, {"@id": "m2"}]}).encode()
    with pytest.raises(WrongAnswer):
        checks.check_metrics_catalog(body, truth)


def test_wrong_answer_counts_as_failed_op():
    """A wrong answer through the runner is a failed op, like an error."""
    truth = _truth()
    op = workloads.series_export_op(truth, SID, T0, T0 + 120, "csv")
    good = FakeResponse(_csv(zip(truth.series[SID].times, truth.series[SID].values)))
    rec, err = run.execute(FakeClient(good), op)
    assert err is None and rec["rows"] == 3
    bad = FakeResponse(_csv([(T0, 1.5)]))
    rec, err = run.execute(FakeClient(bad), op)
    assert err is not None and "rows" in err
    rec, err = run.execute(FakeClient(FakeResponse(b"boom", status=500)), op)
    assert err is not None and "HTTP 500" in err


def test_unacknowledged_write_is_not_recorded():
    truth = Truth()
    s = Series("x", "status state", {"host": "h1"}, "string")
    op = workloads.influx_op(truth, "influx", ['status,host=h1 state="ok" 1'], [(s, [1], ["ok"])])
    run.execute(FakeClient(FakeResponse(b"", status=500)), op)
    assert truth.rows_per_type() == {}
    run.execute(FakeClient(FakeResponse(b"", status=204)), op)
    assert truth.rows_per_type() == {"string": 1}
