import numpy as np
import pytest

import series


def _fake_detect(values, indices, **kw):
    if values[0] == -1.0:
        raise ValueError("InvalidSeriesValue")
    n = len(values)
    flags = [i == n - 1 for i in range(n)]
    return ({"is_anomaly": flags, "value": values, "score": [0.125] * n}, 24, None,
            "SpectralResidual", False)


def _rows(key, n, first=0.0):
    vals = np.full(n, 1.0)
    vals[0] = first
    return [key] * n, list(range(n)), list(vals)


def test_every_series_is_accounted_for():
    keys, idx, vals = [], [], []
    for k, n, first in [("0/user/turn_rate", 11, 1.0), ("0/user/text_len", 12, 1.0),
                        ("1/tool/tool_rate", 8641, 1.0), ("1/user/turn_rate", 40, -1.0)]:
        a, b, c = _rows(k, n, first)
        keys += a; idx += b; vals += c
    # a NaN point is dropped before the length gate: 12 rows -> 11 points
    keys += ["2/user/turn_rate"] * 12; idx += list(range(12)); vals += [np.nan] + [1.0] * 11
    r = series.replay(np.array(keys, dtype=object), np.array(idx), np.array(vals),
                      detect=_fake_detect)
    assert (r.series_in, r.too_short, r.too_long, r.errored, r.scored) == (5, 2, 1, 1, 1)
    assert r.series_in == r.scored + r.skipped
    assert r.verdicts == {"0/user/text_len": (12, 1, 0.125, 24, "SpectralResidual", False,
                                              "anomaly_rate=0.0833")}
    assert r.models == {"SpectralResidual": 1} and r.shapes == {12}


def test_rows_are_sorted_by_index_before_scoring():
    seen = {}

    def detect(values, indices, **kw):
        seen["v"], seen["i"] = values, indices
        return _fake_detect(values, indices)

    idx = np.arange(12)[::-1] + 5
    series.replay(np.array(["k/m"] * 12, dtype=object), idx, idx.astype(float), detect=detect)
    assert seen["i"] == list(range(12)) and seen["v"] == [float(i + 5) for i in range(12)]


def test_transport_matches_float32_clamp():
    out = series.transport(np.array([1e39, -1e39, 0.1, np.nan]))
    assert out.dtype == np.float32 and len(out) == 3
    assert out[0] == np.float32(series.F32_MAX) and out[2] == np.float32(0.1)


def test_half_up_formatting_matches_spark():
    assert str(series._half_up(8 / 256, 4)) == "0.0313"
    assert series._max_score([0.12345650, 0.1]) == pytest.approx(0.123457)
    assert np.isnan(series._max_score([np.nan, 1.0]))


def test_compare_reports_differences():
    v = ("12", 1, 0.5, 24, "SpectralResidual", True, "anomaly_rate=0.0833")
    assert series.compare({"a": v}, {"a": v}) == []
    assert series.compare({"a": v}, {"a": v[:2] + (0.5 + 1e-9,) + v[3:]}) == []
    assert series.compare({"a": v}, {"a": v[:5] + (False,) + v[6:]})
    assert series.compare({"a": v}, {"b": v})


def test_written_rows_are_compared_on_passed_score_and_detail():
    v = {"a": (12, 1, 0.5, 24, "SpectralResidual", True, "anomaly_rate=0.0833")}
    written = {"a": (True, 0.5, "anomaly_rate=0.0833")}
    assert series.as_written(v) == written
    assert series.compare(series.as_written(v), written) == []
    assert series.compare(series.as_written(v), {"a": (True, 0.75, "anomaly_rate=0.0833")})
    assert series.compare(series.as_written(v), {"a": (True, None, "anomaly_rate=0.0833")})
    assert series.compare(series.as_written(v), {})
