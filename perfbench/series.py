"""Account for every drift series from outside the program, and replay the
scoring kernel on them in the driver.

The series are the rows ``derive_series`` hands to ``score_drift`` (after the
resume anti-join, when there is one).  Each is transported the way
``score_drift`` transports it (NULL and NaN points dropped, values clamped to
the float32 range and quantised to float32, points sorted by idx), then
classified as too short (< 12 points), too long (> 8640), errored (the
kernel raised) or scored.  Only scored series get a drift verdict from the
program, so the replayed verdicts must equal the program's: both the
``drift_verdicts`` rows of a traced job and the ``sr_drift`` rows every job
writes.
"""

from __future__ import annotations

import math
import time
from collections import Counter
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from anomaly_detector_spark.schema import MAX_SERIES_POINTS, MIN_SERIES_POINTS

F32_MAX = 3.4028234663852886e38
GRANULARITY, THRESHOLD, MAX_ANOMALY_RATIO, MAX_ANOMALY_RATE = "hourly", 3.5, 0.25, 0.05


@dataclass
class Replay:
    keys: list = field(default_factory=list)   # every series key, in order
    too_short: int = 0
    too_long: int = 0
    errored: int = 0
    detect_ms: list = field(default_factory=list)
    detect_total_s: float = 0.0
    shapes: set = field(default_factory=set)
    models: Counter = field(default_factory=Counter)
    verdicts: dict = field(default_factory=dict)

    @property
    def series_in(self) -> int:
        return len(self.keys)

    @property
    def scored(self) -> int:
        return len(self.verdicts)

    @property
    def skipped(self) -> int:
        return self.too_short + self.too_long + self.errored


def transport(values: np.ndarray) -> np.ndarray:
    """float32 quantisation as ``score_drift(transport_dtype="float32")``."""
    v = np.asarray(values, dtype=np.float64)
    v = v[~np.isnan(v)]
    return np.clip(v, -F32_MAX, F32_MAX).astype(np.float32)


def _half_up(x: float, places: int) -> Decimal:
    # Spark's round() and format_string('%.4f') round half up from the
    # shortest decimal form of the double; Python's round() is half-even
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-places), rounding=ROUND_HALF_UP)


def _max_score(score) -> float:
    s = np.asarray(score, dtype=np.float64)
    if np.isnan(s).any():
        return float("nan")
    top = float(s.max())
    return float(_half_up(top, 6)) if math.isfinite(top) else top


def replay(keys: np.ndarray, idx: np.ndarray, values: np.ndarray, detect=None) -> Replay:
    """Group rows by series key, then classify and score every series.

    ``keys`` holds the public series key ("<partition_key>/<metric>") of
    each row; ``detect`` defaults to ``kernels.detect.detect_series``."""
    if detect is None:
        from anomaly_detector_spark.kernels.detect import detect_series as detect
    out = Replay()
    keys = np.asarray(keys, dtype=object)
    idx = np.asarray(idx, dtype=np.int64)
    values = np.asarray(values, dtype=np.float64)
    order = np.lexsort((idx, keys.astype(str)))
    keys, idx, values = keys[order], idx[order], values[order]
    starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]]) if len(keys) else []
    ends = np.r_[starts[1:], len(keys)] if len(keys) else []
    for s, e in zip(starts, ends):
        out.keys.append(str(keys[s]))
        keep = ~np.isnan(values[s:e])
        g_idx = idx[s:e][keep]
        vals = transport(values[s:e])
        n = len(vals)
        if n < MIN_SERIES_POINTS:
            out.too_short += 1
            continue
        if n > MAX_SERIES_POINTS:
            out.too_long += 1
            continue
        t0 = time.perf_counter()
        try:
            results, period, _, model_id, _ = detect(
                vals.tolist(), (g_idx - g_idx[0]).tolist(), granularity=GRANULARITY,
                interval=1, threshold=THRESHOLD, max_anomaly_ratio=MAX_ANOMALY_RATIO)
        except Exception:  # the program skips a series whose kernel raises
            out.errored += 1
            out.detect_total_s += time.perf_counter() - t0
            continue
        dt = time.perf_counter() - t0
        out.detect_total_s += dt
        out.detect_ms.append(dt * 1e3)
        out.shapes.add(n)
        out.models[model_id] += 1
        n_anom = int(np.sum(np.asarray(results["is_anomaly"], dtype=bool)))
        score = results.get("score", np.asarray(results["value"]) * 0.0)
        out.verdicts[str(keys[s])] = (n, n_anom, _max_score(score), int(period), model_id,
                                      n_anom <= n * MAX_ANOMALY_RATE,
                                      f"anomaly_rate={_half_up(n_anom / n, 4)}")
    return out


def _same_score(a: float, b: float) -> bool:
    if a is None or b is None:
        return a is b
    if math.isnan(a) or math.isnan(b):
        return math.isnan(a) and math.isnan(b)
    return abs(a - b) <= 1e-6 * max(1.0, abs(a))


def _same(a: tuple, b: tuple) -> bool:
    """Field-wise equality; floats (the max score) to 1e-6."""
    return len(a) == len(b) and all(
        _same_score(x, y) if isinstance(x, float) or isinstance(y, float) else x == y
        for x, y in zip(a, b))


def as_written(verdicts: dict) -> dict:
    """The (passed, score, detail) of the ``sr_drift`` verdict row the runner
    writes for each series, from (n_points, n_anomalies, max_score, period,
    model_id, passed, detail)."""
    return {k: (v[5], v[2], v[6]) for k, v in verdicts.items()}


def compare(expected: dict, got: dict) -> list[str]:
    """Differences between two sets of verdicts keyed by series key (empty
    when they agree)."""
    errors = []
    missing, extra = expected.keys() - got.keys(), got.keys() - expected.keys()
    if missing or extra:
        errors.append(f"series keys differ: {len(missing)} expected only "
                      f"(e.g. {sorted(missing)[:3]}), {len(extra)} unexpected "
                      f"(e.g. {sorted(extra)[:3]})")
    for k in sorted(expected.keys() & got.keys()):
        if not _same(tuple(expected[k]), tuple(got[k])):
            errors.append(f"verdict {k}: expected {tuple(expected[k])} != {tuple(got[k])}")
            if len(errors) > 5:
                break
    return errors
