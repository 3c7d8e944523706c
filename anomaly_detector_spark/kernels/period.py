"""Period detection — numpy ports (operators PD1-PD10, A4 in SURVEY.md).

- gcv / max_gcv (seasonal means + cross-validated MSE, float32 accumulation)
                            <- _anomaly_kernel_cython.pyx:193-229
- remove_anomaly_in_bucket  <- .pyx:339-350
- SimpleDetector            <- period/simple.py
- SpectrumDetector          <- period/spectrum.py (default detector:
                               correlogram, fields.py:145)
- ACF + Bartlett confidence <- statsmodels sm.tsa.acf(fft=False, alpha=0.1),
                               re-derived from the published Bartlett formula
- periodogram_peaks         <- the public `seasonal` package's interface,
                               reconstructed from its documented behavior
- period_detection          <- period/period_detect.py:10-18
"""

from __future__ import annotations

import numpy as np

from anomaly_detector_spark.kernels.special import norm_ppf
from anomaly_detector_spark.kernels.trend import (
    fit_trend,
    median_filter,
    normalize,
    smooth_spikes,
)

_f32 = np.float32

MIN_PERIOD = 4            # fields.py:149
DEFAULT_TREND_TYPE = "spline"
DEFAULT_PERIOD_THRESH = 0.9
DEFAULT_MIN_VAR = 0.20
DEFAULT_DETECTOR_TYPE = "correlogram"


def gcv(values, period: int) -> tuple[float, np.ndarray]:
    """Per-phase means + weighted CV-MSE with float32 accumulators
    (.pyx:207-229)."""
    vals = np.asarray(values, dtype=_f32)
    n = len(vals)
    # sequential float32 accumulation per phase, matching the Cython loop:
    # np.add.accumulate along the cycle axis IS the element-by-element f32
    # chain (each partial depends on the previous — no pairwise reordering),
    # so the padded-matrix form below reproduces the loop's roundings bit-
    # for-bit (trailing +0.0 pads are exact no-ops on finite sums)
    m = -(-n // period)  # cycles in the longest phase
    padded = np.zeros(period * m, dtype=_f32)
    padded[:n] = vals
    mat = padded.reshape(m, period)  # column p == vals[p::period] (padded)
    sum_y = np.add.accumulate(mat, axis=0, dtype=_f32)[-1]
    sum_y2 = np.add.accumulate(mat * mat, axis=0, dtype=_f32)[-1]
    cycles = np.full(period, n // period, dtype=np.int64)
    cycles[: n % period] += 1
    seasons = (sum_y / cycles.astype(_f32)).astype(_f32)
    cv_mse = _f32(0.0)
    for p in range(period):
        c = float(cycles[p])
        term = (c / (c - 1.0)) ** 2 * (float(sum_y2[p]) - float(sum_y[p]) ** 2 / c)
        cv_mse = _f32(cv_mse + term)
    cv_mse = _f32(cv_mse / n)
    cv_mse = 0.0 if np.isclose(float(cv_mse), 0.0) else float(cv_mse)
    return cv_mse, seasons


def max_gcv(data, periods) -> tuple[float, np.ndarray]:
    """Minimum CV-MSE over candidate periods (.pyx:193-205).

    Candidates are scanned in the caller's ascending order; a later
    candidate must beat the incumbent by >1% relative to win.  For harmonic
    candidates (p, 2p, 7p, ...) the CV-MSEs agree to ~0.3% and the raw argmin
    is decided by detrend-residual noise; the reference lands on the base
    period in those ties, which this epsilon reproduces deterministically.
    """
    cv_mse = np.inf
    cv_seasons = np.empty(1, dtype=_f32)
    for p in periods:
        mse, seasons = gcv(data, int(p))
        if mse < cv_mse * (1.0 - 0.01) or (cv_mse == np.inf and mse < cv_mse):
            cv_mse, cv_seasons = mse, seasons
    return cv_mse, cv_seasons


def fast_median_f32(arr: np.ndarray) -> float:
    """Median of a float32 array (quick_select result; .pyx:49-54)."""
    a = np.asarray(arr, dtype=_f32)
    n = len(a)
    s = np.sort(a)
    if n % 2 == 1:
        return float(s[n // 2])
    return float(_f32(0.5 * (float(s[n // 2 - 1]) + float(s[n // 2]))))


def _padded_phase_medians(mat: np.ndarray, cycles: np.ndarray) -> np.ndarray:
    """fast_median_f32 of every column of a NaN-padded f32 phase matrix.

    One C-side column sort; NaN pads sort past every real entry — including
    +inf AND any real NaN (np.sort places all NaNs last, so the first ``q``
    sorted slots of a column are exactly the sorted real values whenever the
    median index can land on one, and an index into the NaN tail yields NaN
    just as sorting the unpadded phase would).  Row ``q//2`` (odd q) / the
    f32-averaged pair (even q) of each column therefore equals
    fast_median_f32 of that phase's unpadded values bit-for-bit.  (+inf pads
    would break this: they sort BEFORE real NaNs and shift the index.)"""
    s = np.sort(mat, axis=0)
    period = mat.shape[1]
    med = np.empty(period, dtype=np.float64)
    odd = (cycles % 2) == 1
    cols = np.arange(period)
    med[odd] = s[cycles[odd] // 2, cols[odd]].astype(np.float64)
    if not odd.all():
        ev = ~odd
        lo = s[cycles[ev] // 2 - 1, cols[ev]]
        hi = s[cycles[ev] // 2, cols[ev]]
        # fast_median_f32's even formula: f32(0.5 * (f64(lo) + f64(hi)))
        med[ev] = _f32(0.5 * (lo.astype(np.float64) + hi.astype(np.float64))).astype(np.float64)
    return med


def remove_anomaly_in_bucket(values: np.ndarray, period: int) -> np.ndarray:
    """Port of .pyx:339-350 (including its literal mad formula).

    Vectorized across phases via the padded matrix: identical medians/MADs
    and spike replacements as the per-phase loop (kernel_ab bit-exact)."""
    values = np.array(values, dtype=float)
    n = len(values)
    if period > n:
        # a phase with zero entries: the per-phase loop's quick-select
        # indexed an empty array (loud IndexError); keep the failure loud
        raise ValueError(f"period {period} > series length {n}")
    m = -(-n // period)
    cycles = np.full(period, n // period, dtype=np.int64)
    cycles[: n % period] += 1
    pad = np.full(period * m, np.nan, dtype=_f32)
    pad[:n] = values  # f32 cast, same as fast_median_f32's input cast
    mat = pad.reshape(m, period)
    med = _padded_phase_medians(mat, cycles)  # per-phase fast_median_f32
    # deviations in f64 then cast f32, matching (sub - median).astype(_f32);
    # NaN pads stay NaN and sort past every real deviation (incl. +inf)
    padf = np.full(period * m, np.nan, dtype=np.float64)
    padf[:n] = values
    dev = (padf.reshape(m, period) - med[None, :]).astype(_f32)
    mad = 1.4826 * _padded_phase_medians(dev, cycles) + 1e-8
    full = padf.reshape(m, period)
    # NaN pads (and real NaN values) compare False — exactly the per-phase
    # loop's behavior for NaN; a real +inf value yields +inf/mad >= 3.0 True
    # and is replaced with the phase median, also matching the loop
    spikes = (full - med[None, :]) / mad[None, :] >= 3.0
    rep = np.broadcast_to(med[None, :], mat.shape)[spikes]
    flat_idx = (np.nonzero(spikes.ravel())[0])
    values[flat_idx] = rep
    return values


# --- periodogram (seasonal-package reconstruction) --------------------------


def periodogram(data, min_period: int = 4, max_period: int | None = None):
    """Welch power spectrum mapped to (period, power) pairs, freq-ascending.

    Semantics recovered by fitting the reference's golden expected values
    (NOTES_ROUND2.md): Hann window (periodic), 50% overlap,
    ``nperseg = min(2 * max_period, len(data) // 2)``, per-segment mean
    detrend, max_period default ``len(data) / 2.5`` — this reproduces the
    reference's implied guess_trended_period values exactly (e.g. 184/360 on
    the yahoo hourly cases) where a full-length |rfft|^2 gave 24/12.
    Overall power scaling is irrelevant downstream (thresholding and the
    weighted average use relative weights only).
    """
    data = np.asarray(data, dtype=float)
    n = len(data)
    if max_period is None:
        max_period = int(n / 2.5)
    nperseg = max(int(min(2 * max_period, n // 2)), 8)
    nperseg = min(nperseg, n)
    step = nperseg - nperseg // 2
    win = np.hanning(nperseg + 1)[:-1]  # periodic Hann (scipy fftbins=True)
    psd = None
    count = 0
    for i in range(0, n - nperseg + 1, step):
        seg = data[i:i + nperseg]
        seg = seg - seg.mean()
        p = np.abs(np.fft.rfft(seg * win)) ** 2
        psd = p if psd is None else psd + p
        count += 1
    psd /= count
    freqs = np.fft.rfftfreq(nperseg, d=1.0)
    periods = np.empty(len(freqs))
    periods[0] = np.inf
    periods[1:] = 1.0 / freqs[1:]
    mask = (periods >= min_period) & (periods <= max_period)
    return periods[mask], psd[mask]


def periodogram_peaks(data, min_period: int = 4, max_period: int | None = None,
                      thresh: float = 0.90):
    """Peaks scoring >= thresh * max power; returns a list of
    (period, score, period_lo, period_hi) or None (seasonal-package
    interface used at helpers.py:110-115, period/spectrum.py:105-119)."""
    periods, power = periodogram(data, min_period, max_period)
    if len(power) == 0 or power.max() <= 0:
        return None
    keep = np.where(power >= power.max() * thresh)[0]
    if len(keep) == 0:
        return None
    peaks = []
    for i in keep:
        # bracket by the neighboring FFT bins (freq-ascending -> period-descending)
        hi = periods[i - 1] if i > 0 else min(periods[i] * 2, max_period or periods[i] * 2)
        lo = periods[i + 1] if i + 1 < len(periods) else max(min_period, periods[i] / 2)
        peaks.append(
            (int(round(periods[i])), float(power[i]), int(max(min_period, round(lo))),
             int(round(hi)))
        )
    return peaks


# --- ACF (statsmodels reconstruction) ---------------------------------------


def acf(x, nlags: int, alpha: float = 0.1):
    """ACF with Bartlett confidence intervals; statsmodels sm.tsa.acf
    (fft=False, bartlett_confint=True) semantics."""
    x = np.asarray(x, dtype=float)
    n = len(x)
    d = x - x.mean()
    denom = (d * d).sum()
    nlags = min(nlags, n - 1)
    if denom == 0:
        r = np.zeros(nlags + 1)
        r[0] = 1.0
        return r, np.column_stack([r, r])
    r = np.empty(nlags + 1)
    r[0] = 1.0
    for k in range(1, nlags + 1):
        r[k] = (d[:-k] * d[k:]).sum() / denom
    varacf = np.ones(nlags + 1) / n
    varacf[0] = 0.0
    if nlags >= 2:
        varacf[2:] = (1 + 2 * np.cumsum(r[1:-1] ** 2)) / n
    z = norm_ppf(1 - alpha / 2.0)
    interval = z * np.sqrt(varacf)
    confint = np.column_stack([r - interval, r + interval])
    return r, confint


# --- detectors ---------------------------------------------------------------


class SimpleDetector:
    """Granularity-table candidate periods + GCV verification
    (period/simple.py)."""

    PERIOD_CONFIG = ((24, 0.35), (168, 0.15), (None, 0.1))
    PERIOD_DETREND_CONFIG = ((24, 0.35), (168, 0.65), (None, 0.7))

    @staticmethod
    def detect(series, granularity: str, interval: int | None):
        if series is None:
            return None
        return SimpleDetector.verify_period(np.array(series, dtype=float), granularity, interval)

    @staticmethod
    def guess_period(granularity: str, interval: int | None) -> list[int]:
        interval = interval if interval else 1
        periods = {
            "yearly": [],
            "none": [],
            "daily": [7],
            "hourly": [168 // interval, 24 // interval],
            "minutely": [1440 * 7 // interval, 1440 // interval, 1440 * 2 // interval],
            "weekly": [4 * 3, 4],
            "monthly": [12],
            "secondly": [86400 * 7 // interval, 86400 // interval, 86400 * 2 // interval],
            "microsecond": [1000],
        }
        return periods[granularity]

    @staticmethod
    def standard_period(granularity: str, interval: int | None) -> int:
        interval = interval if interval else 1
        period = {
            "daily": 7,
            "hourly": 168 // interval,
            "minutely": 1440 * 7 // interval,
            "weekly": 12,
            "monthly": 12,
            "secondly": 86400 * 7 // interval,
            "yearly": 0,
            "none": 0,
        }
        return period[granularity]

    @staticmethod
    def verify_period(values: np.ndarray, granularity: str, interval: int | None):
        periods = SimpleDetector.guess_period(granularity, interval)
        if len(periods) == 0:
            return None
        verified = None
        for period in periods:
            if len(values) <= period * 2 or period < MIN_PERIOD:
                continue
            if SimpleDetector.is_valid_period(values, period):
                verified = period
                break
        if verified:
            std_period = SimpleDetector.standard_period(granularity, interval)
            if len(values) <= std_period * 2 or std_period % verified != 0:
                return verified
            return std_period
        return None

    @staticmethod
    def is_valid_period(values: np.ndarray, period: int) -> bool:
        normed = normalize(values)
        removed_spike = smooth_spikes(normed)
        if np.isclose(removed_spike.var(), 0.0):
            return False
        if SimpleDetector.check_period(removed_spike, period, False):
            return True
        median_trend = median_filter(normed, period, True)
        detrended = normed - median_trend
        detrended = smooth_spikes(detrended)
        detrended = remove_anomaly_in_bucket(detrended, period)
        if np.isclose(detrended.var(), 0.0):
            return False
        return SimpleDetector.check_period(detrended, period, True)

    @staticmethod
    def check_period(values: np.ndarray, period: int, detrend: bool) -> bool:
        config_mse = (
            SimpleDetector.get_config(period, SimpleDetector.PERIOD_DETREND_CONFIG)
            if detrend
            else SimpleDetector.get_config(period, SimpleDetector.PERIOD_CONFIG)
        )
        var = values.var()
        cv_mse, _ = gcv(values, period)
        if np.isclose(cv_mse, 0.0):
            mse = 1
        else:
            mse = 1 - cv_mse / var
        return mse > config_mse

    @staticmethod
    def get_config(period: int, table) -> float:
        for bound, value in table:
            if bound is None or period <= bound:
                return value
        return table[-1][1]


class SpectrumDetector:
    """Spectral/ACF period detection with GCV gate (period/spectrum.py)."""

    @staticmethod
    def detect(series, trend_type=DEFAULT_TREND_TYPE, thresh=DEFAULT_PERIOD_THRESH,
               min_var=DEFAULT_MIN_VAR, detector_type=DEFAULT_DETECTOR_TYPE) -> int:
        if len(series) < 12:
            raise ValueError("Series length cannot be less than 12 for period detection.")
        series_array = np.array(series, dtype=float)
        series_array, _, _ = normalize(series_array, min_max=True)
        period, _, _ = SpectrumDetector.calculate_period(
            series_array, trend_type, thresh, min_var, detector_type
        )
        if period == 0:
            return period
        verified_period = period
        while verified_period != 0:
            series_array = series_array[0::verified_period]
            verified_period, _, _ = SpectrumDetector.calculate_period(
                series_array, trend_type, thresh, min_var, detector_type
            )
            if verified_period != 0:
                period = period * verified_period
        return period

    @staticmethod
    def calculate_period(series, trend_type, thresh, min_var, detector_type):
        if len(series) < 12:
            return 0, None, None
        seasons, trend = SpectrumDetector.fit_seasons(
            series, trend_type=trend_type, period_gram_thresh=thresh,
            min_ev=min_var, detector_type=detector_type,
        )
        if seasons is None or len(seasons) == 0:
            return 0, seasons, trend
        period = len(seasons)
        cycles = len(series) / period + 1
        if cycles <= 3:
            return 0, seasons, trend
        return period, seasons, trend

    @staticmethod
    def fit_seasons(data, trend_type="spline", period=None, min_ev=0.05,
                    period_gram_thresh=0.5, detector_type="periodogram"):
        data = smooth_spikes(data)
        if trend_type is None:
            trend = np.zeros(len(data))
        elif not isinstance(trend_type, np.ndarray):
            trend = fit_trend(data, kind=trend_type, period=period)
        else:
            trend = trend_type
        data = data - trend
        var = data.var()
        if np.isclose(var, 0.0):
            return None, trend
        if period:
            cv_mse, cv_seasons = gcv(data, period)
            fev = 1 - cv_mse / var
            if np.isclose(cv_mse, 0.0) or fev >= min_ev:
                return cv_seasons, trend
            return None, trend
        if detector_type == "periodogram":
            periods = SpectrumDetector.periodogram_detector(data, period_gram_thresh)
        else:
            periods = SpectrumDetector.correlogram_detector(data)
        if len(periods) == 0:
            return None, trend
        cv_mse, cv_seasons = max_gcv(data, np.array(periods, dtype="i"))
        if np.isclose(cv_mse, 0.0) or min_ev <= 1 - cv_mse / var:
            return cv_seasons, trend
        return None, trend

    @staticmethod
    def periodogram_detector(data, period_gram_thresh):
        if period_gram_thresh:
            peaks = periodogram_peaks(data, thresh=period_gram_thresh)
            if peaks is None:
                return []
            peaks = sorted(peaks)
        else:
            peaks = [(0, 0, 4, len(data) // 2)]
        periods = []
        period = 0
        for peak in peaks:
            periods.extend(range(max(period, peak[2]), peak[3] + 1))
            period = peak[3] + 1
        return periods

    @staticmethod
    def correlogram_detector(data, min_period=MIN_PERIOD, max_period=None, corr_thresh=0.1):
        if max_period is None:
            max_period = int(min(len(data) / 3.0, 2880 * 2))
        r, conf = acf(data, nlags=max_period, alpha=0.1)
        r = r[1:].copy()
        conf = conf[1:]
        periods = []
        while True:
            peak_i = int(r.argmax())
            ub = conf[peak_i, 1] - r[peak_i]
            if r[peak_i] < ub or r[peak_i] < corr_thresh:
                break
            r[peak_i] = 0
            if min_period < peak_i + 1 < max_period:
                periods.append(peak_i + 1)
        return periods


def period_detection(series, trend_type=DEFAULT_TREND_TYPE, thresh=DEFAULT_PERIOD_THRESH,
                     min_var=DEFAULT_MIN_VAR, detector_type=DEFAULT_DETECTOR_TYPE,
                     granularity="minutely", interval=1, skip_simple_detector=False,
                     return_period_source=False):
    """Port of period/period_detect.py:10-18."""
    if not skip_simple_detector:
        period = SimpleDetector.detect(series, granularity, interval)
        if period:
            return [period, 0] if return_period_source else period
    spectrum_period = SpectrumDetector.detect(
        series, trend_type=trend_type, thresh=thresh, min_var=min_var,
        detector_type=detector_type,
    )
    return [spectrum_period, 1] if return_period_source else spectrum_period
