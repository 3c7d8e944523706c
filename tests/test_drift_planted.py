"""Planted-anomaly truth tests for the Spark-side drift wiring.

The golden corpus proves the numpy kernel; these prove the DataFrame plumbing
(derive_series bucketing/grid indices -> mapInArrow scoring -> verdict
rollup) flags exactly the planted events and nothing structural around them.
The scoring pass is checked against a driver-side replay that calls
``detect_series`` directly on the collected series rows.
"""

import datetime as dt
import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from anomaly_detector_spark.kernels.detect import detect_series
from anomaly_detector_spark.operators.drift import (
    F32_MAX,
    derive_series,
    drift_verdicts,
    score_drift,
)
from anomaly_detector_spark.schema import MAX_SERIES_POINTS, MIN_SERIES_POINTS
from conftest import count_exchanges

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _mk_events(spark, spikes: dict[str, list[int]], n_hours: int = 200, base_rate: int = 20):
    """Synthetic events: `base_rate` rows per hour per event_type, plus
    `spike x 10` extra rows at the planted hour indices."""
    rows = []
    for etype in spikes:
        for h in range(n_hours):
            n = base_rate + (base_rate * 10 if h in spikes[etype] else 0)
            for i in range(n):
                rows.append((etype, T0 + dt.timedelta(hours=h, seconds=i % 3600), 1.0))
    pdf = pd.DataFrame(rows, columns=["event_type", "ts", "value"])
    return spark.createDataFrame(pdf)


def test_sr_drift_flags_planted_rate_spikes(spark):
    spikes = {"click": [50, 120], "view": []}
    ev = _mk_events(spark, spikes)
    series = derive_series(ev, partition_cols=["event_type"], ts_col="ts", bucket="1 hour",
                           value_exprs={"event_rate": F.count(F.lit(1)).cast("double")})
    scored = score_drift(series, granularity="hourly").collect()
    flagged = {}
    for r in scored:
        flagged.setdefault(r["series_key"], set())
        if r["is_anomaly"]:
            flagged[r["series_key"]].add(r["idx"])
    # the planted hours are flagged, as positive anomalies
    assert {50, 120} <= flagged["click/event_rate"]
    pos = {r["idx"] for r in scored if r["series_key"] == "click/event_rate" and r["is_positive_anomaly"]}
    assert {50, 120} <= pos
    # a flat series stays quiet
    assert flagged["view/event_rate"] == set()
    # no over-firing: at most a handful of borderline extras
    assert len(flagged["click/event_rate"]) <= 6


def test_drift_verdicts_fail_exactly_spiked_series(spark):
    spikes = {"click": [30, 60, 90, 110, 140, 170], "view": [], "purchase": []}
    ev = _mk_events(spark, spikes, n_hours=180)
    series = derive_series(ev, partition_cols=["event_type"], ts_col="ts", bucket="1 hour",
                           value_exprs={"event_rate": F.count(F.lit(1)).cast("double")})
    verdicts = {r["series_key"]: r for r in
                drift_verdicts(score_drift(series, granularity="hourly"),
                               max_anomaly_rate=0.02).collect()}
    assert not verdicts["click/event_rate"]["passed"]
    assert verdicts["click/event_rate"]["n_anomalies"] >= 6
    assert verdicts["view/event_rate"]["passed"]
    assert verdicts["purchase/event_rate"]["passed"]
    assert verdicts["view/event_rate"]["n_points"] == 180


def test_derive_series_grid_indices_with_missing_buckets(spark):
    """Bucket grid indices survive empty hours: idx is (ts-first)/bucket, not
    a dense row number — the kernel's fill-up path needs true grid gaps."""
    rows = []
    for h in [0, 1, 2, 5, 6, 10]:
        for i in range(3):
            rows.append(("click", T0 + dt.timedelta(hours=h, minutes=i), 1.0))
    ev = spark.createDataFrame(pd.DataFrame(rows, columns=["event_type", "ts", "value"]))
    series = derive_series(ev, partition_cols=["event_type"], ts_col="ts", bucket="1 hour",
                           value_exprs={"event_rate": F.count(F.lit(1)).cast("double")})
    got = sorted(r["idx"] for r in series.collect())
    assert got == [0, 1, 2, 5, 6, 10]


def test_score_drift_skips_too_short_series(spark):
    """Series under the reference's 12-point minimum produce no rows (the
    reference hard-errors; at table scope we skip, never crash the stage)."""
    spikes = {"click": []}
    ev = _mk_events(spark, spikes, n_hours=8)
    series = derive_series(ev, partition_cols=["event_type"], ts_col="ts", bucket="1 hour",
                           value_exprs={"event_rate": F.count(F.lit(1)).cast("double")})
    assert score_drift(series, granularity="hourly").count() == 0


def _replay(rows, quantize: bool = True) -> dict:
    """Driver replay of score_drift on collected (partition_key, metric,
    idx, value) rows: NULL/NaN points dropped, sorted by idx, quantized to
    float32 with the +/-f32-max clamp exactly as the transport does (or left
    exact float64 with ``quantize=False``), then ``detect_series`` called
    directly.  Returns {(partition_key, metric): [output row tuples]} for
    every series inside the [MIN_SERIES_POINTS, MAX_SERIES_POINTS] bounds;
    rows follow the DRIFT_RESULT_SCHEMA column order."""
    groups: dict = {}
    for r in rows:
        v = r["value"]
        if v is not None and not math.isnan(v):
            groups.setdefault((r["partition_key"], r["metric"]), []).append((r["idx"], v))
    out = {}
    for (pk, metric), pts in groups.items():
        if not MIN_SERIES_POINTS <= len(pts) <= MAX_SERIES_POINTS:
            continue
        pts.sort()
        idx = [i for i, _ in pts]
        vals = np.array([v for _, v in pts], dtype=np.float64)
        if quantize:
            vals = np.clip(vals, -F32_MAX, F32_MAX).astype(np.float32)
        results, period, _, model_id, _ = detect_series(
            vals.tolist(), [i - idx[0] for i in idx], granularity="hourly",
            interval=1, threshold=3.5, max_anomaly_ratio=0.25)
        score = results.get("score", results["value"] * 0.0)
        out[(pk, metric)] = [
            (f"{pk}/{metric}", i, float(results["value"][j]),
             float(results["expected_value"][j]), bool(results["is_anomaly"][j]),
             bool(results["is_positive_anomaly"][j]),
             bool(results["is_negative_anomaly"][j]), float(score[j]), period, model_id)
            for j, i in enumerate(idx)
        ]
    return out


def _assert_rows_equal(got, want):
    """Row tuples equal field by field; floats exactly (NaN equals NaN)."""
    assert len(got) == len(want)
    for rg, rw in zip(got, want):
        for vg, vw in zip(rg, rw):
            if isinstance(vw, float):
                assert vg == vw or (math.isnan(vg) and math.isnan(vw)), (rg, rw)
            else:
                assert vg == vw, (rg, rw)


def _planted_series(spark, spikes: dict, n_hours: int = 200):
    return derive_series(_mk_events(spark, spikes, n_hours=n_hours), partition_cols=["event_type"],
                         ts_col="ts", bucket="1 hour",
                         value_exprs={"event_rate": F.count(F.lit(1)).cast("double")})


def test_score_drift_matches_driver_replay(spark):
    """Every score_drift row equals the driver replay of detect_series, on a
    battery with spiky, flat, too-short and too-long series; exactly the
    series inside the 12..8640-point bounds are scored.  The bounds are
    inclusive and count points after NaN is dropped."""
    # sec_avg values (e.g. 9.5 / 7) are not float32-exact, so the replay
    # only matches if the transport quantizes exactly as it claims
    metrics = {"event_rate": F.count(F.lit(1)).cast("double"), "value_avg": F.avg("value"),
               "sec_avg": F.avg(F.second("ts") / 7.0)}
    ev = _mk_events(spark, {"click": [50, 120], "view": [], "purchase": [33]}, n_hours=150)
    short = _mk_events(spark, {"rare": []}, n_hours=MIN_SERIES_POINTS - 1)
    series = derive_series(ev.unionByName(short), partition_cols=["event_type"], ts_col="ts",
                           bucket="1 hour", value_exprs=metrics)

    def sawtooth(name, n):
        return spark.range(n).select(
            F.lit(name).alias("partition_key"), F.lit("event_rate").alias("metric"),
            F.col("id").cast("int").alias("idx"),
            (F.col("id") % 24 + 10.0).cast("double").alias("value"))

    edge = [10.0 + i % 5 for i in range(MIN_SERIES_POINTS + 1)]
    with_nan = edge[:5] + [float("nan")] + edge[6:]
    gated = _mk_series(spark, {("exact_min", "event_rate"): edge[:MIN_SERIES_POINTS],
                               ("min_after_nan", "event_rate"): with_nan,
                               ("under_min_after_nan", "event_rate"): with_nan[1:]})
    series = (series.select("partition_key", "metric", "idx", "value")
              .unionByName(sawtooth("exact_max", MAX_SERIES_POINTS))
              .unionByName(sawtooth("long", MAX_SERIES_POINTS + 1))
              .unionByName(gated))
    want = _replay(series.collect())
    assert sorted(want) == sorted(
        [(t, m) for t in ("click", "view", "purchase") for m in metrics]
        + [(t, "event_rate") for t in ("exact_min", "exact_max", "min_after_nan")])
    assert [len(want[(t, "event_rate")]) for t in ("exact_min", "exact_max", "min_after_nan")] \
        == [MIN_SERIES_POINTS, MAX_SERIES_POINTS, MIN_SERIES_POINTS]
    got = sorted(tuple(r) for r in score_drift(series, granularity="hourly").collect())
    _assert_rows_equal(got, sorted(row for rows in want.values() for row in rows))


def test_score_drift_adds_no_exchange_after_derive_series(spark):
    """derive_series' partition_key hash partitioning co-locates every
    series, so assume_partitioned scoring adds no Exchange of its own; the
    default path pays exactly one repartition."""
    series = _planted_series(spark, {"click": [50], "view": []})
    base = count_exchanges(series)
    assert count_exchanges(score_drift(series, granularity="hourly",
                                       assume_partitioned=True)) == base
    assert count_exchanges(score_drift(series, granularity="hourly")) == base + 1


def test_float32_transport_flags_match_float64_kernel(spark):
    """float32 transport quantizes inputs at ~1e-7 relative; detection flags
    on the planted battery equal detect_series on the exact float64 values."""
    series = _planted_series(spark, {"click": [50, 120], "view": []})
    exact = _replay(series.collect(), quantize=False)
    want = {(r[0], r[1]): r[4] for rows in exact.values() for r in rows}
    got = {(r["series_key"], r["idx"]): r["is_anomaly"]
           for r in score_drift(series, granularity="hourly").collect()}
    assert got == want and len(got) == 400
    assert any(want.values())


def _mk_series(spark, groups: dict[tuple, list[float]]):
    """Series rows straight in the (partition_key, metric, idx, value) shape
    score_drift consumes, bypassing derive_series."""
    rows = []
    for (pk, metric), vals in groups.items():
        for i, v in enumerate(vals):
            rows.append((pk, metric, i, float(v)))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["partition_key", "metric", "idx", "value"]))


def test_score_drift_groups_on_pair_not_joined_string(spark):
    """Distinct (partition_key, metric) pairs whose '/'-joined strings collide
    (partition values may contain '/') must be scored as SEPARATE series —
    grouping on the joined string would merge them into one interleaved
    series.  Each pair's rows equal its own driver replay."""
    spiky = [20.0] * 30
    spiky[10] = 300.0
    flat = [1000.0] * 30
    # both pairs join to the same public series_key "v/turn/rate"; one
    # partition puts them in the same Arrow batches
    series = _mk_series(spark, {("v/turn", "rate"): spiky,
                                ("v", "turn/rate"): flat}).repartition(1)
    want = _replay(series.collect())
    got = score_drift(series, granularity="hourly", assume_partitioned=True).collect()
    assert len(got) == 60
    for pair, inputs in ((("v/turn", "rate"), set(spiky)), (("v", "turn/rate"), set(flat))):
        mine = sorted(tuple(r) for r in got if r["value"] in inputs)
        _assert_rows_equal(mine, want[pair])
    # scored independently: the flat series is quiet, the spike is flagged
    assert not any(r["is_anomaly"] for r in got if r["value"] == 1000.0)
    assert any(r["is_anomaly"] and r["value"] == 300.0 for r in got)


def test_float32_transport_clamps_beyond_f32_range(spark):
    """|value| > f32-max clamps to a huge finite float instead of
    overflowing to Infinity (which would poison the kernel statistics);
    anomaly flags equal detect_series on the exact float64 values."""
    vals = [10.0] * 30
    vals[15] = 1e39  # overflows a float32
    series = _mk_series(spark, {("p", "m"): vals})
    got = sorted(score_drift(series, granularity="hourly").collect(), key=lambda r: r["idx"])
    exact = _replay(series.collect(), quantize=False)[("p", "m")]
    assert len(got) == len(exact) == 30
    for r in got:
        assert not np.isinf(r["value"]) and not np.isnan(r["value"])
    assert got[15]["value"] == F32_MAX
    assert [r["is_anomaly"] for r in got] == [r[4] for r in exact]
    assert got[15]["is_anomaly"]
