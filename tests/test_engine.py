"""Engine-level tests: validation runner, checkpoint/resume, streaming drift."""

import os

import pyspark.sql.functions as F
import pytest

from anomaly_detector_spark.data import synth_registry, synth_transcripts
from anomaly_detector_spark.engine.checkpoint import CheckpointStore
from anomaly_detector_spark.engine.runner import run_validation
from anomaly_detector_spark.schema import REGISTRY_SCHEMA, TRANSCRIPTS_SCHEMA

CONSTRAINT_CHECKS = {"uniqueness", "monotonic_ts", "role_domain", "tool_domain",
                     "null_text", "referential", "turn_gaps"}


@pytest.fixture(scope="module")
def inputs(spark):
    transcripts = synth_transcripts(spark, n_convs=150, seed=42).cache()
    registry = synth_registry(spark, n_convs=150, seed=42).cache()
    return transcripts, registry


@pytest.fixture(scope="module")
def validation(spark, inputs):
    return run_validation(spark, *inputs, cache_input=True)


def test_verdicts_cover_all_checks(validation):
    checks = {r["check"] for r in validation.verdicts.collect()}
    assert CONSTRAINT_CHECKS | {"sr_drift"} <= checks


def test_violations_ordered_and_typed(validation):
    rows = validation.violations.collect()
    assert len(rows) > 0
    # stable (check, conv_id, turn_idx) ordering
    keys = [(r["check"], r["conv_id"] or "", r["turn_idx"] if r["turn_idx"] is not None else -1)
            for r in rows]
    assert keys == sorted(keys)


def test_planted_checks_fail_clean_checks_pass(validation):
    verd = {r["check"]: r["passed"] for r in validation.verdicts.collect()
            if r["partition_key"] == "_global"}
    assert verd["uniqueness"] is False      # planted dups
    assert verd["role_domain"] is False     # planted 'robot'
    assert verd["referential"] is False     # planted unregistered convs
    assert verd["turn_gaps"] is True        # generator emits contiguous turns


def test_checkpoint_resume(spark, validation, tmp_path):
    store = CheckpointStore(spark, str(tmp_path))
    verdicts = validation.verdicts.cache()
    store.record("run1", verdicts.limit(3))
    all_parts = verdicts.select("partition_key", "check").distinct()
    done_checks = [r["check"] for r in verdicts.limit(3).collect()]
    first_check = done_checks[0]
    parts_for_check = verdicts.filter(F.col("check") == first_check).select("partition_key")
    pending = store.pending(parts_for_check, first_check)
    assert pending.count() < parts_for_check.count() or parts_for_check.count() == 0
    store.record_metrics("run1", {"wall_s": 1.0})
    assert spark.read.parquet(os.path.join(str(tmp_path), "_metrics")).count() == 1


def test_resume_scores_only_pending_drift_partitions(spark, inputs, validation):
    """A resumed run skips the drift series recorded complete and emits an
    sr_drift verdict for exactly the others, each equal to the full run's
    (the anti-joined series take score_drift's repartition path)."""
    full = {r["partition_key"]: r for r in validation.verdicts.collect()
            if r["check"] == "sr_drift"}
    keys = sorted(full)
    done, pending = keys[::2], keys[1::2]
    assert done and pending
    completed = spark.createDataFrame([(k,) for k in done], "partition_key string")
    resumed = run_validation(spark, *inputs, completed_drift_partitions=completed,
                             persist_intermediates=False)
    got = {r["partition_key"]: r for r in resumed.verdicts.collect()
           if r["check"] == "sr_drift"}
    assert sorted(got) == pending
    for k in pending:
        assert got[k] == full[k], k


@pytest.mark.parametrize("case", ["empty_tables", "all_null_text"])
def test_run_validation_adversarial_inputs(spark, inputs, validation, case):
    """Degenerate inputs complete with pinned outcomes.  Empty transcripts
    and registry: every constraint passes with score 0 and no drift series
    exists.  All-null text: every turn is a null_text violation, the
    */text_len series have no points left and yield no verdict, and every
    other drift verdict equals the full run's."""
    if case == "empty_tables":
        transcripts = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
        registry = spark.createDataFrame([], REGISTRY_SCHEMA)
    else:
        transcripts, registry = inputs
        transcripts = transcripts.withColumn("text", F.lit(None).cast("string"))
    result = run_validation(spark, transcripts, registry, persist_intermediates=False)
    verdicts = result.verdicts.collect()
    constraint = {r["check"]: r for r in verdicts if r["check"] != "sr_drift"}
    drift = {r["partition_key"]: r for r in verdicts if r["check"] == "sr_drift"}
    assert set(constraint) == CONSTRAINT_CHECKS
    assert all(r["partition_key"] == "_global" for r in constraint.values())
    if case == "empty_tables":
        assert all(r["passed"] and r["score"] == 0.0 for r in constraint.values())
        assert drift == {}
        assert result.violations.count() == 0
        return
    assert constraint["null_text"]["score"] == transcripts.count()
    full = {r["partition_key"]: r for r in validation.verdicts.collect()
            if r["check"] == "sr_drift"}
    text_len = [k for k in full if k.endswith("/text_len")]
    assert text_len and not any(k.endswith("/text_len") for k in drift)
    assert drift == {k: v for k, v in full.items() if k not in text_len}


def test_streaming_drift_scores(spark, tmp_path):
    """Exercise the stateful latest-mode scorer through a memory-rate stream
    substitute: run the same applyInPandasWithState function on a static
    micro-batch via the batch API equivalence."""
    import pandas as pd

    from anomaly_detector_spark.streaming.drift_stream import STREAM_SCORE_SCHEMA, _score_latest

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    # one row per EVENT; the state function counts rows per bucket.  10
    # events/hour for 29 hours, a 100-event spike at hour 29, then one
    # trailing hour so the spike bucket closes and gets scored.
    buckets = pd.date_range("2025-01-01", periods=31, freq="h")
    rows = []
    for i, b in enumerate(buckets):
        n = 100 if i == 29 else 10
        rows.extend({"series_key": "a", "bucket_ts": b} for _ in range(n))
    pdf = pd.DataFrame(rows)
    state = FakeState()
    out = list(_score_latest(("a",), iter([pdf]), state))[0]
    assert len(out) == 30  # newest bucket stays open in state
    assert out.iloc[29]["value"] == 100.0
    assert bool(out.iloc[29]["is_anomaly"])  # planted spike flagged
    assert not out.iloc[:29]["is_anomaly"].any()
    assert out["n_state_points"].iloc[-1] == 30
    # second batch: a later bucket closes the held-open one
    pdf2 = pd.DataFrame([{"series_key": "a", "bucket_ts": buckets[-1] + pd.Timedelta(hours=1)}])
    out2 = list(_score_latest(("a",), iter([pdf2]), state))[0]
    assert len(out2) == 1 and out2.iloc[0]["value"] == 10.0


def test_streaming_lateness_tolerance(spark):
    """Late events for a bucket still inside the lateness horizon are counted
    even when they arrive in a LATER micro-batch; events past the horizon
    (bucket already closed) are dropped."""
    import pandas as pd

    from anomaly_detector_spark.streaming.drift_stream import _score_latest

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    buckets = pd.date_range("2025-01-01", periods=20, freq="h")
    lateness = 2 * 3600  # hold buckets open for 2 hours past max-seen

    # batch 1: 5 events in each of hours 0..19
    rows = [{"series_key": "a", "bucket_ts": b} for b in buckets for _ in range(5)]
    state = FakeState()
    out1 = list(_score_latest(("a",), iter([pd.DataFrame(rows)]), state, lateness))[0]
    # horizon = h19 - 2h -> hours 0..16 close; 17,18,19 stay open
    assert len(out1) == 17
    values, open_ts, open_counts, closed_through = state.get
    assert len(open_ts) == 3
    assert closed_through == int(buckets[16].value // 1_000_000_000)

    # batch 2: 3 LATE events for still-open hour 18, 4 events for closed
    # hour 10 (dropped), and 5 events for new hour 21 (closes 17 and 18)
    late = (
        [{"series_key": "a", "bucket_ts": buckets[18]} for _ in range(3)]
        + [{"series_key": "a", "bucket_ts": buckets[10]} for _ in range(4)]
        + [{"series_key": "a", "bucket_ts": buckets[19] + pd.Timedelta(hours=2)} for _ in range(5)]
    )
    out2 = list(_score_latest(("a",), iter([pd.DataFrame(late)]), state, lateness))[0]
    closed = {r["bucket_ts"].hour: r["value"] for _, r in out2.iterrows()}
    assert closed == {17: 5.0, 18: 8.0}  # late events absorbed into h18; h10 dropped


def test_streaming_drift_end_to_end(spark, tmp_path):
    """Drive the REAL Structured Streaming path: file source -> watermarked
    windowed_series agg -> applyInPandasWithState scoring -> memory sink.
    Two micro-batches (maxFilesPerTrigger=1) so the watermark advances and
    append-mode windows close; the planted mid-stream spike must be flagged
    once enough state has accumulated."""
    import pandas as pd

    from anomaly_detector_spark.streaming.drift_stream import bucketed_events, score_stream

    t0 = pd.Timestamp("2025-01-01")
    rows = []
    for h in range(34):
        n = 50 if h == 25 else 5  # 10x rate spike at hour 25
        for i in range(n):
            rows.append(("click", t0 + pd.Timedelta(hours=h, seconds=i)))
    pdf = pd.DataFrame(rows, columns=["event_type", "ts"])
    src = tmp_path / "stream_src"
    src.mkdir()
    # two files -> two micro-batches; second batch moves the watermark past
    # the first batch's windows so they emit in append mode
    spark.createDataFrame(pdf[pdf.ts < t0 + pd.Timedelta(hours=30)]) \
        .coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(pdf[pdf.ts >= t0 + pd.Timedelta(hours=30)]) \
        .coalesce(1).write.parquet(str(src / "f2"))

    stream = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    events = bucketed_events(stream, partition_cols=["event_type"], ts_col="ts",
                             bucket="1 hour")
    scored = score_stream(events)
    q = (
        scored.writeStream.format("memory").queryName("drift_stream_test")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = {r["bucket_ts"].hour + (r["bucket_ts"].day - 1) * 24: r
           for r in spark.sql("SELECT * FROM drift_stream_test").collect()}
    assert len(out) >= 13  # windows up to the watermark emitted
    assert out[25]["value"] == 50.0
    assert bool(out[25]["is_anomaly"])  # planted spike flagged by latest-mode DT
    assert not any(bool(out[h]["is_anomaly"]) for h in out if h not in (25,))
    assert out[25]["n_state_points"] == 26  # trailing state buffer grew per bucket


def test_attach_turn_text_exact_per_turn_text(spark):
    """Violation rows joined back to the offending turn carry its EXACT text
    (north-rule per-row invariant), keyed joins only touch violating keys,
    and conversation-level violations pass through with null text."""
    from anomaly_detector_spark.data import synth_registry, synth_transcripts
    from anomaly_detector_spark.engine.runner import attach_turn_text, run_validation

    transcripts = synth_transcripts(spark, n_convs=100, seed=42)
    registry = synth_registry(spark, n_convs=50, seed=42)  # half missing -> referential rows
    res = run_validation(spark, transcripts, registry, cache_input=True)
    with_text = attach_turn_text(res.violations, transcripts).collect()
    assert len(with_text) == res.violations.count()

    # every turn-level violation row carries the exact text of that turn
    truth = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in transcripts.select(
            F.col("conv_id").cast("string").alias("conv_id"),
            F.col("turn_idx").cast("int").alias("turn_idx"), "text",
        ).collect()
    }
    turn_rows = [r for r in with_text if r["turn_idx"] is not None]
    assert turn_rows
    # duplicate-key violations can have two source rows for one key; accept
    # either's text (the synth duplicates reuse the same text payload)
    mismatches = [
        r for r in turn_rows
        if (r["conv_id"], r["turn_idx"]) in truth and r["text"] != truth[(r["conv_id"], r["turn_idx"])]
    ]
    assert mismatches == []

    conv_rows = [r for r in with_text if r["turn_idx"] is None]
    assert conv_rows and all(r["text"] is None for r in conv_rows)
    assert {r["check"] for r in conv_rows} == {"referential"}


def test_validation_result_release_unpersists(spark):
    from anomaly_detector_spark.data import synth_registry, synth_transcripts
    from anomaly_detector_spark.engine.runner import run_validation

    transcripts = synth_transcripts(spark, n_convs=50, seed=42)
    registry = synth_registry(spark, n_convs=50, seed=42)
    res = run_validation(spark, transcripts, registry, cache_input=True)
    assert res.violations.count() >= 0
    assert all(df.storageLevel.useMemory or df.storageLevel.useDisk for df in res._persisted)
    res.release()
    assert res._persisted == []
