"""The validation job the benchmark measures, as ``tools/submit_job.py`` runs
it: read the transcripts parquet, call ``run_validation``, write verdicts,
violations and violations with the offending turn's text, then record
lineage with ``CheckpointStore.record``.  A resume job first reads the
completed ``sr_drift`` partitions from the lineage table.

``traced_job`` runs the same job with a span around each public call.  Each
layer's output is persisted and materialised alone, in the order
``run_validation`` composes it, before the runner's own plan is built; Spark's
cache manager then substitutes the persisted layers into the runner's plans,
so every span holds only its own layer's work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from anomaly_detector_spark.engine.checkpoint import CheckpointStore
from anomaly_detector_spark.engine.runner import attach_turn_text, run_validation
from anomaly_detector_spark.operators import constraints
from anomaly_detector_spark.operators.drift import derive_series, drift_verdicts, score_drift
from anomaly_detector_spark.schema import ROLE_DOMAIN, TOOL_DOMAIN
from anomaly_detector_spark.sources import read_transcripts_parquet

DRIFT_BUCKET = "1 hour"


@dataclass(frozen=True)
class Inputs:
    transcripts: str
    registry: str
    lineage_seed: str | None  # resume workloads: root whose _lineage a job starts from
    series: str               # the oracle's copy of the drift series; the job never reads it
    shards: int
    n_turns: int


def dir_mb(path: str) -> float:
    """Bytes of the data files under ``path``, in MiB."""
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files
                     if not f.startswith((".", "_")))
    return total / (1024 * 1024)


def is_even_shard(series_key: str) -> bool:
    """Resume workloads start from lineage that covers the even drift shards
    (series keys are "<shard>/<role>/<metric>")."""
    return int(series_key.split("/")[0]) % 2 == 0


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def completed_partitions(store: CheckpointStore) -> DataFrame:
    # the resume read of tools/submit_job.py --resume
    return (store.lineage().filter(F.col("check") == "sr_drift")
            .select("partition_key").distinct())


def _write(df: DataFrame, run_id: str, path: str) -> None:
    df.withColumn("run_id", F.lit(run_id)).write.mode("append") \
        .partitionBy("run_id").parquet(path)


def job(spark: SparkSession, inp: Inputs, out: str, run_id: str) -> None:
    """One untraced job, writing under ``out``."""
    transcripts = read_transcripts_parquet(spark, inp.transcripts)
    registry = spark.read.parquet(inp.registry)
    store = CheckpointStore(spark, out)
    completed = completed_partitions(store) if inp.lineage_seed else None
    result = run_validation(spark, transcripts, registry, drift_bucket=DRIFT_BUCKET,
                            drift_shards=inp.shards, cache_input=False,
                            completed_drift_partitions=completed)
    _write(result.verdicts, run_id, os.path.join(out, "verdicts"))
    _write(result.violations, run_id, os.path.join(out, "violations"))
    _write(attach_turn_text(result.violations, transcripts), run_id,
           os.path.join(out, "violations_text"))
    this_run = spark.read.parquet(os.path.join(out, "verdicts")) \
        .filter(F.col("run_id") == run_id)
    store.record(run_id, this_run)
    result.release()


def _row_checks():
    """The per-row checks ``run_validation`` fuses into the window pass."""
    def row_check(cond, check, detail):
        return F.when(cond, F.struct(F.lit(check).alias("check"), detail.alias("detail")))

    return [
        row_check(F.col("role").isNotNull() & ~F.col("role").isin(ROLE_DOMAIN),
                  "role_domain", F.col("role").cast("string")),
        row_check(F.col("tool").isNotNull() & ~F.col("tool").isin(TOOL_DOMAIN),
                  "tool_domain", F.col("tool").cast("string")),
        row_check(F.col("text").isNull(), "null_text", F.lit(None).cast("string")),
    ]


def materialise(df: DataFrame, pinned: list) -> DataFrame:
    """Persist ``df``, compute it, and remember it for ``release``."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    pinned.append(df)
    return df


@dataclass
class TracedOutputs:
    drift: DataFrame         # drift_verdicts output
    violation_rows: int
    pinned: list

    def release(self) -> None:
        for df in self.pinned:
            df.unpersist()
        self.pinned.clear()


def traced_job(spark: SparkSession, inp: Inputs, out: str, run_id: str, span) -> TracedOutputs:
    """``job`` with every layer materialised in its own span first."""
    pinned: list = []
    with span("job"):
        with span("sources.read"):
            transcripts = read_transcripts_parquet(spark, inp.transcripts)
            registry = spark.read.parquet(inp.registry)
        store = CheckpointStore(spark, out)
        completed = None
        if inp.lineage_seed:
            with span("checkpoint.lineage_read"):
                # a checkpoint, not a cache: the job's own lineage append
                # must not refresh what this run resumed from
                completed = completed_partitions(store).localCheckpoint()
        with span("constraints.window"):
            seq = constraints.sequence_violations(
                transcripts, include_duplicates=True, row_checks=_row_checks(),
                emit_conv_keys=True,
            ).select(F.col("check"), F.col("conv_id").cast("string").alias("conv_id"),
                     F.col("turn_idx").cast("int").alias("turn_idx"), F.col("detail"))
            seq = materialise(seq, pinned)
        with span("constraints.referential"):
            materialise(constraints.referential_violations_from_keys(
                seq.filter(F.col("check") == "_conv_key"), registry), pinned)
        with span("drift.derive"):
            sharded = transcripts.withColumn(
                "shard", F.pmod(F.xxhash64("conv_id"), F.lit(inp.shards)))
            series = materialise(derive_series(
                sharded, partition_cols=["shard", "role"], ts_col="ts", bucket=DRIFT_BUCKET,
                num_partitions=spark.sparkContext.defaultParallelism * 4), pinned)
        with span("drift.score"):
            if completed is not None:
                done = completed.select(
                    F.col(completed.columns[0]).alias("series_key")).distinct()
                series = (series.withColumn("series_key",
                                            F.concat_ws("/", "partition_key", "metric"))
                          .join(done, "series_key", "left_anti").drop("series_key"))
            drift = materialise(drift_verdicts(score_drift(
                series, granularity="hourly", assume_partitioned=completed is None)), pinned)
        with span("runner.plan"):
            result = run_validation(spark, transcripts, registry, drift_bucket=DRIFT_BUCKET,
                                    drift_shards=inp.shards, cache_input=False,
                                    completed_drift_partitions=completed)
        with span("runner.verdicts"):
            verdicts = materialise(result.verdicts, pinned)
        with span("runner.violations"):
            violations = materialise(result.violations, pinned)
            n_violations = violations.count()
        with span("runner.attach_text"):
            text = materialise(attach_turn_text(result.violations, transcripts), pinned)
        with span("sink.write"):
            with span("sink.verdicts"):
                _write(verdicts, run_id, os.path.join(out, "verdicts"))
            with span("sink.violations"):
                _write(violations, run_id, os.path.join(out, "violations"))
            with span("sink.violations_text"):
                _write(text, run_id, os.path.join(out, "violations_text"))
        with span("checkpoint.record"):
            this_run = spark.read.parquet(os.path.join(out, "verdicts")) \
                .filter(F.col("run_id") == run_id)
            store.record(run_id, this_run)
    result.release()
    return TracedOutputs(drift=drift, violation_rows=n_violations, pinned=pinned)
