"""The load generator: writes one workload's inputs to parquet.

``prepare`` runs in the measured session once set-up is done and before the
first job, outside every timed region.  Besides the transcripts and registry
it writes the drift series ``derive_series`` gives for the same input (the
oracle's replay reads them once the measured session has stopped) and, for a
resume workload, the lineage a prior full run would have recorded for the
even shards.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

SHUFFLE_PARTITIONS = 16


@dataclass(frozen=True)
class Workload:
    profile: str
    n_convs: int
    shards: int
    resume: bool


def _paths(work: str) -> dict:
    return {k: os.path.join(work, k) for k in ("transcripts", "registry", "series",
                                               "lineage_seed")}


def generate(spark, wl: Workload, seed: int, work: str) -> None:
    """Write the generated tables, the drift series and, for a resume
    workload, the seed lineage under ``work``."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from anomaly_detector_spark.data import synth_registry, synth_transcripts
    from anomaly_detector_spark.operators.drift import derive_series
    from anomaly_detector_spark.schema import MAX_SERIES_POINTS, MIN_SERIES_POINTS
    from anomaly_detector_spark.sources import read_transcripts_parquet
    from job import DRIFT_BUCKET, is_even_shard

    p = _paths(work)
    synth_transcripts(spark, n_convs=wl.n_convs, seed=seed, profile=wl.profile) \
        .write.parquet(p["transcripts"])
    synth_registry(spark, n_convs=wl.n_convs, seed=seed).write.parquet(p["registry"])
    sharded = read_transcripts_parquet(spark, p["transcripts"]).withColumn(
        "shard", F.pmod(F.xxhash64("conv_id"), F.lit(wl.shards)))
    derive_series(sharded, partition_cols=["shard", "role"], ts_col="ts", bucket=DRIFT_BUCKET) \
        .select(F.concat_ws("/", "partition_key", "metric").alias("key"), "idx", "value") \
        .write.parquet(p["series"])
    if not wl.resume:
        return
    # lineage for every even-shard series a prior full job gave a verdict:
    # 12..8640 non-NaN points (the program's own gate)
    s = pq.read_table(p["series"]).to_pandas()
    n = s["value"].notna().groupby(s["key"]).sum()
    keys = sorted(k for k in n[n.between(MIN_SERIES_POINTS, MAX_SERIES_POINTS)].index
                  if is_even_shard(k))
    os.makedirs(os.path.join(p["lineage_seed"], "_lineage"))
    pq.write_table(pa.table({
        "run_id": ["prior"] * len(keys), "partition_key": keys,
        "check": ["sr_drift"] * len(keys), "passed": [True] * len(keys),
        "completed_at": [0.0] * len(keys),
    }), os.path.join(p["lineage_seed"], "_lineage", "part-0.parquet"))


def inputs_for(wl: Workload, work: str):
    """The paths the job reads, once ``generate`` has written them."""
    import pyarrow.parquet as pq

    from job import Inputs

    p = _paths(work)
    n_turns = pq.ParquetDataset(p["transcripts"]).read(columns=["turn_idx"]).num_rows
    return Inputs(p["transcripts"], p["registry"], p["lineage_seed"] if wl.resume else None,
                  p["series"], wl.shards, n_turns)


def pending_series(inputs):
    """(keys, idx, values) of every series the job must score: the derived
    series minus those the seed lineage already holds."""
    import pyarrow.parquet as pq

    s = pq.read_table(inputs.series).to_pandas()
    if inputs.lineage_seed:
        done = set(pq.read_table(os.path.join(inputs.lineage_seed, "_lineage"))
                   .column("partition_key").to_pylist())
        s = s[~s["key"].isin(done)]
    return s["key"].to_numpy(), s["idx"].to_numpy(), s["value"].to_numpy(dtype=float)


def prepare(spark, wl: Workload, seed: int, work: str):
    """Write the inputs with ``spark`` and return the paths the job reads."""
    generate(spark, wl, seed, work)
    return inputs_for(wl, work)
