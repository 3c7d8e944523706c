"""The traced part of a ``--trace 1`` run and the per-layer metrics it yields.

Each traced job records spans (``spans.Tracer``) and labels the Spark jobs a
span triggers with ``<run id>|<span name>`` as the job description, so the
stages in Spark's event log belong to one span.  The ``kernels.*`` and
``drift.series_*`` figures come from the driver replay of the kernel
(``series.replay``), which every traced job's drift verdicts must equal.

The layer spans hold each layer's work only while Spark's cache manager
substitutes the persisted layers into the runner's plans.  A runner or sink
span that scans parquet (``runner.attach_text`` joins the input turns, so it
may) or sends rows to Python workers shows a layer computed again, and fails
the run.
"""

from __future__ import annotations

import os
import statistics
import time

import eventlog
import series as series_mod
from job import completed_partitions, dir_mb, is_even_shard, materialise, metric, traced_job
from spans import Tracer, coverage, descendants, self_times

LAYER_SPANS = ("constraints.window", "constraints.referential", "drift.derive",
               "drift.score", "runner.verdicts", "runner.violations",
               "runner.attach_text", "sink.write", "checkpoint.record")
# per span; GC and spill stay job-level only (per span they read 0 on most runs)
STAGE_KEYS = ("run_s", "cpu_s", "shuffle_write_mb", "skew", "cpu_util")
JOB_STAGE_KEYS = ("run_s", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
                  "spill_mb", "tasks", "skew", "cpu_util")
# spans that must only read persisted layers: (no parquet scan, no Python rows)
NO_REPEAT = {"runner.verdicts": (True, True), "runner.violations": (True, True),
             "runner.attach_text": (False, True), "sink.write": (True, True)}
MODELS = ("AnomalyDetector", "AnomalyDetectorMad", "DynamicThreshold",
          "DynamicThresholdMad", "SpectralResidual", "HbosSeasonal", "HbosNonseasonal")
UNITS = {"_s": "s", "_mb": "MB", "tasks": "count", "skew": "ratio", "cpu_util": "ratio"}


def _unit(key: str) -> str:
    return next((u for suffix, u in UNITS.items() if key.endswith(suffix)), "count")


def traced_runs(spark, runner, seconds: float) -> list[dict]:
    """Traced jobs for ``seconds`` (at least one); returns one record per job."""
    from anomaly_detector_spark.engine.checkpoint import CheckpointStore
    from anomaly_detector_spark.sources import read_transcripts_parquet

    sc = spark.sparkContext
    reps: list[dict] = []

    def one(spark, inputs, out, run_id):
        tracer = Tracer(run_id, on_change=lambda name: sc.setJobDescription(
            f"{run_id}|{name}" if name else None))
        with tracer.span("sources.scan"):
            read_transcripts_parquet(spark, inputs.transcripts).write.format("noop") \
                .mode("overwrite").save()
        outs = traced_job(spark, inputs, out, run_id, tracer.span)
        if not inputs.lineage_seed:
            # a full job reads no lineage; time reading back what it recorded
            with tracer.span("checkpoint.lineage_read"):
                materialise(completed_partitions(CheckpointStore(spark, out)), outs.pinned)
        rep = {"run_id": run_id, "spans": tracer.spans, "out": out,
               "violation_rows": outs.violation_rows,
               "drift": {r[0]: tuple(r[1:]) for r in outs.drift.select(
                   "series_key", "n_points", "n_anomalies", "max_score", "period",
                   "model_id", "passed", "detail").collect()}}
        outs.release()
        reps.append(rep)

    t0 = time.perf_counter()
    while not reps or time.perf_counter() - t0 < seconds:
        if runner.run(one) is None:
            break
    return reps


def _span_stats(rep: dict, stages_by_desc: dict, cores: int) -> dict[str, dict]:
    """Event-log totals for each span, including its descendants' stages."""
    spans = rep["spans"]
    out = {}
    for i, s in enumerate(spans):
        names = {s.name} | {spans[j].name for j in descendants(spans, i)}
        stages = [st for n in names for st in stages_by_desc.get(f"{rep['run_id']}|{n}", [])]
        out[s.name] = eventlog.summarize(stages, s.duration, cores)
    return out


def _rep_metrics(rep: dict, stats: dict[str, dict]) -> dict[str, float]:
    spans = rep["spans"]
    st = self_times(spans)
    self_by = {}
    for s, t in zip(spans, st):
        self_by[s.name] = self_by.get(s.name, 0.0) + t
    dur_by = {s.name: s.duration for s in spans}
    root = next(i for i, s in enumerate(spans) if s.name == "job")
    m = {
        "sources.scan_s": self_by["sources.scan"],
        "constraints.window_s": self_by["constraints.window"],
        "constraints.referential_s": self_by["constraints.referential"],
        "drift.derive_s": self_by["drift.derive"],
        "drift.score_s": self_by["drift.score"],
        "drift.to_python_mb": stats["drift.score"]["to_python_mb"],
        "drift.from_python_mb": stats["drift.score"]["from_python_mb"],
        "drift.python_run_s": stats["drift.score"]["python_run_s"],
        "runner.plan_s": self_by["runner.plan"],
        "runner.verdicts_s": self_by["runner.verdicts"],
        "runner.violations_s": self_by["runner.violations"],
        "runner.attach_text_s": self_by["runner.attach_text"],
        "sink.write_s": dur_by["sink.write"],
        "checkpoint.lineage_read_s": self_by["checkpoint.lineage_read"],
        "checkpoint.record_s": self_by["checkpoint.record"],
        "trace.job_s": spans[root].duration,
        "trace.coverage": coverage(spans, root),
    }
    for k in JOB_STAGE_KEYS:
        m[f"stages.job.{k}"] = stats["job"][k]
    for name in LAYER_SPANS:
        for k in STAGE_KEYS:
            m[f"stages.{name}.{k}"] = stats[name][k]
    return m


def repeated_work(stats: dict[str, dict]) -> list[str]:
    """Runner and sink spans that redid a persisted layer's work."""
    errors = []
    for name, (no_scan, no_python) in NO_REPEAT.items():
        st = stats[name]
        if no_scan and st["scan_rows"]:
            errors.append(f"{name} scanned {st['scan_rows']:.0f} parquet rows")
        if no_python and st["to_python_mb"]:
            errors.append(f"{name} sent {st['to_python_mb']:.3f} MB to Python workers")
    return errors


def layer_metrics(reps, eventlog_dir, cores, inputs, rp, setup, untraced_job_s):
    """Per-layer metrics (medians over the traced jobs) and any check
    failures of the trace itself; ``rp`` is the driver replay
    (``series.Replay``) of the series the job scores."""
    errors: list[str] = []
    by_desc = eventlog.by_description(
        eventlog.stage_stats(eventlog.read_events(eventlog_dir)))
    per_rep = []
    for r in reps:
        stats = _span_stats(r, by_desc, cores)
        errors += [f"{r['run_id']}: {e}" for e in repeated_work(stats)]
        errors += [f"{r['run_id']}: drift_verdicts vs replay: {e}"
                   for e in series_mod.compare(rp.verdicts, r["drift"])]
        per_rep.append(_rep_metrics(r, stats))
    med = {k: statistics.median(p[k] for p in per_rep) for k in per_rep[0]}

    first = reps[0]
    if rp.series_in != rp.scored + rp.skipped:
        errors.append("drift series in != scored + skipped")
    ms = sorted(rp.detect_ms) or [0.0]
    out_dirs = [os.path.join(first["out"], d) for d in ("verdicts", "violations",
                                                        "violations_text")]
    m = {
        "session.start_s": metric(setup[0], "s"),
        "session.warmup_s": metric(setup[1], "s"),
        "sources.input_mb": metric(dir_mb(inputs.transcripts), "MB"),
        "constraints.violation_rows": metric(first["violation_rows"], "count"),
        "drift.series_in": metric(rp.series_in, "count"),
        "drift.series_scored": metric(rp.scored, "count"),
        "drift.series_skipped": metric(rp.skipped, "count"),
        "drift.series_too_short": metric(rp.too_short, "count"),
        "drift.series_too_long": metric(rp.too_long, "count"),
        "drift.series_errored": metric(rp.errored, "count"),
        "drift.scored_ratio": metric(rp.scored / rp.series_in if rp.series_in else 0.0,
                                     "ratio"),
        "kernels.detect_ms_per_series_p50": metric(statistics.median(ms), "ms"),
        "kernels.detect_ms_per_series_p90": metric(ms[int(0.9 * (len(ms) - 1))], "ms"),
        "kernels.detect_total_s": metric(rp.detect_total_s, "s"),
        "kernels.shapes": metric(len(rp.shapes), "count"),
        "kernels.boundary_share": metric(
            1.0 - rp.detect_total_s / (med["drift.score_s"] * cores), "ratio"),
        "sink.mb_written": metric(sum(dir_mb(d) for d in out_dirs), "MB"),
        "checkpoint.rescored_series": metric(
            sum(map(is_even_shard, rp.keys)) if inputs.lineage_seed else 0, "count"),
        "trace.overhead_s": metric(
            med["trace.job_s"] - untraced_job_s if untraced_job_s else 0.0, "s"),
    }
    for model in MODELS:
        m[f"kernels.models.{model}"] = metric(rp.models.get(model, 0), "count")
    m["kernels.models.other"] = metric(
        sum(n for k, n in rp.models.items() if k not in MODELS), "count")
    for k, v in med.items():
        m[k] = metric(v, "ratio" if k == "trace.coverage" else _unit(k))
    return m, errors
