"""Benchmark of the transcript validation job on one host.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --reference    # the seed-42 40k-conversation reference counts

Run from the repository root.  One run is one closed-loop client: a single
driver process at ``local[<cores>]`` runs one job at a time.  The seed goes to
the input generator only; the system under test receives parquet paths.

A run sets up its Spark session (timed: ``setup_s``), writes the workload's
inputs to parquet in it (``inputs.py``; untimed), runs warm-up jobs, then
repeats the job for ``--seconds`` seconds (``job_s`` is the median).  After
the session stops, every job's outputs, warm-up jobs' included, are checked
against a DuckDB oracle computed from the same parquet and against a
driver-side replay of the drift kernel.  With ``--trace 1`` the warm-up is
followed by one untimed job and traced jobs, and the run prints per-layer
metrics.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before it
holds diagnostics (input generation time, host probes, sample counts).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

from inputs import SHUFFLE_PARTITIONS, Workload

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# job walls fall over a session's first jobs (JIT, codegen and Python-worker
# caches), most from the first to the second: one untimed job, then the
# median of at least three timed ones
WARMUP_JOBS = 1
MIN_TIMED_JOBS = 3

WORKLOADS = {
    # drift scoring is the largest layer; ~40% of turns reach the violation sink
    "validate_adversarial": Workload("adversarial", 3_000, 64, resume=False),
    # lineage read, resume anti-join and half the drift series; few violations
    "resume_realistic": Workload("realistic", 6_000, 32, resume=True),
}
# ROADMAP sf0.1 headline input: 1,852 verdicts and 402,331 violations at seed 42
REFERENCE = Workload("adversarial", 40_000, 128, resume=False)
REFERENCE_COUNTS = {"verdicts": 1852, "violations": 402331}


def alu_probe(iters: int = 300_000) -> float:
    """Single-core host probe, recorded as a diagnostic only."""
    t0 = time.perf_counter()
    x = 0x9E3779B97F4A7C15
    for i in range(iters):
        x = ((x ^ (x >> 13)) * 0x2545F4914F6CDD1D) & 0xFFFFFFFFFFFFFFFF
        x ^= i
    return time.perf_counter() - t0


def start_spark(work: str, cores: int, trace: bool):
    """SparkSession build plus the JVM and Python-worker warm-up."""
    from anomaly_detector_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    from pyspark.sql import functions as F

    spark.range(100_000).select(F.sum("id")).collect()
    spark.range(cores).repartition(cores).mapInArrow(lambda it: it, "id long").count()
    return spark, t1 - t0, time.perf_counter() - t1


class Runner:
    """Runs jobs into numbered output roots and remembers each outcome."""

    def __init__(self, spark, inputs, work: str):
        self.spark, self.inputs, self.work = spark, inputs, work
        self.outs: list[tuple[str, str]] = []   # (output root, run id)
        self.failed = 0
        self._n = 0

    def _out(self, run_id: str) -> str:
        out = os.path.join(self.work, "out", run_id)
        if self.inputs.lineage_seed:
            shutil.copytree(os.path.join(self.inputs.lineage_seed, "_lineage"),
                            os.path.join(out, "_lineage"))
        return out

    def run(self, fn) -> float | None:
        """Time ``fn(spark, inputs, out, run_id)``; None when it raised."""
        run_id = f"r{self._n:03d}"
        self._n += 1
        out = self._out(run_id)
        t0 = time.perf_counter()
        try:
            fn(self.spark, self.inputs, out, run_id)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        wall = time.perf_counter() - t0
        self.outs.append((out, run_id))
        return wall

    def repeat(self, fn, seconds: float, min_jobs: int) -> list[float]:
        """Jobs for at least ``seconds`` and ``min_jobs``, stopping at an odd
        count, so the median is one job's wall."""
        walls, t0 = [], time.perf_counter()
        while (time.perf_counter() - t0 < seconds or len(walls) < min_jobs
               or len(walls) % 2 == 0):
            wall = self.run(fn)
            if wall is None:
                break
            walls.append(wall)
        return walls


def check_outputs(inputs, outs, work: str, drift: dict,
                  traced_drift: dict | None = None) -> tuple[list[str], dict]:
    """Compare every job's outputs with the oracle; returns the mismatches
    and the oracle's expectation.

    ``drift`` holds the driver replay's verdicts for the series the job must
    score (the derived series minus the seed lineage), so equal keys also
    mean a resume job re-scored nothing its lineage holds and skipped nothing
    pending.  ``traced_drift`` maps a traced job's run id to the
    ``drift_verdicts`` rows it computed."""
    import oracle
    import series

    want = series.as_written(drift)
    errors = [] if want else ["the replay scored no drift series"]
    con = oracle.connect(tmp_dir=os.path.join(work, "duckdb"))
    exp = oracle.expected(con, inputs.transcripts, inputs.registry)
    for out, run_id in outs:
        obs = oracle.observed(con, out, run_id)
        errors += [f"{run_id}: {e}" for e in oracle.check_job(exp, obs)]
        written = oracle.drift_rows(obs)
        errors += [f"{run_id}: sr_drift rows vs replay: {e}"
                   for e in series.compare(want, written)]
        if traced_drift and run_id in traced_drift:
            errors += [f"{run_id}: sr_drift rows vs drift_verdicts: {e}" for e in
                       series.compare(series.as_written(traced_drift[run_id]), written)]
    con.close()
    return errors, exp


def run(args, work: str) -> tuple[dict, dict]:
    import inputs as inputs_mod
    import job as jobmod
    import procs
    import series

    wl = REFERENCE if args.reference else WORKLOADS[args.workload]
    cores = os.cpu_count() or 1
    diag: dict = {"workload": "reference" if args.reference else args.workload,
                  "seed": args.seed, "cores": cores, "probe_pre_s": alu_probe()}
    spark, start_s, warmup_s = start_spark(work, cores, trace=bool(args.trace))
    t0 = time.perf_counter()
    inputs = inputs_mod.prepare(spark, wl, args.seed, work)
    diag.update(input_gen_s=time.perf_counter() - t0, n_turns=inputs.n_turns,
                input_mb=jobmod.dir_mb(inputs.transcripts))

    runner = Runner(spark, inputs, work)
    t0 = time.perf_counter()
    diag["warmup_walls_s"] = [] if args.reference else [
        runner.run(jobmod.job) for _ in range(WARMUP_JOBS)]
    timed: list[float] = []
    traced = None
    if args.reference:
        runner.run(jobmod.job)
    elif args.trace:
        import tracing

        timed = runner.repeat(jobmod.job, 0, 1)
        traced = tracing.traced_runs(spark, runner, args.seconds)
    else:
        timed = runner.repeat(jobmod.job, args.seconds, MIN_TIMED_JOBS)
    diag["jobs_phase_s"] = time.perf_counter() - t0
    peak_mb = procs.peak_rss_mb()
    procs.stop_spark(spark)
    diag["probe_post_s"] = alu_probe()

    t0 = time.perf_counter()
    rp = series.replay(*inputs_mod.pending_series(inputs))
    diag["replay_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    errors, exp = check_outputs(inputs, runner.outs, work, rp.verdicts,
                                {r["run_id"]: r["drift"] for r in traced or []})
    # peak RSS varies by more than a tenth between runs (JVM heap growth),
    # so it is a diagnostic, not a gated metric
    diag.update(check_s=time.perf_counter() - t0, jobs=len(runner.outs),
                timed_walls_s=timed, peak_rss_mb=peak_mb, expected_counts=exp["counts"])
    if args.reference:
        import oracle

        con = oracle.connect(tmp_dir=os.path.join(work, "duckdb"))
        obs = oracle.observed(con, *runner.outs[0])
        con.close()
        got = {"verdicts": len(obs["verdicts"]),
               "violations": sum(obs["violations"]["counts"].values())}
        diag["reference_counts"] = got
        if got != REFERENCE_COUNTS:
            errors.append(f"reference counts {got} != {REFERENCE_COUNTS}")
    metrics: dict = {}
    if args.trace and traced is not None:
        metrics, trace_errors = tracing.layer_metrics(
            traced, os.path.join(work, "eventlog"), cores, inputs, rp,
            setup=(start_s, warmup_s), untraced_job_s=statistics.median(timed) if timed else None)
        errors += trace_errors
    elif timed:
        job_s = statistics.median(timed)
        metrics = {
            "job_s": jobmod.metric(job_s, "s"),
            "setup_s": jobmod.metric(start_s + warmup_s, "s"),
            "turns_per_s": jobmod.metric(inputs.n_turns / job_s, "turns/s"),
        }
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    # a job fails when it raises or when its outputs differ from the oracle;
    # a check over the whole run (an empty replay, the trace) fails one job
    attempted = len(runner.outs) + runner.failed
    mismatched = {e.split(":")[0] for e in errors} & {r for _, r in runner.outs}
    failed = min(attempted, runner.failed + (len(mismatched) or (1 if errors else 0)))
    result = {"correct": failed == 0 and bool(metrics or args.reference),
              "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, diag


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--reference", action="store_true",
                    help="run the seed-42 40k-conversation job once and check its counts")
    args = ap.parse_args(argv)
    if not args.reference and not args.workload:
        ap.error("--workload is required")
    if args.reference:
        args.seed, args.trace = 42, 0
    if not os.path.isdir(os.path.join(ROOT, "anomaly_detector_spark")):
        print(f"no anomaly_detector_spark package in {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", str(os.getpid()))
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run writes stays under the work dir: Spark's shuffle
    # and temp files, the gateway's connection file, the event log; the JVMs
    # keep no perf-data file in the system temp dir
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={os.environ['TMPDIR']}")))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    import procs

    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result, diag = run(args, work)
    finally:
        procs.reap()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"diagnostics": diag}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
