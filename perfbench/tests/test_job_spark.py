"""The benchmark's job, oracle and trace on a tiny input (1,000 conversations)."""

import os

import pytest

import inputs
import job
import procs
import run
import series
from job import is_even_shard

pytestmark = pytest.mark.filterwarnings("ignore::DeprecationWarning")


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (run.ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    spark, start_s, warmup_s = run.start_spark(work, cores=2, trace=True)
    yield spark, work, (start_s, warmup_s)
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        procs.stop_spark(spark)


def _inputs(spark, wl, root):
    inputs.generate(spark, wl, seed=5, work=root)
    return inputs.inputs_for(wl, root)


def test_job_outputs_match_the_oracle(session):
    spark, work, _ = session
    root = os.path.join(work, "full")
    inp = _inputs(spark, inputs.Workload("adversarial", 1_000, 8, resume=False), root)
    runner = run.Runner(spark, inp, root)
    assert runner.run(job.job) is not None and runner.run(job.job) is not None
    rp = series.replay(*inputs.pending_series(inp))
    errors, exp = run.check_outputs(inp, runner.outs, root, rp.verdicts)
    assert errors == []
    assert exp["counts"]["monotonic_ts"] > 0 and exp["counts"]["referential"] > 0
    # the written sr_drift rows are held to the replay: a series the job
    # should have scored, or a verdict that differs, fails every job
    k = next(iter(rp.verdicts))
    extra = {**rp.verdicts, "99/user/x": rp.verdicts[k]}
    errors, _ = run.check_outputs(inp, runner.outs, root, extra)
    assert sum("series keys differ" in e for e in errors) == 2
    flipped = {**rp.verdicts, k: rp.verdicts[k][:5] + (not rp.verdicts[k][5],) + rp.verdicts[k][6:]}
    errors, _ = run.check_outputs(inp, runner.outs, root, flipped)
    assert sum(f"verdict {k}" in e for e in errors) == 2


def test_traced_resume_accounts_for_every_series(session, monkeypatch):
    import tracing

    spark, work, setup = session
    root = os.path.join(work, "resume")
    inp = _inputs(spark, inputs.Workload("realistic", 1_000, 8, resume=True), root)
    runner = run.Runner(spark, inp, root)
    reps = tracing.traced_runs(spark, runner, seconds=0)
    # a traced window pass that differs from the runner's: the runner's plans
    # no longer read the persisted layer and compute the window pass again
    row_checks = job._row_checks
    monkeypatch.setattr(job, "_row_checks", lambda: row_checks()[:2])
    diverged = tracing.traced_runs(spark, runner, seconds=0)
    rp = series.replay(*inputs.pending_series(inp))
    errors, _ = run.check_outputs(inp, runner.outs, root, rp.verdicts,
                                  {r["run_id"]: r["drift"] for r in reps + diverged})
    assert errors == []
    # the event log is complete only once the application has ended
    procs.stop_spark(spark)
    log = os.path.join(work, "eventlog")
    m, errors = tracing.layer_metrics(reps, log, 2, inp, rp, setup, untraced_job_s=None)
    assert errors == []
    value = {k: v["value"] for k, v in m.items()}
    assert value["drift.series_in"] == value["drift.series_scored"] + value["drift.series_skipped"]
    assert value["drift.series_in"] > 0
    assert value["trace.coverage"] > 0.9
    assert value["stages.drift.score.run_s"] > 0 and value["drift.to_python_mb"] > 0
    assert value["checkpoint.rescored_series"] == sum(map(is_even_shard, rp.keys))
    # the seed lineage holds every scorable even-shard series
    assert not any(map(is_even_shard, rp.verdicts))
    _, errors = tracing.layer_metrics(diverged, log, 2, inp, rp, setup, untraced_job_s=None)
    assert any(e.startswith(f"{diverged[0]['run_id']}: runner.") and "scanned" in e
               for e in errors), errors
