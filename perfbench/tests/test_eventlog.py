import json

import pytest

import eventlog


def _task(stage, run_ms, cpu_ns, launch, finish, sent=0, shuffle_w=0, spill=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish,
                          "Accumulables": [
                              {"Name": "data sent to Python workers", "Update": str(sent)},
                              {"Name": "time to run Python workers", "Update": "250"},
                              {"Name": "number of output rows", "Update": "9"}]},
            "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                             "JVM GC Time": 5, "Memory Bytes Spilled": spill,
                             "Disk Bytes Spilled": 0,
                             "Shuffle Read Metrics": {"Local Bytes Read": 1024,
                                                      "Remote Bytes Read": 0},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w}}}


EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
     "Properties": {"spark.job.description": "r0|drift.score"}},
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
     "Properties": {"spark.job.description": "r0|drift.score"}},
    _task(0, 100, 50_000_000, 0, 100, sent=2 * 1024 * 1024, shuffle_w=1024 * 1024),
    _task(0, 300, 150_000_000, 0, 300, sent=1024 * 1024),
    _task(0, 100, 50_000_000, 0, 100),
    # stage 1 is listed by the job but only submitted later, by another span
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
     "Properties": {"spark.job.description": "r0|sink.write"}},
    _task(1, 10, 1_000_000, 0, 10, spill=3 * 1024 * 1024),
    {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2},
     "Properties": {}},
    _task(2, 10, 1_000_000, 0, 10),
]


def test_stage_attribution_and_totals(tmp_path):
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    stages = eventlog.stage_stats(eventlog.read_events(str(log)))
    by = eventlog.by_description(stages)
    assert sorted(by) == ["r0|drift.score", "r0|sink.write"]
    s = eventlog.summarize(by["r0|drift.score"], wall_s=1.0, cores=4)
    assert s["tasks"] == 3
    assert s["run_s"] == pytest.approx(0.5)
    assert s["cpu_s"] == pytest.approx(0.25)
    assert s["gc_s"] == pytest.approx(0.015)
    assert s["to_python_mb"] == pytest.approx(3.0)
    assert s["python_run_s"] == pytest.approx(0.75)
    assert s["shuffle_write_mb"] == pytest.approx(1.0)
    assert s["shuffle_read_mb"] == pytest.approx(3 / 1024)
    assert s["skew"] == pytest.approx(3.0)      # max 300 ms / median 100 ms
    assert s["cpu_util"] == pytest.approx(0.25 / 4)
    assert eventlog.summarize(by["r0|sink.write"], 1.0, 4)["spill_mb"] == pytest.approx(3.0)


def test_reads_a_directory_of_logs_and_empty_summary(tmp_path):
    (tmp_path / "a").write_text(json.dumps(EVENTS[0]) + "\n")
    (tmp_path / ".a.crc").write_text("binary")
    assert len(list(eventlog.read_events(str(tmp_path)))) == 1
    empty = eventlog.summarize([], wall_s=2.0, cores=4)
    assert empty["tasks"] == 0 and empty["skew"] == 1.0 and empty["cpu_util"] == 0.0


def _plan(scan_rows_id, cache_rows_id):
    """An in-memory scan of a cached plan whose parquet scan has metric
    ``scan_rows_id``."""
    scan = {"nodeName": "Scan parquet ", "children": [],
            "metrics": [{"name": "number of output rows", "accumulatorId": scan_rows_id},
                        {"name": "scan time", "accumulatorId": scan_rows_id + 1}]}
    return {"nodeName": "InMemoryTableScan", "children": [scan],
            "metrics": [{"name": "number of output rows", "accumulatorId": cache_rows_id}]}


def _rows_task(stage, updates):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Info": {
        "Accumulables": [{"ID": i, "Name": "number of output rows", "Update": str(n)}
                         for i, n in updates]}, "Task Metrics": {}}


def test_scan_rows_count_only_parquet_scans():
    start = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
    events = [
        {"Event": start, "sparkPlanInfo": _plan(7, 9)},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.job.description": "r0|constraints.window"}},
        _rows_task(0, [(7, 500), (9, 500)]),    # the layer computes its cache
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1},
         "Properties": {"spark.job.description": "r0|runner.violations"}},
        _rows_task(1, [(9, 500)]),              # a later plan reads the cache
    ]
    by = eventlog.by_description(eventlog.stage_stats(events))
    assert eventlog.summarize(by["r0|constraints.window"], 1.0, 4)["scan_rows"] == 500
    assert eventlog.summarize(by["r0|runner.violations"], 1.0, 4)["scan_rows"] == 0
