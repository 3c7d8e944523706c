import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import oracle

T0 = dt.datetime(2025, 1, 1)


def _ts(minutes):
    return T0 + dt.timedelta(minutes=minutes)


# (conv_id, turn_idx, role, text, tool, ts minutes)
ROWS = [
    ("c1", 0, "system", "a", "none", 0),
    ("c1", 1, "user", "b", "none", 1),
    ("c1", 2, "assistant", "c", "none", 2),
    ("c2", 0, "system", "d", "none", 0),
    ("c2", 1, "robot", "e", "teleport", 5),    # role_domain + tool_domain
    ("c2", 1, "robot", "e", "teleport", 5),    # duplicate key: uniqueness, duplicate_ts
    ("c2", 3, "user", None, "none", 4),        # gap_before_missing_1, out of order, null text
    ("c3", 1, "user", "f", "none", 0),         # starts_at_1; c3 is not registered
]
EXPECTED_COUNTS = {"uniqueness": 1, "monotonic_ts": 2, "role_domain": 2, "tool_domain": 2,
                   "null_text": 1, "referential": 1, "turn_gaps": 2}


def _write(path, table):
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


@pytest.fixture
def tables(tmp_path):
    cols = list(zip(*ROWS))
    _write(tmp_path / "t", pa.table({
        "conv_id": pa.array(cols[0]), "turn_idx": pa.array(cols[1], pa.int32()),
        "role": pa.array(cols[2]), "text": pa.array(cols[3]), "tool": pa.array(cols[4]),
        "ts": pa.array([_ts(m) for m in cols[5]], pa.timestamp("us"))}))
    _write(tmp_path / "r", pa.table({"conv_id": ["c1", "c2"],
                                     "created_ts": pa.array([T0, T0], pa.timestamp("us"))}))
    return str(tmp_path / "t"), str(tmp_path / "r")


def _job_outputs(con, root, transcripts, registry, run_id="r000", mutate=None):
    """Write outputs shaped like the job's from the oracle's own rows."""
    rows = con.execute(oracle.expected_violations_sql(transcripts, registry)).fetchall()
    text = dict(((r[0], r[1]), r[3]) for r in ROWS if r[3] is not None)
    if mutate:
        rows = mutate(rows)
    viol = pa.table({"check": [r[0] for r in rows], "conv_id": [r[1] for r in rows],
                     "turn_idx": pa.array([r[2] for r in rows], pa.int32()),
                     "detail": [r[3] for r in rows]})
    _write(f"{root}/violations/run_id={run_id}", viol)
    _write(f"{root}/violations_text/run_id={run_id}",
           viol.append_column("text", pa.array([text.get((r[1], r[2])) for r in rows],
                                               pa.string())))
    counts = {}
    for r in rows:
        counts[r[0]] = counts.get(r[0], 0) + 1
    verdicts = sorted(oracle.constraint_verdicts(counts)) + [
        ("0/user/turn_rate", "sr_drift", True, 0.5, "anomaly_rate=0.0000")]
    cols = list(zip(*verdicts))
    _write(f"{root}/verdicts/run_id={run_id}", pa.table({
        "partition_key": cols[0], "check": cols[1], "passed": cols[2], "score": cols[3],
        "detail": cols[4]}))
    _write(f"{root}/_lineage", pa.table({"run_id": [run_id] * len(verdicts),
                                         "partition_key": list(cols[0])}))


def test_expected_counts_restate_each_check(tables):
    con = oracle.connect(threads=1)
    exp = oracle.expected(con, *tables)
    assert exp["counts"] == EXPECTED_COUNTS
    rows = set(con.execute(oracle.expected_violations_sql(*tables)).fetchall())
    assert ("uniqueness", "c2", 1, "2") in rows
    assert ("monotonic_ts", "c2", 1, "duplicate_ts") in rows
    assert ("monotonic_ts", "c2", 3, "out_of_order_ts") in rows
    assert ("turn_gaps", "c2", 3, "gap_before_missing_1") in rows
    assert ("turn_gaps", "c3", 1, "starts_at_1") in rows
    assert ("referential", "c3", None, None) in rows


def test_matching_outputs_pass(tables, tmp_path):
    con = oracle.connect(threads=1)
    _job_outputs(con, str(tmp_path / "out"), *tables)
    obs = oracle.observed(con, str(tmp_path / "out"), "r000")
    assert oracle.check_job(oracle.expected(con, *tables), obs) == []
    assert oracle.drift_rows(obs) == {"0/user/turn_rate": (True, 0.5, "anomaly_rate=0.0000")}


def test_a_changed_detail_or_missing_row_fails(tables, tmp_path):
    con = oracle.connect(threads=1)
    exp = oracle.expected(con, *tables)

    def relabel(rows):
        return [(c, k, i, "gap_before_missing_2" if d == "gap_before_missing_1" else d)
                for c, k, i, d in rows]

    _job_outputs(con, str(tmp_path / "a"), *tables, mutate=relabel)
    assert oracle.check_job(exp, oracle.observed(con, str(tmp_path / "a"), "r000"))
    _job_outputs(con, str(tmp_path / "b"), *tables, mutate=lambda rows: rows[1:])
    errors = oracle.check_job(exp, oracle.observed(con, str(tmp_path / "b"), "r000"))
    assert any("violations" in e for e in errors)
