"""Independent DuckDB oracle for the validation job's outputs.

The expected violation rows are recomputed from the same input parquet with
DuckDB SQL that restates each check's contract (see
``operators/constraints.py`` and ``engine/runner.py``): uniqueness rows carry
the duplicate count, monotonic_ts and turn_gaps come from a lag over
(conv_id order by turn_idx), domain and null checks are per row, and
referential rows are conversations missing from the registry.  Outputs are
compared as per-check counts plus an order-insensitive multiset hash: the sum
of DuckDB ``hash`` over the row tuple.
"""

from __future__ import annotations

import duckdb

ROLE_DOMAIN = ("user", "assistant", "system", "tool")
TOOL_DOMAIN = ("bash", "search", "edit", "browser", "python", "none")
CHECKS = ("uniqueness", "monotonic_ts", "role_domain", "tool_domain",
          "null_text", "referential", "turn_gaps")


def _in(values) -> str:
    return ", ".join(f"'{v}'" for v in values)


def expected_violations_sql(transcripts: str, registry: str) -> str:
    """Rows (check, conv_id, turn_idx, detail) the job must emit."""
    return f"""
    WITH t AS (SELECT * FROM read_parquet('{transcripts}/*.parquet')),
    w AS (
      SELECT conv_id, turn_idx, ts,
             lag(ts) OVER win AS prev_ts,
             lag(turn_idx) OVER win AS prev_idx
      FROM t WINDOW win AS (PARTITION BY conv_id ORDER BY turn_idx)
    )
    SELECT 'uniqueness' AS "check", conv_id, turn_idx, count(*)::VARCHAR AS detail
      FROM t GROUP BY conv_id, turn_idx HAVING count(*) > 1
    UNION ALL
    SELECT 'monotonic_ts', conv_id, turn_idx,
           CASE WHEN prev_ts = ts THEN 'duplicate_ts' ELSE 'out_of_order_ts' END
      FROM w WHERE prev_ts IS NOT NULL AND prev_ts >= ts
    UNION ALL
    SELECT 'turn_gaps', conv_id, turn_idx,
           CASE WHEN prev_idx IS NULL THEN 'starts_at_' || turn_idx
                ELSE 'gap_before_missing_' || (turn_idx - prev_idx - 1) END
      FROM w WHERE (prev_idx IS NULL AND turn_idx <> 0)
                OR (prev_idx IS NOT NULL AND turn_idx > prev_idx + 1)
    UNION ALL
    SELECT 'role_domain', conv_id, turn_idx, role FROM t
      WHERE role IS NOT NULL AND role NOT IN ({_in(ROLE_DOMAIN)})
    UNION ALL
    SELECT 'tool_domain', conv_id, turn_idx, tool FROM t
      WHERE tool IS NOT NULL AND tool NOT IN ({_in(TOOL_DOMAIN)})
    UNION ALL
    SELECT 'null_text', conv_id, turn_idx, NULL FROM t WHERE text IS NULL
    UNION ALL
    SELECT 'referential', conv_id, NULL, NULL FROM (
      SELECT DISTINCT conv_id FROM t
      WHERE conv_id NOT IN (SELECT conv_id FROM read_parquet('{registry}/*.parquet')))
    """


_ROW_HASH = ('hash("check"::VARCHAR, conv_id::VARCHAR, turn_idx::INTEGER, '
             'detail::VARCHAR)')
_TEXT_HASH = ('hash("check"::VARCHAR, conv_id::VARCHAR, turn_idx::INTEGER, '
              'detail::VARCHAR, text::VARCHAR)')


def _summary(con, rows_sql: str, hash_expr: str) -> dict:
    counts = dict(con.execute(
        f'SELECT "check", count(*) FROM ({rows_sql}) GROUP BY "check"').fetchall())
    (h,) = con.execute(
        f"SELECT coalesce(sum({hash_expr}::HUGEINT), 0) FROM ({rows_sql})").fetchone()
    return {"counts": {c: int(counts.get(c, 0)) for c in sorted(set(CHECKS) | set(counts))},
            "hash": int(h)}


def connect(threads: int = 4, tmp_dir: str | None = None):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    if tmp_dir:  # where DuckDB spills; the default is ./.tmp
        con.execute(f"SET temp_directory='{tmp_dir}'")
    return con


def expected(con, transcripts: str, registry: str) -> dict:
    """Per-check counts and multiset hashes of the violations, and of the
    violations with the offending turn's text attached."""
    rows = expected_violations_sql(transcripts, registry)
    out = _summary(con, rows, _ROW_HASH)
    with_text = f"""
    SELECT v.*, x.text FROM ({rows}) v LEFT JOIN (
      SELECT conv_id, turn_idx, min(text) AS text
      FROM read_parquet('{transcripts}/*.parquet') GROUP BY conv_id, turn_idx) x
    ON v.conv_id = x.conv_id AND v.turn_idx = x.turn_idx
    """
    out["text_hash"] = _summary(con, with_text, _TEXT_HASH)["hash"]
    return out


def _run_rows(path: str, run_id: str) -> str:
    return (f"SELECT * FROM read_parquet('{path}/**/*.parquet', hive_partitioning=true) "
            f"WHERE run_id = '{run_id}'")


def observed(con, out_root: str, run_id: str) -> dict:
    """The same summaries over one job's written outputs, plus its verdicts
    and lineage."""
    viol = _summary(con, _run_rows(f"{out_root}/violations", run_id), _ROW_HASH)
    text = _summary(con, _run_rows(f"{out_root}/violations_text", run_id), _TEXT_HASH)
    verdicts = con.execute(
        f"SELECT partition_key, \"check\", passed, score, detail "
        f"FROM ({_run_rows(f'{out_root}/verdicts', run_id)})").fetchall()
    (n_lineage,) = con.execute(
        f"SELECT count(*) FROM read_parquet('{out_root}/_lineage/*.parquet') "
        f"WHERE run_id = '{run_id}'").fetchone()
    return {"violations": viol, "text_hash": text["hash"],
            "text_rows": sum(text["counts"].values()),
            "verdicts": verdicts, "lineage_rows": int(n_lineage)}


def constraint_verdicts(counts: dict) -> set:
    """The ``_global`` verdict rows the runner must derive from the counts."""
    return {("_global", c, counts.get(c, 0) == 0, float(counts.get(c, 0)),
             f"violations={counts.get(c, 0)}") for c in CHECKS}


def check_job(exp: dict, obs: dict) -> list[str]:
    """Mismatches between one job's outputs and the oracle (empty == pass)."""
    errors = []
    if obs["violations"] != {"counts": exp["counts"], "hash": exp["hash"]}:
        errors.append(f"violations {obs['violations']['counts']} != {exp['counts']}")
    if obs["text_hash"] != exp["text_hash"] or obs["text_rows"] != sum(exp["counts"].values()):
        errors.append("violation text rows differ from the input turns' text")
    got = {tuple(r) for r in obs["verdicts"] if r[0] == "_global"}
    if got != constraint_verdicts(exp["counts"]):
        errors.append("constraint verdicts differ from the oracle counts")
    if obs["lineage_rows"] != len(obs["verdicts"]):
        errors.append(f"lineage rows {obs['lineage_rows']} != verdicts {len(obs['verdicts'])}")
    return errors


def drift_rows(obs: dict) -> dict:
    """The job's written sr_drift verdicts: series key -> (passed, score,
    detail)."""
    return {r[0]: tuple(r[2:]) for r in obs["verdicts"] if r[1] == "sr_drift"}
