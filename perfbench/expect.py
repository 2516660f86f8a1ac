"""Independent expected outputs: the DuckDB twins of
``__spark_entry__.oracle_sql()``, run over the same generated input the
engine reads, and the comparisons of each rep's outputs against them.

The twins derive their transcripts from ``events`` through
``TRANSCRIPTS_SQL``; here that derivation is swapped for a scan of the
materialized (and, for a resumed run, pruned) transcripts table, which
``gen`` wrote from the very same SQL. Expected results are computed once
per (seed, size) and cached beside the inputs.
"""

from __future__ import annotations

import json
import zlib
from pathlib import Path

import duckdb

T_INPUT = "SELECT conv_id, turn_idx, role, text, tool, ts FROM t_input"


def twin_sql(entry, name: str) -> str:
    sql = entry.oracle_sql()[name]
    if sql.count(entry.TRANSCRIPTS_SQL) > 1:
        raise ValueError(f"twin {name} derives transcripts more than once")
    return sql.replace(entry.TRANSCRIPTS_SQL, T_INPUT)


def connect(inputs: Path, parts: list[str] | None = None) -> duckdb.DuckDBPyConnection:
    """DuckDB over one seed's inputs; ``parts`` restricts the transcripts
    table to those day partitions (a resumed run's pending set)."""
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{inputs / 'events.parquet'}'")
    where = ""
    if parts is not None:
        where = "WHERE CAST(part AS VARCHAR) IN (" + ", ".join(f"'{p}'" for p in parts) + ")"
    con.execute(
        "CREATE VIEW t_input AS SELECT * FROM read_parquet("
        f"'{inputs / 'transcripts'}/*/*.parquet', hive_partitioning = true) {where}"
    )
    return con


def run_expected(entry, inputs: Path, tag: str, parts: list[str] | None = None) -> Path:
    """Expected violations and verdicts of ``run_and_write`` over the
    transcripts table (restricted to ``parts`` when given)."""
    d = inputs / f"expected_{tag}"
    if (d / "DONE").exists():
        return d
    d.mkdir(exist_ok=True)
    con = connect(inputs, parts)
    try:
        for name, out in (("transcript_violations", "violations"), ("partition_verdicts", "verdicts")):
            con.execute(f"COPY ({twin_sql(entry, name)}) TO '{d / out}.parquet' (FORMAT PARQUET)")
    finally:
        con.close()
    (d / "DONE").write_text("ok")
    return d


def _diff(con, a: str, b: str) -> int:
    q = f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))"
    return con.execute(q).fetchone()[0] + con.execute(
        f"SELECT count(*) FROM (({b}) EXCEPT ALL ({a}))"
    ).fetchone()[0]


def check_run_outputs(expected: Path, out: Path) -> list[str]:
    """Compares one ``run_and_write`` output directory (violations,
    verdicts, manifest) with the expected results; returns mismatches."""
    con = duckdb.connect()
    try:
        problems = []
        got_v = (
            f"SELECT conv_id, turn_idx, \"check\" AS check_name, violation "
            f"FROM '{out / 'violations'}/*.parquet'"
        )
        exp_v = f"SELECT conv_id, turn_idx, check_name, violation FROM '{expected / 'violations.parquet'}'"
        if n := _diff(con, got_v, exp_v):
            problems.append(f"violations: {n} rows differ")
        cols = "part, \"pass\", n_violations, n_invalid_rows, n_rows"
        got_d = f"SELECT {cols} FROM '{out / 'verdicts'}/*.parquet'"
        exp_d = f"SELECT {cols} FROM '{expected / 'verdicts.parquet'}'"
        if n := _diff(con, got_d, exp_d):
            problems.append(f"verdicts: {n} rows differ")
        got_m = (
            "SELECT part, status, n_rows, n_violations, \"pass\" "
            f"FROM '{out / 'manifest'}/*.parquet' WHERE run_id = 'bench-1'"
        )
        exp_m = (
            "SELECT strftime(part, '%Y-%m-%d') AS part, "
            "CASE WHEN \"pass\" THEN 'validated' ELSE 'failed' END AS status, "
            f"n_rows, n_violations, \"pass\" FROM '{expected / 'verdicts.parquet'}'"
        )
        if n := _diff(con, got_m, exp_m):
            problems.append(f"manifest: {n} rows differ")
        return problems
    finally:
        con.close()


def fingerprint_rows(rows) -> dict:
    """Order-independent fingerprint of (event_id, valid, error_message)
    rows: count, valid count and the sum of CRC-32s of
    ``event_id|valid|error_message`` — the same expression the engine side
    computes with ``crc32(concat_ws('|', ...))`` in the observed write."""
    n = n_valid = crc = 0
    for event_id, valid, msg in rows:
        n += 1
        n_valid += bool(valid)
        crc += zlib.crc32(f"{event_id}|{'true' if valid else 'false'}|{msg}".encode())
    return {"rows": n, "valid": n_valid, "crc": crc}


def envelopes_expected(entry, inputs: Path) -> dict:
    f = inputs / "expected_envelopes.json"
    if f.exists():
        return json.loads(f.read_text())
    con = connect(inputs)
    try:
        rows = con.execute(twin_sql(entry, "validate_envelopes_mixed")).fetchall()
    finally:
        con.close()
    fp = fingerprint_rows(rows)
    f.write_text(json.dumps(fp))
    return fp


def check_small(
    entry, inputs: Path, name: str, rows: list, cols: list[str], parts: list[str] | None = None
) -> list[str]:
    """Compares a small collected engine result with its twin over the
    same partitions, by the contract checker's normalization (sorted
    columns, floats at 6 decimals, order-insensitive rows)."""
    import sys

    sys.path.insert(0, str(Path(entry.__file__).parent / "tools"))
    from check_contract import frame_key

    con = connect(inputs, parts)
    try:
        rel = con.execute(twin_sql(entry, name))
        ocols = [d[0] for d in rel.description]
        orows = rel.fetchall()
    finally:
        con.close()
    if frame_key(cols, rows) != frame_key(ocols, [list(r) for r in orows]):
        return [f"{name}: engine result differs from its twin"]
    return []
