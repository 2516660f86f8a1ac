"""Seeded input generation for the benchmark.

Every input is a pure function of ``(seed, n_events)``. Generated tables
are cached under the work directory keyed by that pair, so a repeated
seed reuses them and neither ``setup_s`` nor any timed rep pays for
generation.

The events stream is synthetic: numpy draws it from the marginal
distributions measured on the repository's sf0.1 ``events`` fixture and
committed in ``fixture_profile.json`` (made by ``profile_fixture.py``).
Those are the conversation lengths (events per user), the event types,
the ``props`` values, the events per day and per hour of day, and the
``value`` quantiles. As in the fixture, ``event_id`` is the rank by
``ts``. Joint structure beyond these marginals is not reproduced; the
fixture shows none (``value`` quantiles agree across event types, and
events per user spread as under independent assignment). The
transcripts derivation then injects the fixture's violation mix on every
seed: NULL text (``k = 0``), duplicate ``turn_idx``
(``event_id % 97 = 0``), orphan conversations (``user_id % 29 = 7``) and
orphan tools (``event_id % 7`` in 5..6). The seed moves the key offsets
and every draw, never these rates.

Derived tables are written by DuckDB from the same SQL twins the oracle
uses, so generation never runs the engine under test.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PROFILE = Path(__file__).resolve().parent / "fixture_profile.json"
EPOCH_US = 1_704_067_200_000_000  # the fixture's first day, 2024-01-01T00:00:00Z
DAY_US, HOUR_US = 86_400_000_000, 3_600_000_000
MANIFEST_COLUMNS = (
    "part, 'validated' AS status, 0::BIGINT AS n_rows, 0::BIGINT AS n_violations, "
    "true AS pass, 'earlier-run' AS run_id, '' AS lineage, 0::BIGINT AS finished_seq"
)


def _weights(counts) -> np.ndarray:
    w = np.asarray(counts, dtype=np.float64)
    return w / w.sum()


def generate_events(seed: int, n_events: int) -> pa.Table:
    prof = json.loads(PROFILE.read_text())
    if not prof["event_id_is_ts_rank"] or prof["first_day"] != "2024-01-01":
        raise ValueError(f"{PROFILE.name}: the generator assumes ts-ranked ids from 2024-01-01")
    rng = np.random.default_rng([seed, n_events])
    # conversation lengths from the fixture's histogram, the last one cut
    # so the lengths sum to n_events
    lengths = np.array([int(n) for n in prof["events_per_user"]])
    p_len = _weights(list(prof["events_per_user"].values()))
    lens = rng.choice(lengths, size=n_events // lengths.min() + 1, p=p_len)
    cum = np.cumsum(lens)
    n_users = int(np.searchsorted(cum, n_events)) + 1
    lens = lens[:n_users]
    lens[-1] -= cum[n_users - 1] - n_events
    user = np.repeat(np.arange(n_users, dtype=np.int64), lens)
    days, hours = prof["events_per_day"], prof["events_per_hour"]
    ts = (
        EPOCH_US
        + rng.choice(len(days), n_events, p=_weights(days)) * DAY_US
        + rng.choice(len(hours), n_events, p=_weights(hours)) * HOUR_US
        + rng.integers(0, HOUR_US, n_events)
    )
    order = np.argsort(ts, kind="stable")

    def draw(counts: dict) -> np.ndarray:
        keys = np.array(list(counts), dtype=object)
        return keys[rng.choice(len(keys), n_events, p=_weights(list(counts.values())))]

    quantiles = np.array(prof["value_quantiles"])
    value = np.interp(rng.random(n_events), np.linspace(0, 1, len(quantiles)), quantiles)
    # offsets keep every modulus class populated in the fixture's ratio
    # (97 * 7 * 8 divides the event_id stride, 29 the user stride)
    id_base = int(rng.integers(0, 1000)) * 97 * 7 * 8
    user_base = int(rng.integers(0, 1000)) * 29
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype=np.int64) + id_base),
            "ts": pa.array(ts[order].astype("datetime64[us]")),
            "user_id": pa.array(user[order] + user_base),
            "event_type": pa.array(draw(prof["event_type"])),
            "value": pa.array(np.round(value, 2)),
            "props": pa.array(draw(prof["props"])),
        }
    )


# The envelope case mix of __spark_entry__._q_validate_envelopes_mixed
# (event_id % 8 selects the case), written out as input rows.
_HDR = (
    '{"header": {"schema_version": "v1", "schema_category": "events", '
    '"schema_name": "props_check"}'
)
ENVELOPES_SQL = f"""
SELECT event_id, CASE event_id % 8
  WHEN 0 THEN '{{"data": ' || props || '}}'
  WHEN 1 THEN '{{"header": {{"schema_version": "", "schema_category": "", "schema_name": ""}}, "data": ' || props || '}}'
  WHEN 2 THEN '{{"header": {{"schema_version": "v1", "schema_name": "props_check"}}, "data": ' || props || '}}'
  WHEN 3 THEN '{{"header": {{"schema_version": "v1", "schema_category": "events"}}, "data": ' || props || '}}'
  WHEN 4 THEN '{{"header": {{"schema_category": "events", "schema_name": "props_check"}}, "data": ' || props || '}}'
  WHEN 5 THEN '{{"header": {{"schema_version": "v1", "schema_category": "nope", "schema_name": "nada"}}, "data": ' || props || '}}'
  WHEN 6 THEN '{_HDR}, "data": 5}}'
  ELSE '{_HDR}, "data": {{"k": 1, "v": 2}}}}'
END AS value
FROM events
"""


def build_inputs(work: Path, seed: int, n_events: int, transcripts_sql: str, convs_sql: str) -> Path:
    """Materialize one seed's inputs; returns their directory.

    Layout: ``events.parquet``; ``transcripts/part=YYYY-MM-DD/*.parquet``
    (the day-partitioned production table); ``convs.parquet`` (the
    conversations dimension); ``envelopes.parquet`` (JSON envelopes).
    """
    d = work / "inputs" / f"s{seed}_n{n_events}"
    if (d / "DONE").exists():
        return d
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    events = generate_events(seed, n_events)
    pq.write_table(events, d / "events.parquet", row_group_size=1 << 20)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.register("events", events)
        con.execute(
            f"COPY (SELECT *, CAST(ts AS DATE) AS part FROM ({transcripts_sql})) "
            f"TO '{d / 'transcripts'}' (FORMAT PARQUET, PARTITION_BY (part))"
        )
        con.execute(f"COPY ({convs_sql}) TO '{d / 'convs.parquet'}' (FORMAT PARQUET)")
        con.execute(f"COPY ({ENVELOPES_SQL}) TO '{d / 'envelopes.parquet'}' (FORMAT PARQUET)")
        parts = sorted(p.name for p in (d / "transcripts").iterdir())
        # a manifest marking every day but the last validated: the input
        # of a resumed run, whose scan_pending prunes 29 of 30 partitions
        (d / "manifest_resume").mkdir()
        done = ", ".join(f"('{p.split('=', 1)[1]}')" for p in parts[:-1])
        con.execute(
            f"COPY (SELECT {MANIFEST_COLUMNS} FROM (VALUES {done}) v(part)) "
            f"TO '{d / 'manifest_resume' / 'part-0.parquet'}' (FORMAT PARQUET)"
        )
    finally:
        con.close()
    (d / "DONE").write_text(json.dumps({"seed": seed, "n_events": n_events, "parts": parts}))
    return d


def n_events(inputs: Path) -> int:
    return json.loads((inputs / "DONE").read_text())["n_events"]


def table_parts(inputs: Path) -> list[str]:
    """Partition values (``YYYY-MM-DD``) of the transcripts table, sorted."""
    return [p.split("=", 1)[1] for p in json.loads((inputs / "DONE").read_text())["parts"]]


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())
