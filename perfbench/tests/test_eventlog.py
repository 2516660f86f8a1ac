"""Tests for the event-log parser and the metric report.

``data/eventlog_tiny.jsonl`` is a real Spark 4.1 event log of a local[2]
session that ran four labelled calls over a 2-partition table of four
parquet files: ``scan`` (noop of the whole table), ``write``
(range-partitioned, sorted parquet write to ``.../o/violations``),
``pruned`` (noop of one partition) and ``verdicts`` (an aggregate of
``.../o/violations``, read back, written to ``.../o/verdicts``). It is
trimmed to the events and fields the parser reads, and its paths are
rewritten under ``/data/tiny``.

Run with ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
sys.path.insert(0, str(BENCH))

from eventlog import EventLog  # noqa: E402

TINY = HERE / "data" / "eventlog_tiny.jsonl"


@pytest.fixture(scope="module")
def ev() -> EventLog:
    return EventLog.load(TINY)


def test_label_stats_counts_jobs_tasks_and_bytes(ev):
    scan = ev.label_stats("scan")
    assert (scan.jobs, scan.tasks) == (1, 2)
    assert scan.wall_s > 0
    assert scan.shuffle_write_bytes == 0
    write = ev.label_stats("write")
    assert write.jobs == 3
    assert write.shuffle_write_bytes > 0
    assert write.spill_bytes == 0
    assert write.task_skew >= 1.0


def test_unknown_label_is_empty(ev):
    s = ev.label_stats("no-such-label")
    assert (s.jobs, s.tasks, s.wall_s, s.task_skew) == (0, 0, 0.0, 1.0)


def test_sql_metrics_resolve_through_plan_nodes(ev):
    assert ev.sql_metric("scan", "number of files read") == 4
    assert ev.sql_metric("scan", "number of partitions read") == 2
    assert ev.sql_metric("pruned", "number of partitions read") == 1
    assert ev.sql_metric("pruned", "number of files read") == 2
    # per-node filter: the only exchange is the range partitioning
    total = ev.sql_metric("write", "shuffle bytes written")
    ranged = ev.sql_metric("write", "shuffle bytes written", "Exchange", "rangepartitioning")
    assert ranged == total == ev.label_stats("write").shuffle_write_bytes
    assert ev.sql_metric("write", "shuffle bytes written", "Exchange", "hashpartitioning") == 0
    assert ev.sql_metric("scan", "size of files read") == ev.sql_metric("write", "size of files read") > 0


def test_write_wall_is_attributed_by_output_path(ev):
    assert ev.write_wall_s("write", "violations") > 0
    assert ev.write_wall_s("write", "verdicts") == 0
    assert ev.write_wall_s("scan", "violations") == 0


def test_write_wall_ignores_the_paths_a_write_reads(ev):
    # the verdicts write scans .../o/violations; only its target counts
    assert ev.write_wall_s("verdicts", "verdicts") > 0
    assert ev.write_wall_s("verdicts", "violations") == 0


def test_run_and_write_metrics(ev):
    from layers import run_and_write_metrics

    m = run_and_write_metrics(ev, "scan", "pruned", table_bytes=4049)
    assert m["table.files_read"] == 4
    assert m["table.read_amplification"] == pytest.approx(1.0)
    assert m["checkpoint.pruned_frac"] == pytest.approx(0.5)
    assert m["runner.jobs"] == 1 and m["runner.tasks"] == 2


class _Rep:
    def __init__(self, wall_s):
        self.wall_s, self.rows = wall_s, 1000


class _Rss:
    peak_mb = 1234.5


def test_end_to_end_report_matches_benchmark_json():
    import run

    out = run.report("end_to_end", run.end_to_end([_Rep(2.0), _Rep(1.0), _Rep(4.0)], {"setup_s": 3.25}, _Rss()))
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert {k: v["unit"] for k, v in out.items()} == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert out["wall_s"]["value"] == 2.0  # median of the reps
    assert out["rows_per_s"]["value"] == 500.0
    assert out["setup_s"]["value"] == 3.25


def test_report_without_timed_reps_keeps_setup_only():
    import run

    out = run.report("end_to_end", run.end_to_end([], {"setup_s": 3.25}, _Rss()))
    assert out == {"setup_s": {"value": 3.25, "unit": "s"}}
