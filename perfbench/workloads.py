"""The benchmark's workloads: each rep is one call into the program's
public entry points, timed from outside, with its outputs checked.

Closed loop, one call in flight, one Spark session per process.
"""

from __future__ import annotations

import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

import expect
import gen

# Input sizes (events; the transcripts table has one turn per event).
# At 500k turns the driver's per-call planning and job overhead dominated
# a nightly_full rep, and the JIT kept shrinking it for a dozen calls (7.2 s
# down to 4.4 s over 11 reps on a 4-vCPU VM), so a run's median depended on
# how far its JVM had got. At 1.5M the data's share of a rep is larger, and
# the spread of run medians over seeds fell from 0.23 to about 0.09 of the
# median (middle half of 5-10 runs).
SIZES = {"nightly_full": 1_500_000, "envelopes_json": 250_000}


@dataclass
class Rep:
    wall_s: float
    rows: int
    out_bytes: int = 0
    observed: dict | None = None
    problems: list[str] = field(default_factory=list)


class NightlyFull:
    """``ParquetTableAdapter.scan_pending`` against an empty manifest, then
    ``ValidationRun.run_and_write(pending_filtered=True)`` with the
    conversations and tools dimensions: what ``jobs/validate_job.py
    --transcripts --manifest`` runs, over a 30-day partitioned table."""

    name = "nightly_full"
    python_workers = False  # no Python UDF on this path

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.table = str(ctx.inputs / "transcripts")
        self.expected = expect.run_expected(ctx.entry, ctx.inputs, "full")
        # the resumed run validates the last day only
        tail = gen.table_parts(ctx.inputs)[-1:]
        self.expected_tail = expect.run_expected(ctx.entry, ctx.inputs, "tail", tail)
        self.out = ctx.work / "out" / self.name
        self.rows = gen.n_events(ctx.inputs)  # one turn per event

    def prepare(self, spark: SparkSession) -> None:
        from pacts_spark.transcripts import tools_dim

        self.convs = spark.read.parquet(str(self.ctx.inputs / "convs.parquet"))
        self.tools = tools_dim(spark)

    def compile(self, spark: SparkSession) -> None:
        self.ctx.engine.validate_data(spark.read.parquet(self.table), "transcripts", "turn").schema

    def call(self, spark: SparkSession, out: Path, manifest_src: Path | None = None):
        """One ``scan_pending`` + ``run_and_write`` into ``out``; returns
        (wall seconds, seconds spent in ``scan_pending``). ``manifest_src``
        seeds the manifest: a resumed run."""
        from pacts_spark.checkpoint import ValidationManifest
        from pacts_spark.runner import ValidationRun
        from pacts_spark.table import ParquetTableAdapter

        shutil.rmtree(out, ignore_errors=True)
        out.mkdir(parents=True)
        if manifest_src is not None:
            shutil.copytree(manifest_src, out / "manifest")
        manifest = ValidationManifest(str(out / "manifest"))
        run = ValidationRun(self.ctx.engine, manifest=manifest)
        t0 = time.perf_counter()
        pending = ParquetTableAdapter().scan_pending(spark, self.table, manifest)
        t_scan = time.perf_counter() - t0
        run.run_and_write(
            spark, pending, str(out), conversations=self.convs, tools=self.tools,
            run_id="bench-1", seq=1, pending_filtered=True,
        )
        return time.perf_counter() - t0, t_scan

    def rep(self, spark: SparkSession) -> Rep:
        wall, _ = self.call(spark, self.out)
        out_bytes = sum(gen.dir_bytes(self.out / d) for d in ("violations", "verdicts", "manifest"))
        return Rep(wall, self.rows, out_bytes)

    def check(self, rep: Rep) -> Rep:
        rep.problems = expect.check_run_outputs(self.expected, self.out)
        return rep

    def resume(self, spark: SparkSession) -> tuple[Rep, float]:
        """The daily incremental run: the manifest already holds 29 of the
        30 days, so ``scan_pending`` prunes them at the scan."""
        out = self.out.with_name(self.name + "_resume")
        wall, t_scan = self.call(spark, out, self.ctx.inputs / "manifest_resume")
        problems = expect.check_run_outputs(self.expected_tail, out)
        return Rep(wall, 0, problems=problems), t_scan

    def warm(self, spark: SparkSession) -> list[Rep]:
        # a resumed run loads the classes and generates the code of the
        # full run in a fraction of its time; one full run then warms the
        # per-row paths. The JIT keeps compiling for a few calls more (the
        # first timed rep often runs 10-20% slower than the third), which
        # the median of the timed reps absorbs; a second full warm-up run
        # did not narrow the spread between runs on a 4-vCPU VM
        return [self.resume(spark)[0], self.check(self.rep(spark))]


class EnvelopesJson:
    """``model.parse_envelopes`` + ``PactsEngine.validate_envelopes`` over
    JSON envelopes with mixed coordinates, written to a ``noop`` sink. An
    observation on the same write fingerprints every output row, so the
    check costs no extra action."""

    name = "envelopes_json"
    python_workers = True

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.src = str(ctx.inputs / "envelopes.parquet")
        self.expected = expect.envelopes_expected(ctx.entry, ctx.inputs)
        self.rows = self.expected["rows"]

    def prepare(self, spark: SparkSession) -> None:
        pass

    def compile(self, spark: SparkSession) -> None:
        self.frame(spark).schema

    def warm(self, spark: SparkSession) -> list[Rep]:
        # the first call pays class loading, code generation and the
        # Python workers' first Arrow batches; the JIT needs two more
        # (on a 4-vCPU VM calls 2-4 took 3.6, 3.3 and 3.2 s on average)
        return [self.check(self.rep(spark)) for _ in range(3)]

    def frame(self, spark: SparkSession):
        from pacts_spark.model import parse_envelopes

        parsed = parse_envelopes(spark.read.parquet(self.src), keep=("event_id",))
        return self.ctx.engine.validate_envelopes(parsed).select("event_id", "valid", "error_message")

    def rep(self, spark: SparkSession) -> Rep:
        obs = Observation("fingerprint")
        row = F.concat_ws(
            "|", F.col("event_id").cast("string"), F.col("valid").cast("string"), "error_message"
        )
        t0 = time.perf_counter()
        df = self.frame(spark).observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col("valid").cast("long")).alias("valid"),
            F.sum(F.crc32(row.cast("binary"))).alias("crc"),
        )
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        return Rep(wall, self.rows, observed=obs.get)

    def check(self, rep: Rep) -> Rep:
        if rep.observed != self.expected:
            rep.problems = [f"fingerprint {rep.observed} != expected {self.expected}"]
        return rep


WORKLOADS = {w.name: w for w in (NightlyFull, EnvelopesJson)}
