"""ValidationRun — the end-to-end pipeline (SURVEY.md §3.3 Spark lifecycle).

source scan (pending partitions only) → fused row-check projection →
violations: schema errors (explode) ∪ hash uniqueness ∪ referential
anti-joins (conversations, tools), under ONE range sort on
(conv_id, turn_idx) → per-partition verdicts → manifest record.

``run()`` builds these lazily; ``run_and_write()`` (the production path,
``jobs/validate_job.py``) writes the violations, derives the verdicts with
the same :func:`_verdicts` from the written table, then records the
manifest. Shuffles: the uniqueness groupBy on an 8-byte key hash (map-side
combined), the range sort of the unioned violations, and the two
partition-keyed verdict aggregates (kilobytes, AQE-coalesced). RI joins
are broadcast. The only row-volume movement is the violations sort.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pacts_spark.checkpoint import ValidationManifest
from pacts_spark.checks import ri_violations, uniqueness_violations
from pacts_spark.engine import PactsEngine


@dataclass
class RunResult:
    validated: DataFrame
    violations: DataFrame
    verdicts: DataFrame


def day_part(ts_col: str = "ts") -> Column:
    """days(ts) partition expression (FIXTURES.md §1 partitioning).

    Stays DateType on purpose: casting to string per row routes every row
    through java.time's DateTimeFormatter (measured as the pipeline's top
    CPU consumer at 4M rows). Group/join on the 4-byte date; stringify
    only tiny aggregated outputs (checkpoint.record does)."""
    return F.to_date(F.col(ts_col))


def _verdicts(validated: DataFrame, violations: DataFrame, part: Column) -> DataFrame:
    """Per-partition verdict (ValidationResult.valid lifted to partition
    granularity — SURVEY.md §2.4): row counts from ``validated``, violation
    counts from ``violations``. The join is null-safe: a NULL-ts row lands
    in the NULL partition, and a plain equi-join would drop that
    partition's violations (NULL never equals NULL) and pass it."""
    rows = validated.groupBy(part.alias("part")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((~F.col("valid")).cast("long")).alias("n_invalid_rows"),
    )
    counts = violations.groupBy(F.col("part").alias("v_part")).agg(
        F.count(F.lit(1)).alias("n_violations")
    )
    n = F.coalesce(F.col("n_violations"), F.lit(0).cast("long"))
    return rows.join(counts, rows["part"].eqNullSafe(counts["v_part"]), "left").select(
        "part", (n == 0).alias("pass"), n.alias("n_violations"), "n_invalid_rows", "n_rows"
    )


class ValidationRun:
    def __init__(
        self,
        engine: PactsEngine,
        manifest: ValidationManifest | None = None,
        category: str = "transcripts",
        name: str = "turn",
    ) -> None:
        self.engine = engine
        self.manifest = manifest
        self.category = category
        self.name = name

    def run(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        conversations: DataFrame | None = None,
        tools: DataFrame | None = None,
        pending_filtered: bool = False,
    ) -> RunResult:
        """Lazy validated rows, violations and verdicts. The input should be
        a materialized table: each action re-evaluates it, so a caller
        with an expensive derived input persists it first.

        Does NOT record to the manifest — recording before the outputs are
        durably written would let a crash mark partitions 'validated' whose
        verdict/violation rows were never persisted (a resumed run would
        then skip them forever). ``run_and_write()`` records after its
        writes; other callers call ``manifest.record(res.verdicts, ...)``
        once their sinks commit."""
        part = day_part()

        # pending_filtered=True: the caller already excluded validated
        # partitions (a table adapter's partition-pruned scan_pending) —
        # don't anti-join a second time
        if self.manifest is not None and not pending_filtered:
            transcripts = self.manifest.filter_pending(spark, transcripts, part)

        # ---- row-level schema checks (one fused projection, no shuffle)
        validated = self.engine.validate_data(transcripts, self.category, self.name)

        # ---- violations: row checks + engine checks, unioned in one
        #      (conv_id, turn_idx, part, check, violation) shape. No
        #      per-branch sort — ONE repartitionByRange after the union
        #      (sorting each branch would range-partition twice).
        viol_parts = [
            validated.filter(F.size("errors") > 0).select(
                "conv_id",
                "turn_idx",
                part.alias("part"),
                F.lit("schema").alias("check"),
                F.explode("errors").alias("violation"),
            ),
            # method="hash": phase-1 shuffle carries (8-byte hash, count)
            # instead of the string key tuple — measured 20% faster at 16M
            # rows and ~4x fewer shuffle bytes; map-side combine absorbs
            # hot keys, exact tail verify
            uniqueness_violations(
                transcripts, ["conv_id", "turn_idx"], method="hash"
            ).select(
                "conv_id", "turn_idx", part.alias("part"),
                F.lit("uniqueness").alias("check"), "violation",
            ),
        ]
        for dim, key, check in (
            (conversations, "conv_id", "referential_conv"),
            (tools, "tool", "referential_tool"),
        ):
            if dim is not None:
                viol_parts.append(
                    ri_violations(transcripts, dim, key).select(
                        "conv_id", "turn_idx", part.alias("part"),
                        F.lit(check).alias("check"), "violation",
                    )
                )
        unioned = viol_parts[0]
        for v in viol_parts[1:]:
            unioned = unioned.unionByName(v)
        # the verdict counts read the unsorted union: per-part counts need
        # no range sort (nor its sampling job)
        return RunResult(
            validated=validated,
            violations=unioned.repartitionByRange(
                "conv_id", "turn_idx"
            ).sortWithinPartitions("conv_id", "turn_idx", "check", "violation"),
            verdicts=_verdicts(validated, unioned, part),
        )

    def run_and_write(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        out_dir: str,
        conversations: DataFrame | None = None,
        tools: DataFrame | None = None,
        run_id: str = "run-0",
        seq: int = 0,
        pending_filtered: bool = False,
    ) -> dict:
        """Production run: ``run()`` written with the minimum number of
        actions (each costs seconds of driver/stage overhead regardless of
        data size):

          action 1: write the violations table (the only full-data pass —
                    all check branches evaluate inside ONE job);
          action 2: write the verdicts — ``_verdicts`` over the validated
                    rows and the violation rows read back from the WRITTEN
                    table (no second evaluation of the check branches);
          action 3: record the verdicts in the manifest, only after both
                    writes succeeded (see ``run()`` on resume ordering).

        Returns {"violations_path", "verdicts_path"}.
        """
        res = self.run(
            spark,
            transcripts,
            conversations=conversations,
            tools=tools,
            pending_filtered=pending_filtered,
        )
        vio_path = f"{out_dir}/violations"
        res.violations.write.mode("overwrite").parquet(vio_path)

        verd_path = f"{out_dir}/verdicts"
        _verdicts(res.validated, spark.read.parquet(vio_path), day_part()).write.mode(
            "overwrite"
        ).parquet(verd_path)
        if self.manifest is not None:
            self.manifest.record(
                spark.read.parquet(verd_path), run_id=run_id, seq=seq
            )
        return {"violations_path": vio_path, "verdicts_path": verd_path}
