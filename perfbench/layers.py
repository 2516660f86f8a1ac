"""The traced run: per-layer metrics for every ``pacts_spark`` module the
production path crosses, measured from outside the program.

Layer self time follows one rule: materialize (``noop`` sink, or
``collect`` of a small aggregate) the output of the layer's public
function and subtract the materialization of that function's input, best
of two each. Bytes, files, tasks, skew and GC come from Spark's event log
of the labelled calls (``eventlog.py``). A run_and_write rep and a resumed
rep are attributed per output write from their SQL executions.

Every traced run reports every layer, whichever workload it was given,
because a traced run's result must hold every per-layer metric that
``BENCHMARK.json`` names. The layers of the other workload are measured
on this seed's inputs: the envelope layers on a sample of a fixed size,
the transcripts layers on this workload's whole table. The run also
measures the tracing overhead (traced minus untraced wall time of the
workload's own call) and, for ``nightly_full``, the local[1] rep that
gives ``scaling_eff``; both go into the layer table it writes to
``perfbench/_work/layers_<workload>_s<seed>.md``.
"""

from __future__ import annotations

import json
import shutil
import statistics
import time

from pyspark.sql import functions as F

import expect
import gen
from eventlog import EventLog
from workloads import SIZES, NightlyFull, Rep

KEYS = ["conv_id", "turn_idx"]
SWEEP_DAYS = 5
# the envelope layers run over about this many envelopes whatever the
# input size, so they read the same on either workload's inputs
ENVELOPE_SWEEP = 31_250
# a run must end within 180 s; the local[1] rep (for the layer table only)
# is left out when it would take the run past this, leaving time to parse
# the event logs and stop
RUN_LIMIT_S = 150
STAT_COLS = ["conv_id", "turn_idx", "role", "text", "tool"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Sweep:
    def __init__(self, spark, ctx) -> None:
        self.spark = spark
        self.ctx = ctx
        self.best: dict[str, float] = {}
        self.calls: list[Rep] = []  # one per timed label

    def timed(self, label: str, fn, reps: int = 2):
        """Best-of-``reps`` wall time of ``fn()``; the last rep runs under
        the job description ``label`` (the one the event log is read for)."""
        out = None
        times = []
        for i in range(reps):
            self.spark.sparkContext.setJobDescription(label if i == reps - 1 else f"{label}#warm")
            t0 = time.perf_counter()
            out = fn()
            times.append(time.perf_counter() - t0)
        self.spark.sparkContext.setJobDescription(None)
        self.best[label] = min(times)
        self.calls.append(Rep(min(times), 0))
        return out

    def check(self, name: str, rows, parts: list[str]) -> None:
        """Checks the result of the last timed call against its twin."""
        cols = list(rows[0].asDict()) if rows else []
        self.calls[-1].problems += expect.check_small(
            self.ctx.entry, self.ctx.inputs, name, [list(r) for r in rows], cols, parts
        )

    def transcripts(self, nightly: NightlyFull) -> dict:
        from pacts_spark.checks import (
            category_histogram,
            column_stats,
            drift_scores,
            gap_quantiles_discrete,
            ri_violations,
            uniqueness_violations,
        )
        from pacts_spark.checks.uniqueness import duplicate_keys_hashed
        from pacts_spark.compiler import compile_relational
        from pacts_spark.runner import day_part

        spark, eng = self.spark, self.ctx.engine
        t = spark.read.parquet(nightly.table)
        # the profiling layers (not on the run_and_write path, and the
        # costliest to split) run over the first SWEEP_DAYS days only,
        # pruned at the scan
        sub_parts = gen.table_parts(self.ctx.inputs)[:SWEEP_DAYS]
        sub = t.filter(F.col("part") <= F.lit(sub_parts[-1]).cast("date"))
        m = {}
        self.timed("L:scan", lambda: _noop(t))
        self.timed("L:scan_sub", lambda: _noop(sub))
        self.timed("L:validate", lambda: _noop(eng.validate_data(t, "transcripts", "turn")))
        compile_times = []
        for _ in range(3):
            t0 = time.perf_counter()
            eng.validate_data(t, "transcripts", "turn").schema
            compile_times.append(time.perf_counter() - t0)
        m["compiler.compile_s"] = statistics.median(compile_times)
        m["compiler.checks"] = len(
            compile_relational(eng.registry.load_schema("transcripts", "turn"), t.schema)
        )
        self.timed("L:uniq", lambda: _noop(uniqueness_violations(t, KEYS, method="hash")))
        kh = F.xxhash64(*[F.col(k) for k in KEYS])
        candidates = t.groupBy(kh).count().filter(F.col("count") > 1).count()
        true_dups = duplicate_keys_hashed(t, KEYS).count()
        m["uniqueness.candidate_hit_frac"] = true_dups / candidates if candidates else 1.0

        def ri():
            return ri_violations(t, nightly.convs, "conv_id").unionByName(
                ri_violations(t, nightly.tools, "tool")
            )

        self.timed("L:ri", lambda: _noop(ri()))
        m["referential.orphans"] = ri().count()

        stats = self.timed(
            "L:stats",
            lambda: column_stats(sub, STAT_COLS, exact_distinct=True)
            .withColumnRenamed("column", "col_name")
            .collect(),
        )
        self.check("colstats_transcripts", stats, sub_parts)

        def drift():
            return drift_scores(
                category_histogram(sub, "role", day_part()), category_histogram(sub, "role")
            ).collect()

        rows = self.timed("L:drift", drift)
        self.check("drift_roles", rows, sub_parts)
        rows = self.timed(
            "L:gaps", lambda: gap_quantiles_discrete(sub, partition_col=day_part()).collect()
        )
        self.check("gap_quantiles", rows, sub_parts)

        scan = self.best["L:scan"]
        m["table.scan_s"] = scan
        m["engine.validate_data_s"] = self.best["L:validate"] - scan
        m["uniqueness.s"] = self.best["L:uniq"] - scan
        m["referential.s"] = self.best["L:ri"] - scan
        scan_sub = self.best["L:scan_sub"]
        m["stats.s"] = self.best["L:stats"] - scan_sub
        m["drift.s"] = self.best["L:drift"] - scan_sub
        m["timegaps.s"] = self.best["L:gaps"] - scan_sub
        return m

    def envelopes(self, inputs) -> dict:
        from pacts_spark.compiler import json_mode_dispatch_validator
        from pacts_spark.model import parse_envelopes
        from pacts_spark.oracle import validate_data

        spark, eng = self.spark, self.ctx.engine
        # a sample of the envelopes with every case of the mix (event_id % 8
        # picks the case) keeps the sweep short; the filter is part of every
        # side of each difference
        every = max(1, gen.n_events(inputs) // ENVELOPE_SWEEP)
        env = spark.read.parquet(str(inputs / "envelopes.parquet")).filter(
            F.expr(f"(event_id div 8) % {every} = 0")
        )
        parsed = parse_envelopes(env, keep=("event_id",))
        h = F.col("header")
        coords = parsed.select(
            h.getField("schema_category").alias("c"), h.getField("schema_name").alias("n"), "data"
        )
        udf = json_mode_dispatch_validator(eng.registry.as_validator_dict(), spark=spark)
        self.timed("L:env_scan", lambda: _noop(env))
        self.timed("L:parse", lambda: _noop(parsed))
        self.timed("L:venv_in", lambda: _noop(parsed.select("event_id", "header", "data")))
        self.timed(
            "L:venv",
            lambda: _noop(eng.validate_envelopes(parsed).select("event_id", "valid", "error_message")),
        )
        self.timed("L:udf_in", lambda: _noop(coords))
        self.timed("L:udf", lambda: _noop(coords.select(udf("c", "n", "data"))))

        # the per-row oracle called directly on sampled payloads
        import json as _json

        import pyarrow.parquet as pq

        schema = eng.registry.load_schema("events", "props_check")
        props = pq.read_table(inputs / "events.parquet", columns=["props"]).column(0).to_pylist()
        sample = [_json.loads(p) for p in props[:: max(1, len(props) // 50_000)]]
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            for d in sample:
                validate_data(d, schema)
            best = min(best, time.perf_counter() - t0)

        b = self.best
        return {
            "model.parse_envelopes_s": b["L:parse"] - b["L:env_scan"],
            "engine.validate_envelopes_s": b["L:venv"] - b["L:venv_in"],
            "compiler.json_udf_s": b["L:udf"] - b["L:udf_in"],
            "oracle.rows_per_s": len(sample) / best,
        }


def run_and_write_metrics(ev: EventLog, label: str, resume_label: str, table_bytes: int) -> dict:
    s = ev.label_stats(label)
    files = ev.sql_metric(label, "number of files read")
    size = ev.sql_metric(label, "size of files read")
    parts_full = ev.sql_metric(label, "number of partitions read")
    parts_resume = ev.sql_metric(resume_label, "number of partitions read")
    return {
        "table.bytes_read": size,
        "table.files_read": files,
        "table.read_amplification": size / table_bytes,
        "runner.violations_write_s": ev.write_wall_s(label, "violations"),
        "runner.verdicts_s": ev.write_wall_s(label, "verdicts"),
        "checkpoint.record_s": ev.write_wall_s(label, "manifest"),
        "runner.jobs": s.jobs,
        "runner.tasks": s.tasks,
        "runner.sort_shuffle_bytes": ev.sql_metric(
            label, "shuffle bytes written", "Exchange", "rangepartitioning"
        ),
        "runner.spill_bytes": s.spill_bytes,
        "runner.task_skew": s.task_skew,
        "runner.gc_s": s.gc_s,
        "checkpoint.pruned_frac": 1 - parts_resume / parts_full if parts_full else 0.0,
    }


def traced_run(session, ctx, wl, rss, measure, log, cores: int, started: float) -> tuple[dict, int, int]:
    """Returns (per-layer metric values, calls attempted, calls failed).
    ``started`` is the ``time.perf_counter()`` at which the run began.
    A call fails when it raises (the
    run then ends) or when its output differs from the expected one."""
    logs = ctx.work / "eventlog" / f"{wl.name}_s{ctx.seed}"
    shutil.rmtree(logs, ignore_errors=True)

    # 1. untraced: cold setup, the usual warm-up, one rep of the call
    setup = session.start(cores, None, wl)
    untraced, attempted, failed = measure(session.spark, wl, 0, rss, min_reps=1)
    if not untraced:
        raise RuntimeError("the untraced rep failed")
    untraced_wall = untraced[0].wall_s

    # 2. the same call with the event log on, in a new context of the same
    #    (warm) JVM; a resumed and a full run_and_write rep feed the
    #    runner, table and checkpoint layers
    session.restart(cores, logs / "local4", wl)
    spark = session.spark
    nightly = wl if isinstance(wl, NightlyFull) else NightlyFull(ctx)
    if nightly is not wl:
        nightly.prepare(spark)
    reps = {}

    def labelled(label, call):
        spark.sparkContext.setJobDescription(label)
        t0 = time.perf_counter()
        reps[label] = call()
        log(f"{label}: {time.perf_counter() - t0:.3f} s")
        spark.sparkContext.setJobDescription(None)

    if nightly is wl:
        # the resumed rep is also the new context's warm-up
        labelled("L:resume", lambda: nightly.resume(spark))
        labelled("traced", lambda: wl.check(wl.rep(spark)))
        reps["L:runner"] = reps["traced"]
        runner_label = "traced"
    else:
        labelled("warm", lambda: wl.check(wl.rep(spark)))
        labelled("traced", lambda: wl.check(wl.rep(spark)))
        labelled("resume#warm", lambda: nightly.resume(spark))
        labelled("L:resume", lambda: nightly.resume(spark))
        labelled("L:runner", lambda: nightly.check(nightly.rep(spark)))
        runner_label = "L:runner"
    traced_wall = reps["traced"].wall_s
    resume_rep, scan_pending_s = reps["L:resume"]
    runner_rep = reps["L:runner"]
    manifest_files = len(list((nightly.out / "manifest").glob("*.parquet")))
    done = list({id(r): r for r in (r[0] if isinstance(r, tuple) else r for r in reps.values())}.values())

    # 3. the layer sweep
    sweep = Sweep(spark, ctx)
    metrics = sweep.transcripts(nightly)
    metrics.update(sweep.envelopes(ctx.inputs))
    log(f"sweep: {sweep.best}")
    checked = done + sweep.calls

    # 4. nightly_full at local[1] for the scaling ratio, after a resumed
    #    rep: a new context re-lists files and rebuilds broadcasts on its
    #    first call
    local1 = None
    # a resumed and a full rep at local[1], each slower than at local[4]
    local1_est = 3 * traced_wall
    elapsed = time.perf_counter() - started
    if wl.name == "nightly_full" and elapsed + local1_est > RUN_LIMIT_S:
        log(f"local[1] rep skipped: {elapsed:.0f} s in, it would take about {local1_est:.0f} s more")
    elif wl.name == "nightly_full":
        session.restart(1, logs / "local1", wl)
        sc = session.spark.sparkContext
        warm, _ = wl.resume(session.spark)
        sc.setJobDescription("local1")
        r1 = wl.check(wl.rep(session.spark))
        sc.setJobDescription(None)
        checked += [warm, r1]
        local1 = r1.wall_s
        log(f"local[1]: {local1:.3f} s")
    session.spark.stop()
    session.spark = None
    for r in checked:
        for p in r.problems:
            log(f"traced run output mismatch: {p}")
    attempted += len(checked)
    failed += sum(1 for r in checked if r.problems)

    ev4 = EventLog.load(next((logs / "local4").iterdir()))
    table_bytes = gen.dir_bytes(ctx.inputs / "transcripts")
    metrics.update(run_and_write_metrics(ev4, runner_label, "L:resume", table_bytes))
    for layer, label in (("uniqueness", "L:uniq"), ("stats", "L:stats"), ("drift", "L:drift"), ("timegaps", "L:gaps")):
        metrics[f"{layer}.shuffle_bytes"] = ev4.label_stats(label).shuffle_write_bytes
    metrics["compiler.arrow_bytes"] = ev4.sql_metric(
        "L:udf", "data sent to Python workers"
    ) + ev4.sql_metric("L:udf", "data returned from Python workers")
    metrics["session.start_s"] = setup["session.start_s"]
    metrics["registry.load_s"] = setup["registry.load_s"]
    metrics["table.scan_pending_s"] = scan_pending_s
    metrics["checkpoint.manifest_files"] = manifest_files
    metrics["runner.out_bytes_per_row"] = runner_rep.out_bytes / runner_rep.rows
    metrics["resume.wall_s"] = resume_rep.wall_s
    metrics["trace.overhead_s"] = traced_wall - untraced_wall

    extra = {"untraced_wall_s": untraced_wall, "traced_wall_s": traced_wall}
    if local1 is not None:
        ev1 = EventLog.load(next((logs / "local1").iterdir()))
        extra["local1_wall_s"] = local1
        # both sides traced, so the event log's cost cancels
        extra["scaling_eff"] = (wl.rows / traced_wall) / (cores * wl.rows / local1)
        extra["local1_layers"] = run_and_write_metrics(ev1, "local1", "local1", table_bytes)
    table = layer_table(wl.name, ctx.seed, metrics, extra)
    (ctx.work / f"layers_{wl.name}_s{ctx.seed}.md").write_text(table)
    log("\n" + table)
    return metrics, attempted, failed


# The run_and_write path: the violations write is one fused job holding
# the scan, row checks, uniqueness and RI; the runner's own share (union,
# range sort, parquet write) is that job's wall time minus theirs.
FUSED = ["table.scan_s", "engine.validate_data_s", "uniqueness.s", "referential.s"]
SELF_TIMES = [
    ("table (one scan)", "table.scan_s"),
    ("engine (row checks)", "engine.validate_data_s"),
    ("checks.uniqueness", "uniqueness.s"),
    ("checks.referential", "referential.s"),
    ("runner: union + range sort + write", "runner.self_s"),
    ("runner: verdicts", "runner.verdicts_s"),
    ("checkpoint: manifest record", "checkpoint.record_s"),
    ("table: scan_pending", "table.scan_pending_s"),
    (f"checks.stats ({SWEEP_DAYS} days)", "stats.s"),
    (f"checks.drift ({SWEEP_DAYS} days)", "drift.s"),
    (f"checks.timegaps ({SWEEP_DAYS} days)", "timegaps.s"),
    (f"model.parse_envelopes ({ENVELOPE_SWEEP:,} envelopes)", "model.parse_envelopes_s"),
    (f"engine.validate_envelopes ({ENVELOPE_SWEEP:,})", "engine.validate_envelopes_s"),
    (f"compiler: JSON dispatch UDF ({ENVELOPE_SWEEP:,})", "compiler.json_udf_s"),
]


def layer_table(workload: str, seed: int, m: dict, extra: dict) -> str:
    lines = [
        f"# Per-layer table: traced `{workload}` run, seed {seed}",
        "",
        f"Input: {SIZES[workload]:,} events; untraced wall {extra['untraced_wall_s']:.3f} s, "
        f"traced wall {extra['traced_wall_s']:.3f} s, tracing overhead {m['trace.overhead_s']:+.3f} s.",
        "",
        "| layer | self time (s) |",
        "|---|---|",
    ]
    m = dict(m, **{"runner.self_s": m["runner.violations_write_s"] - sum(m[k] for k in FUSED)})
    for name, key in SELF_TIMES:
        lines.append(f"| {name} | {m[key]:.3f} |")
    flagship = [(m[k], n) for n, k in SELF_TIMES[:8]]
    top = sorted(flagship, reverse=True)[:2]
    lines += [
        "",
        "Top two layers of the run_and_write path by self time: "
        + ", ".join(f"{n} ({v:.3f} s)" for v, n in top) + ".",
        "",
        f"table.read_amplification = {m['table.read_amplification']:.2f} "
        f"({m['table.files_read']} files, {m['table.bytes_read']:,} bytes read).",
    ]
    if "scaling_eff" in extra:
        l1 = extra["local1_layers"]
        lines += [
            "",
            f"Traced local[1] wall {extra['local1_wall_s']:.3f} s vs traced local[4] {extra['traced_wall_s']:.3f} s: "
            f"scaling_eff = {extra['scaling_eff']:.3f}.",
            "",
            "| run_and_write layer | local[4] | local[1] |",
            "|---|---|---|",
        ]
        for k in ("runner.violations_write_s", "runner.verdicts_s", "checkpoint.record_s",
                  "runner.jobs", "runner.tasks", "runner.sort_shuffle_bytes", "runner.task_skew", "runner.gc_s"):
            lines.append(f"| {k} | {m[k]:.3f} | {l1[k]:.3f} |" if isinstance(m[k], float)
                         else f"| {k} | {m[k]} | {l1[k]} |")
    lines += ["", "```json", json.dumps(m, indent=1, sort_keys=True), "```", ""]
    return "\n".join(lines)
