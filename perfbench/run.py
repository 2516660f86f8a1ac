"""Benchmark of the production validation path.

Usage (from the repository root):

    python3 perfbench/run.py --workload nightly_full --seed 1 --seconds 15 --trace 0

Each run is one process with one Spark session at ``local[4]``. It
generates the seed's inputs (cached under ``perfbench/_work``), starts the
session (timed as ``setup_s``), warms up, then calls the workload in a
closed loop until ``--seconds`` of rep time have passed (at least three
reps), checking every rep's outputs against the DuckDB twins. Stdout
holds a line with the timed reps' count and wall times, then, last, one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``attempted`` counts calls (warm-up and timed reps, or a traced run's
calls), ``failed`` those that raised or whose output differed from the
expected one. The object is printed whenever the program could be
started, with ``correct`` false and the metrics measured so far if a
call failed; the exit code is then 1.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
reps with Spark's event log on, then the per-layer sweep (see
``layers.py``), and reports the per-layer metrics. Nothing inside
``pacts_spark`` is instrumented: calls are timed here, labelled with a
Spark job description, and attributed from the event log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
CORES = 4
MIN_REPS = 3


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _warm_worker(pdf):
    # runs in a Python worker: proves pacts_spark imports there
    import pacts_spark.oracle  # noqa: F401

    return pdf


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


@dataclass
class Ctx:
    workload: str
    seed: int
    work: Path
    inputs: Path
    entry: object
    engine: object = None


class Session:
    """One driver JVM for the whole run; ``restart`` swaps the
    SparkContext (new master or event-log setting) inside it."""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.spark = None

    def start(self, cores: int, event_log: Path | None, wl) -> dict:
        from pyspark.sql import functions as F

        from pacts_spark.engine import PactsEngine
        from pacts_spark.session import get_spark

        tmp = self.ctx.work / "tmp"
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": str(tmp),
            # a fixed-size heap, touched at start: no resizing decisions and
            # no first-touch page faults between reps, and the peak RSS no
            # longer depends on how far the old generation happened to grow
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
        }
        # explicit either way: a restarted context inherits the JVM's
        # launch-time settings
        extra["spark.eventLog.enabled"] = str(event_log is not None).lower()
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            extra.update(
                {
                    "spark.eventLog.dir": event_log.as_uri(),
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t = {}
        t0 = time.perf_counter()
        self.spark = get_spark(app=f"perfbench-{self.ctx.workload}", cores=cores, extra=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        t["session.start_s"] = time.perf_counter() - t0
        t1 = time.perf_counter()
        self.ctx.engine = PactsEngine(self.ctx.entry._registry())
        t["registry.load_s"] = time.perf_counter() - t1
        wl.prepare(self.spark)
        wl.compile(self.spark)
        if wl.python_workers:
            self.spark.range(4096).groupBy(F.col("id") % (4 * cores)).applyInPandas(
                _warm_worker, "id long"
            ).count()
        t["setup_s"] = time.perf_counter() - t0
        return t

    def restart(self, cores: int, event_log: Path | None, wl) -> dict:
        self.spark.stop()
        return self.start(cores, event_log, wl)

    def stop(self) -> None:
        """Stops the session, then the driver JVM and every process under
        it, and waits until each has ended."""
        import procs
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        kids = procs.descendants(os.getpid())
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            if gateway is not None:
                proc = getattr(gateway, "proc", None)
                gateway.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the JVM exits on EOF
                    try:
                        proc.wait(timeout=30)
                    except Exception:  # noqa: BLE001 — fall through to the kill below
                        proc.kill()
                        proc.wait()
            procs.reap(kids)


def measure(spark, wl, seconds: float, rss, min_reps: int = MIN_REPS):
    """Warm-up reps, then timed reps until ``seconds`` of rep time and at
    least ``min_reps`` reps. Every rep's outputs are checked; a rep that
    raises or mismatches counts as failed."""
    attempted = failed = 0
    timed = []
    streak = 0

    def one(tag: str):
        nonlocal attempted, failed, streak
        attempted += 1
        rss.resume(jvm_pid())
        try:
            rep = wl.rep(spark)
        except Exception as exc:  # noqa: BLE001 — a failing call is a measured outcome
            log(f"{tag} raised {type(exc).__name__}: {str(exc)[:300]}")
            failed += 1
            streak += 1
            return None
        finally:
            rss.pause()
        try:
            wl.check(rep)
        except Exception as exc:  # noqa: BLE001 — an uncheckable output is a failed rep
            rep.problems = [f"check raised {type(exc).__name__}: {str(exc)[:300]}"]
        if rep.problems:
            log(f"{tag} output mismatch: {rep.problems}")
            failed += 1
        streak = 0
        return rep

    for rep in wl.warm(spark):
        attempted += 1
        log(f"{wl.name} warm-up: {rep.wall_s:.3f} s")
        if rep.problems:
            log(f"warm-up output mismatch: {rep.problems}")
            failed += 1
    rss.reset()  # peak over the timed reps only
    spent = 0.0
    while (spent < seconds or len(timed) < min_reps) and streak < 3:
        rep = one(f"rep{len(timed)}")
        if rep is None:
            continue
        spent += rep.wall_s
        timed.append(rep)
        log(f"{wl.name} rep {len(timed)}: {rep.wall_s:.3f} s")
    return timed, attempted, failed


def end_to_end(timed, setup: dict, rss) -> dict:
    """End-to-end metric values; without a timed rep, only set-up's."""
    out = {"setup_s": setup["setup_s"]}
    if timed:
        wall = statistics.median(r.wall_s for r in timed)
        out.update(rows_per_s=timed[0].rows / wall, wall_s=wall, peak_rss_mb=rss.peak_mb)
    return out


def report(section: str, values: dict) -> dict:
    """The result's ``metrics``: the values of the metrics ``BENCHMARK.json``
    lists under ``section``, each with its unit there."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())[section]
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec if m["name"] in values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.perf_counter()

    if not ((ROOT / "pacts_spark" / "__init__.py").is_file() and (ROOT / "__spark_entry__.py").is_file()):
        log(f"program sources (pacts_spark/, __spark_entry__.py) not found under {ROOT}")
        return 2
    sys.path.insert(0, str(HERE))
    import procs

    stray = procs.wait_no_jvm(30)
    if stray:
        log(f"refusing to start: JVM(s) {stray} already running would skew the timings")
        return 3

    sys.path.insert(0, str(ROOT))
    shutil.rmtree(WORK / "tmp", ignore_errors=True)  # what a killed run left
    (WORK / "tmp").mkdir(parents=True)
    # Python workers are forked by the driver JVM, which inherits this
    # environment: they import pacts_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "tmp")
    os.environ["TMPDIR"] = str(WORK / "tmp")

    import __spark_entry__ as entry
    import gen
    from workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}")
        return 2
    rss = procs.PeakRss()
    session = None
    values: dict = {}
    attempted = failed = 0
    try:
        t0 = time.perf_counter()
        inputs = gen.build_inputs(WORK, args.seed, SIZES[args.workload], entry.TRANSCRIPTS_SQL, entry.CONVS_SQL)
        ctx = Ctx(args.workload, args.seed, WORK, inputs, entry)
        wl = WORKLOADS[args.workload](ctx)
        log(f"inputs and expected outputs ready in {time.perf_counter() - t0:.1f} s")
        session = Session(ctx)
        if args.trace:
            import layers

            values, attempted, failed = layers.traced_run(session, ctx, wl, rss, measure, log, CORES, started)
        else:
            setup = session.start(CORES, None, wl)
            log(f"setup {setup}")
            values = end_to_end([], setup, rss)  # what is reported if measuring raises
            timed, attempted, failed = measure(session.spark, wl, args.seconds, rss)
            values = end_to_end(timed, setup, rss)
            walls = " ".join(f"{r.wall_s:.3f}" for r in timed)
            print(f"perfbench: {len(timed)} timed reps, wall_s {walls}", flush=True)
    except Exception:  # noqa: BLE001 — reported as a failed attempt in the result
        log(traceback.format_exc())
        attempted += 1
        failed += 1
    finally:
        if session is not None:
            session.stop()
        rss.close()
        shutil.rmtree(WORK / "out", ignore_errors=True)
        section = "per_layer" if args.trace else "end_to_end"
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": report(section, values),
        }
        print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
