"""Scaling-efficiency evidence for the north_rule criterion.

Runs the IDENTICAL flagship validation pipeline at two parallelism levels
(N and 4N local cores) on the same materialized transcripts table and
reports throughput at both plus efficiency = (T_N / T_4N) / 4. This is the
exact flow behind the numbers in BENCH/BASELINE.md.

Methodology (what it takes to make a single-box scaling measurement
honest — full analysis in BENCH/BASELINE.md):
- the input must be a MATERIALIZED multi-file table: the engine's
  contract input is a table scan (Iceberg in production); deriving the
  fixture per-action would re-run its window shuffle once per action and
  a single small parquet file serializes the scan;
- events are replicated deterministically (replica shift keeps
  conversations distinct and preserves the injected violation patterns)
  to make the run compute-bound over the ~5-8 s/action fixed driver
  overhead; no external data;
- JVM service threads stay unpinned at both levels (they cancel out;
  pinning with taskset degrades the small level far beyond the core
  ratio);
- interpret results against the host's own parallelism ceiling (a
  pure-CPU process microbench; this sandbox maxes at ~0.76 efficiency
  from 8 to 32 procs even for embarrassingly parallel work).

Usage: python tools/scaling_bench.py [sf_dir] [N] [replicas] [reps] [mode]
       (defaults: sf0.1, N=8, replicas=40 -> 4M turns, reps=3, mode=
       sequential; mode=interleaved alternates N/4N pairs so both levels
       sample the same host conditions. Use replicas=160 + reps>=4 on
       this noisy host — multi-minute starvation phases show up as 3x
       outlier reps)
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

MATERIALIZE_CODE = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from pacts_spark.session import get_spark
from pacts_spark.transcripts import transcripts_from_events
spark = get_spark(app="materialize", cores=32, shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
ev0 = spark.read.parquet("{sf_dir}/events.parquet")
R = {replicas}
ev = (
    ev0.withColumn("rep", F.explode(F.sequence(F.lit(0), F.lit(R - 1))))
    .withColumn("user_id", F.col("user_id") + F.col("rep").cast("long") * F.lit(1000000).cast("long"))
    .withColumn("event_id", F.col("event_id") + F.col("rep").cast("long") * F.lit(1000000000).cast("long"))
    .drop("rep")
)
transcripts_from_events(ev).repartition(64).write.mode("overwrite").parquet("{base}/transcripts")
(ev.filter(F.col("user_id") % 29 != 7)
   .select(F.concat(F.lit("conv-"), F.col("user_id").cast("string")).alias("conv_id"))
   .distinct().repartition(2).write.mode("overwrite").parquet("{base}/convs"))
print("MATERIALIZED", spark.read.parquet("{base}/transcripts").count(), flush=True)
spark.stop()
"""

PIPELINE_CODE = """
import sys, time, json
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from pacts_spark.session import get_spark
from pacts_spark.runner import ValidationRun
from pacts_spark.transcripts import tools_dim
from pacts_spark.engine import PactsEngine
from pacts_spark.registry import SchemaRegistry

CORES = {cores}
spark = get_spark(app="scaling", cores=CORES, shuffle_partitions=CORES * 2)
spark.sparkContext.setLogLevel("ERROR")
t = spark.read.parquet("{base}/transcripts")
convs = spark.read.parquet("{base}/convs")
reg = SchemaRegistry(domain="bees", version="v1", schema_root={repo!r} + "/schemas")
reg.load_dir({repo!r} + "/schemas")
engine = PactsEngine(reg)
tools = tools_dim(spark)
n_turns = t.count()
run = ValidationRun(engine)

def pipeline():
    # the production path (jobs/validate_job.py): violations and verdicts
    # written to disk
    run.run_and_write(spark, t, "{base}/out_" + str(CORES), conversations=convs, tools=tools)

pipeline()  # warm-up: JIT, codegen, page cache
times = []
for _ in range({reps}):
    t0 = time.perf_counter(); pipeline(); times.append(time.perf_counter() - t0)
best = min(times)
print("RESULT " + json.dumps({{"cores": CORES, "sec": round(best, 3),
    "turns_per_sec": round(n_turns / best, 1), "n_turns": n_turns,
    "reps": [round(t, 3) for t in times]}}), flush=True)
spark.stop()
"""


def run_code(code: str, timeout: int = 3000) -> dict:
    out = subprocess.run(
        [sys.executable, "-u", "-c", code], capture_output=True, text=True,
        timeout=timeout,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
        if line.startswith("MATERIALIZED"):
            return {"n": int(line.split()[1])}
    raise RuntimeError(f"no result:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    replicas = int(sys.argv[3]) if len(sys.argv) > 3 else 40
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    mode = sys.argv[5] if len(sys.argv) > 5 else "sequential"

    base = tempfile.mkdtemp(prefix="scaling_")
    try:
        run_code(MATERIALIZE_CODE.format(
            repo=str(REPO), sf_dir=sf_dir, replicas=replicas, base=base))
        if mode == "interleaved":
            # alternate the two levels so each pair samples the SAME host
            # conditions — this box has multi-minute starvation phases that
            # otherwise bias whichever level runs during one (fresh JVM +
            # warm-up + 1 timed rep per slot)
            los, his = [], []
            for _ in range(reps):
                los.append(run_code(PIPELINE_CODE.format(
                    repo=str(REPO), cores=n, base=base, reps=1)))
                his.append(run_code(PIPELINE_CODE.format(
                    repo=str(REPO), cores=4 * n, base=base, reps=1)))
            lo = min(los, key=lambda r: r["sec"])
            hi = min(his, key=lambda r: r["sec"])
            lo["reps"] = [r["sec"] for r in los]
            hi["reps"] = [r["sec"] for r in his]
            pair_effs = [round((a["sec"] / b["sec"]) / 4.0, 3)
                         for a, b in zip(los, his)]
        else:
            lo = run_code(PIPELINE_CODE.format(
                repo=str(REPO), cores=n, base=base, reps=reps))
            hi = run_code(PIPELINE_CODE.format(
                repo=str(REPO), cores=4 * n, base=base, reps=reps))
            pair_effs = None
    finally:
        shutil.rmtree(base, ignore_errors=True)
    eff = (lo["sec"] / hi["sec"]) / 4.0
    out = {"N": lo, "4N": hi, "efficiency": round(eff, 3)}
    if pair_effs is not None:
        out["pair_efficiencies"] = pair_effs
    print(json.dumps(out))
    print("Update BENCH/BASELINE.md with these numbers if they supersede "
          "the recorded run (see that file for the reporting template).")


if __name__ == "__main__":
    main()
