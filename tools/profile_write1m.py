"""Phase profiler for the dense 1m-tier write — the weakest-scaling
phase of the measured rollup pipeline (r4 verdict: 2c/8c ratio 2.6-3.2
vs the chunk phase's 3.4-3.6).

Hypothesis under test: the dynamic-partition parquet write inserts a
LOCAL SORT of the whole dense fan-out by the string ``day`` partition
column (FileFormatWriter's requiredOrdering when
``spark.sql.maxConcurrentOutputFileWriters`` is 0). A ~160M-row wide
sort is memory-bandwidth-bound — exactly the resource this host shares
worst across cores — while the rest of the phase (explode, projection,
snappy encode) is CPU-bound and scales. Concurrent writers skip the
sort whenever a task's open-file count stays under the limit; each
task sees every day in the input span (conversations interleave), so
the limit must exceed the span's day count.

Usage:
    python tools/profile_write1m.py [n_convs] [min_turns]
Runs each variant at pinned 2 and 8 cores, prints one JSON line per
leg.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
INPUT_DIR = "/tmp/cx_w1m_input"

GEN = r"""
import sys
sys.path.insert(0, {repo!r})
from chronoxtract_spark.session import get_spark
from chronoxtract_spark.synth import synth_transcripts

spark = get_spark(app_name="w1m_gen")
df = synth_transcripts(spark, n_conversations={n_convs}, seed=42,
                       min_turns={min_turns}, max_turns=8192)
df.write.mode("overwrite").parquet({input_dir!r})
print("rows:", spark.read.parquet({input_dir!r}).count())
spark.stop()
"""

RUNNER = r"""
import json, shutil, sys, time, os
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from chronoxtract_spark.session import get_spark
from chronoxtract_spark.plans.rollup import RollupEngine
import chronoxtract_spark.sources.tableio as tio
from chronoxtract_spark.operators.gapfill import gap_fill_minutes
from chronoxtract_spark.synth import synth_transcripts

cpus = {cpus}
conf = {{"spark.local.dir": f"/dev/shm/spark_w1m_{{cpus}}"}}
conf.update({extra_conf!r})
spark = get_spark(app_name=f"w1m_{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=cpus, extra_conf=conf)
ev = spark.read.parquet({input_dir!r})

io = tio.ParquetBackend(spark, f"/dev/shm/cx_w1m_{{cpus}}_{{os.getpid()}}")
eng = RollupEngine(spark, io, kernel_features=True, compress=True)

# warm-up: tiny full 1m write to pay codegen/Arrow bring-up
warm = synth_transcripts(spark, 8, seed=1, min_turns=64, max_turns=256)
wobs = eng.build_observed(warm); wobs.cache()
wdays = eng._candidate_days(wobs)
wbase = gap_fill_minutes(wobs).withColumn("day", F.date_format("minute_ts", "yyyy-MM-dd"))
eng._write_with_lineage(eng.build_rollup_1m(wbase), "warm_1m", wdays, "warm")
wobs.unpersist()

observed = eng.build_observed(ev)
observed.cache()
t0 = time.time()
days = eng._candidate_days(observed)
t_plan = time.time() - t0

t0 = time.time()
# mirrors RollupEngine.run()'s 1m branch: DATE day, no resume filter
# on a fresh run (see plans/rollup.py _day_filter)
base = gap_fill_minutes(observed).withColumn(
    "day", F.to_date("minute_ts"))
tier_1m = eng.build_rollup_1m(base)
n = eng._write_with_lineage(tier_1m, "rollup_1m", days, "prof")
dt = time.time() - t0
shutil.rmtree(io.root, ignore_errors=True)
print("RESULT " + json.dumps({{"cpus": cpus, "variant": {variant!r},
    "write_1m_sec": round(dt, 2), "plan_sec": round(t_plan, 2),
    "rows": n, "days": len(days), "rows_per_sec": round(n / dt)}}))
spark.stop()
"""

VARIANTS = {
    "v0_baseline": {},
    "v1_concwriters": {"spark.sql.maxConcurrentOutputFileWriters": "128"},
}


def run(code: str, cpus: int | None = None) -> str:
    cmd = [sys.executable, "-u", "-c", code]
    if cpus:
        cmd = ["taskset", "-c", f"0-{cpus-1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=3600,
                         cwd=REPO)
    for line in out.stdout.splitlines():
        if line.startswith(("RESULT ", "rows:")):
            return line
    raise RuntimeError(f"no result:\n{out.stderr[-3000:]}")


def main():
    n_convs = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    min_turns = int(sys.argv[2]) if len(sys.argv) > 2 else 4000
    if not os.path.exists(os.path.join(INPUT_DIR, "_SUCCESS")):
        print(run(GEN.format(repo=REPO, n_convs=n_convs,
                             min_turns=min_turns, input_dir=INPUT_DIR)))
    results = []
    for variant, conf in VARIANTS.items():
        for cpus in (8, 2):
            line = run(
                RUNNER.format(repo=REPO, cpus=cpus, input_dir=INPUT_DIR,
                              extra_conf=conf, variant=variant),
                cpus=cpus,
            )
            rec = json.loads(line[len("RESULT "):])
            rec["when"] = time.strftime("%Y-%m-%d %H:%M:%S")
            results.append(rec)
            print(json.dumps(rec))
    # pair up ratios
    by = {(r["variant"], r["cpus"]): r for r in results}
    for v in VARIANTS:
        a, b = by.get((v, 2)), by.get((v, 8))
        if a and b:
            print(f"{v}: 2c {a['write_1m_sec']}s  8c {b['write_1m_sec']}s  "
                  f"ratio {a['write_1m_sec']/b['write_1m_sec']:.2f}  "
                  f"eff {a['write_1m_sec']/b['write_1m_sec']/4:.3f}")


if __name__ == "__main__":
    main()
