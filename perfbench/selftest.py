"""Self-test of the benchmark itself, on tiny inputs (a few minutes).

    python3 perfbench/selftest.py

1. ``BENCHMARK.json`` names the same workloads, and the same metrics
   with the same units, as ``metrics.py``.
2. The chunk check passes on a faithful decode and fails when one
   decoded value is flipped; the query check passes an oracle's own
   result and fails it with one value flipped.
3. In a directory holding only ``BENCHMARK.json`` and ``perfbench/``
   the benchmark exits non-zero without printing a result.
4. Each workload runs once at tiny size, ``query`` untraced and
   ``live`` traced; every metric is printed with its unit and every
   correctness check ran.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import metrics, queries  # noqa: E402

#: the checks each workload must run
CHECKS = {
    "live": {"lineage_counts", "minute_span", "chunk_roundtrip", "window_kernel",
             "merge_1d", "retry_zero"},
    "query": {f"query.{q}" for q in queries.QUERIES},
}


def spec_matches() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    if tuple(w["name"] for w in spec["workloads"]) != metrics.WORKLOADS:
        problems.append(f"BENCHMARK.json workloads differ from metrics.py: {spec['workloads']}")
    for key, want in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        got = {m["name"]: m["unit"] for m in spec[key]}
        if got != want:
            problems.append(f"BENCHMARK.json {key} differs from metrics.py: "
                            f"{sorted(set(got.items()) ^ set(want.items()))[:5]}")
    return problems


def corruption_caught() -> list[str]:
    from chronoxtract_spark import compression
    from perfbench.checks import chunk_problem

    t = 1_767_225_600 + 60 * np.arange(1440, dtype=np.int64)
    v = np.random.default_rng(0).gamma(2.0, size=1440)
    enc = compression.encode_chunk(t, v)
    ts, vals = compression.decode_chunk(enc["ts_bytes"], enc["val_bytes"])
    problems = []
    if chunk_problem((ts, vals), t, v) is not None:
        problems.append("chunk check fails a faithful decode")
    flipped = vals.copy()
    flipped[700] = np.nextafter(flipped[700], np.inf)
    if chunk_problem((ts, flipped), t, v) is None:
        problems.append("chunk check passes a decode with one flipped value")
    return problems


def query_corruption_caught(scratch: str) -> list[str]:
    import duckdb

    sf_dir = os.path.join(scratch, "corpus")
    queries.write_corpus(sf_dir, 1, 100)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    want = con.sql(queries.oracles(sf_dir)["bm25"]).df()
    con.close()
    problems = []
    if queries.compare(want.copy(), want):
        problems.append("query check fails the oracle's own result")
    flipped = want.copy()
    flipped.loc[0, "score"] = np.nextafter(flipped.loc[0, "score"], np.inf)
    if not queries.compare(flipped, want):
        problems.append("query check passes a bm25 result with one flipped score")
    return problems


def bare_directory_fails(scratch: str) -> list[str]:
    bare = os.path.join(scratch, "bare")
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "live", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, capture_output=True, text=True, timeout=180,
    )
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-200:]!r}"]
    return []


def tiny_run(workload: str, trace: int) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if proc.returncode != 0:
        return [f"{workload}: exit {proc.returncode}: {proc.stderr[-1500:]}"]
    lines = proc.stdout.splitlines()
    result = json.loads(lines[-1])
    artifact = json.loads(lines[-2].split(" ", 1)[1])
    want = metrics.PER_LAYER if trace else metrics.END_TO_END
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{workload}: result keys {sorted(result)}")
    got = {k: m.get("unit") for k, m in result["metrics"].items()}
    if got != want:
        problems.append(f"{workload}: metrics differ: {sorted(set(got.items()) ^ set(want.items()))[:5]}")
    for k, m in result["metrics"].items():
        if not isinstance(m.get("value"), (int, float)):
            problems.append(f"{workload}: {k} has no numeric value")
    ran = set(artifact["checks"])
    if not CHECKS[workload] <= ran:
        problems.append(f"{workload}: checks not run: {sorted(CHECKS[workload] - ran)}")
    print(f"  {workload} (trace {trace}): correct={result['correct']} "
          f"attempted={result['attempted']} failed={result['failed']} "
          f"checks={ {k: len(v) for k, v in artifact['checks'].items()} }", flush=True)
    return problems


def main() -> int:
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="selftest-", dir=tmp_root)
    try:
        steps = [
            ("BENCHMARK.json matches metrics.py", spec_matches),
            ("a flipped decoded value fails the chunk check", corruption_caught),
            ("a flipped query value fails the query check", lambda: query_corruption_caught(scratch)),
            ("a directory without the engine exits non-zero", lambda: bare_directory_fails(scratch)),
            ("query emits every end-to-end metric", lambda: tiny_run("query", 0)),
            ("live emits every per-layer metric", lambda: tiny_run("live", 1)),
        ]
        failed = 0
        for name, step in steps:
            problems = step()
            print(f"{'ok  ' if not problems else 'FAIL'} {name}", flush=True)
            for p in problems:
                print(f"     {p}")
            failed += bool(problems)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
