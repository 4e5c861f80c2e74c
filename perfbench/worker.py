"""One benchmark run in a fresh process: session set-up, the workload,
the correctness checks and, when traced, the per-layer table.

Started by ``run.py`` with the run's temp dir as its working directory
and the session environment already set. Usage:

    python3 worker.py CONFIG.json RESULT.json
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np


def check_python_worker(spark, root: str) -> str:
    """Run one Python worker and have it import ``chronoxtract_spark``;
    fail loudly unless it imports the checkout's copy."""
    import pandas as pd

    def probe(batches):
        import chronoxtract_spark

        for _ in batches:
            yield pd.DataFrame({"path": [os.path.dirname(chronoxtract_spark.__file__)]})

    path = spark.range(0, 1, 1, 1).mapInPandas(probe, "path string").collect()[0][0]
    want = os.path.join(root, "chronoxtract_spark")
    if os.path.realpath(path) != os.path.realpath(want):
        raise RuntimeError(f"Python workers import {path}, not {want}")
    return path


def end_to_end(out: dict, setup_cpu_s: float) -> dict:
    """The printed metrics (but memory, which ``run.py`` samples): CPU
    seconds of the whole process tree, which hypervisor steal inflates
    far less than wall seconds."""
    return {
        "setup_s": setup_cpu_s,
        "job_cpu_s": out["job_cpu_s"],
        "serve_cpu_s": out["serve_cpu_s"],
    }


def wall_clock(out: dict, setup_s: float) -> dict:
    """The same run in wall seconds, recorded as context."""
    ops = [s for samples in out["serve_s"].values() for s in samples]
    return {
        "setup_s": setup_s,
        "setup_and_job_s": setup_s + out["job_s"],
        "job_s": out["job_s"],
        "serve_s.p50": statistics.median(ops) if ops else float("nan"),
    }


def main(config_path: str, result_path: str) -> None:
    marks = {"start": time.time()}
    with open(config_path) as f:
        cfg = json.load(f)
    root = cfg["root"]
    sys.path.insert(0, root)

    import bench  # the frozen harness: host-noise readings only

    from perfbench import checks, metrics, queries, trace, workload

    # steal and system share over the run; bench.py's canary is not
    # run, as its 1.5-2.5 s would come out of the run budget
    stat0 = bench.read_cpu_stat()

    tracer = trace.Tracer()
    conf = {}
    if cfg["trace"]:
        trace.instrument(tracer)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath("eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
        os.makedirs("eventlog")

    from chronoxtract_spark.session import get_spark

    cpu0 = workload.tree_cpu_s()
    with tracer.span("session.get_spark") as s:
        spark = get_spark(
            app_name=f"perfbench_{cfg['workload']}",
            master=f"local[{cfg['cpus']}]",
            shuffle_partitions=cfg["cpus"],
            extra_conf=conf,
        )
    setup_s = tracer.wall(s)
    setup_cpu_s = workload.tree_cpu_s() - cpu0
    if cfg["trace"]:
        tracer.bind(spark.sparkContext)
    marks["session"] = time.time()

    from chronoxtract_spark.sources.tableio import ParquetBackend

    # the worker import check and the input generation overlap; both
    # end before anything is timed
    sizes = {**workload.WORKLOADS[cfg["workload"]], **(workload.TINY if cfg["tiny"] else {})}
    rows = spans = None
    with ThreadPoolExecutor(1) as pool:
        check = pool.submit(check_python_worker, spark, root)
        if sizes["serve"] == "reads":
            rows, spans = workload.transcripts(spark, sizes, cfg["seed"])
        else:
            queries.write_corpus(os.path.abspath(workload.CORPUS_DIR), cfg["seed"], sizes["docs"])
        worker_path = check.result()
    marks["inputs"] = time.time()
    io = ParquetBackend(spark, os.path.abspath("warehouse"))
    out = workload.run(spark, sizes, cfg["seed"], cfg["seconds"], io, tracer, rows)
    t_checks = time.perf_counter()
    problems = checks.run_all(io.root, out, spans, np.random.default_rng(cfg["seed"] + 7))
    checks_s = time.perf_counter() - t_checks
    marks["checks"] = time.time()

    session_conf = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.master",
            "spark.driver.memory",
            "spark.driver.extraJavaOptions",
            "spark.sql.shuffle.partitions",
            "spark.sql.parquet.compression.codec",
            "spark.sql.maxConcurrentOutputFileWriters",
        )
    }
    if cfg["trace"]:
        spark.stop()  # flushes the event log
    marks["stop"] = time.time()

    n_ops = sum(len(v) for v in out["serve_s"].values())
    failed_checks = [k for k, v in problems.items() if v]
    # on live: the commit, its retry and retention
    n_writes = 3 if sizes["serve"] == "reads" else 0
    attempted = n_writes + n_ops + len(out["op_errors"]) + len(problems)
    failed = len(out["op_errors"]) + len(failed_checks)
    result = {
        "workload": cfg["workload"],
        "seed": cfg["seed"],
        "trace": cfg["trace"],
        "attempted": attempted,
        "failed": failed,
        "failed_ops_ratio": failed / attempted,
        "end_to_end": end_to_end(out, setup_cpu_s),
        "wall_clock": wall_clock(out, setup_s),
        "checks": problems,
        "checks_s": checks_s,
        "op_errors": out["op_errors"],
        "counts": {
            "input_rows": None if spans is None else int(spans["rows"].sum()),
            "commit_points": out.get("commit_points"),
            "retry": out["retry_counts"],
            "expired_1m_days": len(out.get("expired", {}).get("rollup_1m", [])),
            "serve_ops": {k: len(v) for k, v in out["serve_s"].items()},
        },
        "serve_s": out["serve_s"],
        "serve_cpu_s_passes": out["serve_cpu_s_passes"],
        "phase_s": {
            "job": out["job_s"],
            "retry": out.get("retry_s"),
            "retention": out.get("retention_s"),
        },
        "storage": out["storage"],
        "session": {**session_conf, "worker_chronoxtract": worker_path},
        "host": {
            "cpu_pressure": bench.cpu_pressure(stat0, bench.read_cpu_stat()),
        },
        "spans": tracer.spans,
        "marks": marks,
    }
    if cfg["trace"]:
        table = trace.layer_table(tracer, trace.event_log_file("eventlog"))
        result["layers"] = table
        result["per_layer"] = metrics.layer_values(table, out)
    with open(result_path, "w") as f:
        json.dump(result, f, default=str)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
    # the result is written: skip interpreter teardown and, untraced,
    # the graceful stop of the session (about a second); the JVM leaves
    # when its stdin closes, and run.py stops whatever remains of the
    # process group
    sys.stdout.flush()
    os._exit(0)
