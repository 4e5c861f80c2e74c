"""The measured lifecycle of the two workloads (see ``WORKLOADS``).

``live``:

1. one commit of the seeded transcripts into an empty warehouse
   through ``incremental_rollup``, the first rollup of the session;
   the same commit is then retried once and must write 0 rows;
2. a sliding ``apply_retention`` that expires the first 1m day;
3. the read mix ``range_1m``, ``features_1h``, ``merge_1d``,
   ``chunk_decode`` and ``downsample``.

``query``: the corpus queries of ``queries.QUERIES`` over a seeded
corpus.

Either serves in a closed loop with one client: passes over its
operations for at least ``seconds``, each operation timed on its own.
The job is the commit on ``live`` and the first pass of the queries,
cold, on ``query``.
"""

from __future__ import annotations

import datetime
import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chronoxtract_spark import compression
from chronoxtract_spark import functions as cxf
from chronoxtract_spark.operators.downsample import lttb_downsample, m4_downsample
from chronoxtract_spark.plans.rollup import CHUNK_TABLE, LINEAGE_TABLE, RollupEngine
from chronoxtract_spark.sources.tableio import ParquetBackend
from chronoxtract_spark.streaming.incremental import incremental_rollup
from chronoxtract_spark.synth import synth_transcripts

from perfbench import queries
from perfbench.metrics import READ_OPS, STORED_TABLES
from perfbench.proc import session_pids, stat

START = datetime.date(2026, 1, 1)

#: ``live``'s conversations come from ``synth_transcripts`` (Zipf
#: lengths, starts spread over 30 days), cut at the end of day ``days``;
#: whole conversations are taken in id order until their minute spans
#: add up to ``minutes``, so every seed commits the same number of 1m
#: points. ``docs`` is the size of ``query``'s corpus.
WORKLOADS = {
    # a serving process: three recent days through the incremental API,
    # lineage through observe, the retry answered from lineage alone,
    # then the reads that follow a commit
    "live": dict(days=3, minutes=2500, serve="reads"),
    # a batch job: each corpus query once, cold, as a job runs it
    "query": dict(docs=500, serve="queries"),
}

#: the self-test's sizes: every operation runs, on tiny inputs
TINY = dict(minutes=1000, docs=100)
#: where ``query``'s corpus is written, under the run's temp dir
CORPUS_DIR = "corpus"


def _day(i: int) -> datetime.date:
    return START + datetime.timedelta(days=i)


def transcripts(spark: SparkSession, cfg: dict, seed: int) -> tuple[DataFrame, pd.DataFrame]:
    """The workload's input, and per kept conversation its first and
    last minute (epoch seconds) and row count. The synthetic pool
    starts at about twice the conversations the minute budget needs, so
    small ones are left to top it up; any that would overshoot the
    budget are skipped. A pool that falls short is regenerated twice as
    large. The pool is generated in one Spark job and picked from on
    the driver; the kept rows go back to Spark as a local relation."""
    n = cfg["minutes"] * 30 // (cfg["days"] * 10)
    while True:
        sdf = synth_transcripts(spark, n, seed=seed).filter(
            F.col("ts") < F.lit(_day(cfg["days"])).cast("timestamp")
        )
        pool = sdf.toPandas()
        minute = (pd.to_datetime(pool["ts"]) - pd.Timestamp(0)) // pd.Timedelta(minutes=1) * 60
        spans = pool.assign(m=minute).groupby("conv_id")["m"].agg(
            first="min", last="max", rows="size"
        ).reset_index()
        keep, total = [], 0
        for i, minutes in enumerate((spans["last"] - spans["first"]) // 60 + 1):
            if total + minutes <= cfg["minutes"]:
                keep.append(i)
                total += minutes
        if total >= 0.95 * cfg["minutes"]:
            break
        n *= 2
    spans = spans.iloc[keep].reset_index(drop=True)
    rows = pool[pool["conv_id"].isin(spans["conv_id"])].reset_index(drop=True)
    return spark.createDataFrame(rows, schema=sdf.schema), spans


def read_table(root: str, table: str, columns=None, convs=None) -> pd.DataFrame:
    """One warehouse table read with pyarrow (no Spark job), ``day`` as
    'yyyy-MM-dd' text."""
    filters = [("conv_id", "in", sorted(convs))] if convs is not None else None
    pdf = pq.read_table(os.path.join(root, table), columns=columns,
                        filters=filters, partitioning="hive").to_pandas()
    if "day" in pdf:
        pdf["day"] = pdf["day"].astype(str)
    return pdf


#: HotSpot's JIT compiler threads (``comm`` is cut at 15 characters).
#: How much they compile, and when, depends on timing; their CPU is left
#: out so that a phase is charged for its own work only. ``run.py``
#: fixes their number, so none exits with uncounted time.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process's session (the driver,
    the JVM and the Python workers, exited threads and reaped children
    included), less the JIT compiler threads. Time the hypervisor
    steals is not in it, unlike wall time."""
    ticks = 0
    for pid in session_pids(os.getsid(0)):
        try:
            ticks += sum(int(x) for x in stat(f"/proc/{pid}/stat")[11:15])  # utime..cstime
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if f.read().startswith(JIT_THREADS):
                        ticks -= sum(int(x) for x in stat(f"/proc/{pid}/task/{tid}/stat")[11:13])
        except OSError:  # the process or thread ended while being read
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def table_bytes(io: ParquetBackend, table: str) -> tuple[int, int]:
    """(data files, bytes) of one warehouse table from a directory walk."""
    n = b = 0
    for dirpath, _dirs, files in os.walk(os.path.join(io.root, table)):
        for f in files:
            if f.startswith(("_", ".")) or f.endswith(".crc"):
                continue
            n += 1
            b += os.stat(os.path.join(dirpath, f)).st_size
    return n, b


def surviving_days(root: str, cutoff: datetime.date) -> dict[str, list]:
    """``{conversation: its days}`` from ``cutoff`` on, in order."""
    days = read_table(root, "rollup_1d", columns=["conv_id", "day"])
    by_conv: dict[str, list] = {}
    for conv, day in days[days["day"] >= cutoff.isoformat()].itertuples(index=False):
        by_conv.setdefault(conv, []).append(datetime.date.fromisoformat(day))
    return {c: sorted(d) for c, d in sorted(by_conv.items())}


class ReadMix:
    """The five read operations against one warehouse; targets are
    drawn from ``rng`` over (conversation, day) pairs whose 1m rows
    survive retention."""

    def __init__(self, io: ParquetBackend, tracer, rng, cutoff: datetime.date):
        self.io, self.tracer, self.rng = io, tracer, rng
        self.by_conv = surviving_days(io.root, cutoff)
        self.convs = sorted(self.by_conv)
        self.multi = [c for c in self.convs if len(self.by_conv[c]) >= 2] or self.convs
        self.results: list[tuple[str, dict, object]] = []

    def _conv_range(self, conv: str, max_days: int):
        days = self.by_conv[conv]
        i = int(self.rng.integers(len(days)))
        j = min(len(days) - 1, i + max_days - 1)
        return days[i], days[j]

    def _pick(self, pool, k):
        return sorted(self.rng.choice(pool, size=min(k, len(pool)), replace=False).tolist())

    def _tier(self, table, convs, d0, d1):
        return self.io.read(table).filter(
            F.col("conv_id").isin(convs)
            & (F.col("day") >= F.lit(d0))
            & (F.col("day") <= F.lit(d1))
        )

    def range_1m(self):
        conv = self._pick(self.multi, 1)[0]
        d0, d1 = self._conv_range(conv, 3)
        pdf = self._tier("rollup_1m", [conv], d0, d1).select(
            "conv_id", "minute_ts", "rate").toPandas()
        return {"convs": [conv], "d0": d0, "d1": d1}, pdf

    def features_1h(self):
        convs = self._pick(self.convs, 3)
        d0 = min(self.by_conv[c][0] for c in convs)
        d1 = d0 + datetime.timedelta(days=6)
        pdf = self._tier("rollup_1h", convs, d0, d1).toPandas()
        return {"convs": convs, "d0": d0, "d1": d1}, pdf

    def merge_1d(self):
        convs = self._pick(self.multi, 3)
        d0 = min(self.by_conv[c][0] for c in convs)
        d1 = max(self.by_conv[c][-1] for c in convs)
        state = self._tier("rollup_1h", convs, d0, d1).groupBy("conv_id").agg(
            F.sum("n").alias("n"), F.sum("s1").alias("s1"),
            F.sum("s2").alias("s2"), F.sum("s3").alias("s3"),
            F.sum("s4").alias("s4"), F.min("min").alias("min"),
            F.max("max").alias("max"),
        )
        moments = cxf.moments_from_state()
        pdf = state.select(
            "conv_id", "n", *[c.alias(k) for k, c in moments.items()]
        ).toPandas()
        return {"convs": convs, "d0": d0, "d1": d1}, pdf

    def chunk_decode(self):
        conv = self._pick(self.convs, 1)[0]
        day = self.by_conv[conv][int(self.rng.integers(len(self.by_conv[conv])))]
        rows = (
            self.io.read(CHUNK_TABLE)
            .filter((F.col("conv_id") == conv) & (F.col("day") == F.lit(day)))
            .select("ts_bytes", "val_bytes")
            .collect()
        )
        with self.tracer.span("compression.decode_chunk"):
            decoded = [compression.decode_chunk(r[0], r[1]) for r in rows]
        return {"convs": [conv], "d0": day, "d1": day}, decoded

    def downsample(self):
        conv = self._pick(self.multi, 1)[0]
        d0, d1 = self._conv_range(conv, 3)
        base = self._tier("rollup_1m", [conv], d0, d1)
        m4 = m4_downsample(base, "conv_id", "minute_ts", "rate", 3600).toPandas()
        lttb = lttb_downsample(base, "conv_id", "minute_ts", "rate", 64).toPandas()
        return {"convs": [conv], "d0": d0, "d1": d1}, (m4, lttb)

    def run_op(self, name: str) -> float:
        t0 = time.perf_counter()
        with self.tracer.span(f"read.{name}"):
            target, out = getattr(self, name)()
        dt = time.perf_counter() - t0
        self.results.append((name, target, out))
        return dt


class QueryMix:
    """The corpus queries over a seeded corpus in ``sf_dir``; each
    query's latest result is kept for its check."""

    def __init__(self, spark: SparkSession, tracer, sf_dir: str):
        self.spark, self.tracer, self.sf_dir = spark, tracer, sf_dir
        self.fns = queries.builders()
        self.results: dict[str, pd.DataFrame] = {}

    def run_op(self, name: str) -> float:
        t0 = time.perf_counter()
        with self.tracer.span(f"query.{name}"):
            self.results[name] = self.fns[name](self.spark, self.sf_dir).toPandas()
        return time.perf_counter() - t0


def commit_and_expire(spark: SparkSession, io: ParquetBackend, tracer, rows: DataFrame,
                      seed: int, out: dict) -> datetime.date:
    """``live``'s writes: the commit, its retry and retention. Returns
    the retention cutoff."""
    eng = RollupEngine(spark, io)
    snapshot = f"seed-{seed}"
    cpu0 = tree_cpu_s()
    with tracer.span("commit") as s:
        counts = incremental_rollup(eng, rows, rows, snapshot)
    out["job_s"] = tracer.wall(s)
    out["job_cpu_s"] = tree_cpu_s() - cpu0
    out["commit_points"] = sum(counts.values())
    # the same commit again: lineage must make it a no-op
    with tracer.span("incremental.retry") as s:
        out["retry_counts"] = incremental_rollup(eng, rows, rows, snapshot)
    out["retry_s"] = tracer.wall(s)

    cutoff = _day(1)
    with tracer.span("rollup.retention") as s:
        out["expired"] = eng.apply_retention({"rollup_1m": cutoff.isoformat()})
    out["retention_s"] = tracer.wall(s)
    return cutoff


def run(spark: SparkSession, cfg: dict, seed: int, seconds: float, io: ParquetBackend,
        tracer, rows: DataFrame | None) -> dict:
    """Run the workload once on its input: ``rows`` on ``live``, the
    corpus in ``CORPUS_DIR`` on ``query``. Returns the measurements and
    the state the correctness checks need."""
    out: dict = {"op_errors": [], "retry_counts": {}}
    if cfg["serve"] == "reads":
        cutoff = commit_and_expire(spark, io, tracer, rows, seed, out)
        mix, ops, kind = ReadMix(io, tracer, np.random.default_rng(seed), cutoff), READ_OPS, "read"
    else:
        cutoff = None
        mix = QueryMix(spark, tracer, os.path.abspath(CORPUS_DIR))
        ops, kind = queries.QUERIES, "query"
    out["serve_s"] = {op: [] for op in ops}

    def one_pass() -> float:
        """CPU seconds of one pass over ``ops``."""
        cpu0 = tree_cpu_s()
        for op in ops:
            try:
                out["serve_s"][op].append(mix.run_op(op))
            except Exception as e:  # a failed operation is counted, the loop goes on
                out["op_errors"].append(f"{kind}.{op}: {type(e).__name__}: {e}"[:300])
        return tree_cpu_s() - cpu0

    passes = []
    t_end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < t_end:
        passes.append(one_pass())
    out["serve_cpu_s_passes"] = [c / len(ops) for c in passes]
    out["serve_cpu_s"] = statistics.median(passes) / len(ops)
    if cfg["serve"] == "queries":
        # a batch job runs each query once: the job is the first pass
        out["job_s"] = sum(s[0] for s in out["serve_s"].values() if s)
        out["job_cpu_s"] = passes[0]

    out["storage"] = {
        t: table_bytes(io, t) for t in STORED_TABLES + (LINEAGE_TABLE,)
    }
    out["state"] = {"mix": mix, "cutoff": cutoff}
    return out
