"""Names and units of every metric the benchmark prints.

``BENCHMARK.json`` lists the same workloads, names and units; the
self-test asserts the two agree.
"""

from __future__ import annotations

#: the workloads, as ``workload.WORKLOADS`` defines them
WORKLOADS = ("live", "query")
STORED_TABLES = ("rollup_1m", "rollup_1h", "rollup_1d", "chunks_1m")
READ_OPS = ("range_1m", "features_1h", "merge_1d", "chunk_decode", "downsample")
#: the corpus queries ``query`` serves, in the order each pass runs them
QUERIES = ("ngram_jaccard", "lsh_ann", "bm25")

#: printed with tracing off; times are CPU seconds of the run's whole
#: process tree (driver, JVM, Python workers)
END_TO_END = {
    "setup_s": "s",
    "peak_nonheap_bytes": "bytes",
    "job_cpu_s": "s",
    "serve_cpu_s": "s",
}

WRITE_SPANS = tuple(f"tableio.overwrite.{t}" for t in STORED_TABLES) + (
    "tableio.append.lineage",
)
WRITE_COUNTERS = {
    "wall_s": "s",
    "self_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "gc_s": "s",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "output_bytes": "bytes",
    "python_s": "s",
    "python_sent_bytes": "bytes",
}
SPAN_METRICS = {
    "tableio.read.lineage": {"wall_s": "s", "jobs": "count"},
    "rollup.run": {"wall_s": "s", "self_s": "s"},
    "commit": {"wall_s": "s", "self_s": "s"},
    "incremental.retry": {"wall_s": "s"},
    "rollup.retention": {"wall_s": "s"},
    "session.get_spark": {"wall_s": "s", "jobs": "count", "executor_cpu_s": "s"},
    **{f"read.{op}": {"wall_s": "s", "jobs": "count", "tasks": "count"}
       for op in READ_OPS},
    "compression.decode_chunk": {"wall_s": "s"},
    **{f"query.{q}": {"wall_s": "s", "jobs": "count", "executor_cpu_s": "s"}
       for q in QUERIES},
}


def _per_layer() -> dict[str, str]:
    out = {}
    for span in WRITE_SPANS:
        for c, u in WRITE_COUNTERS.items():
            out[f"{span}.{c}"] = u
    for span, counters in SPAN_METRICS.items():
        for c, u in counters.items():
            out[f"{span}.{c}"] = u
    for t in STORED_TABLES:
        out[f"tableio.bytes.{t}"] = "bytes"
    for t in STORED_TABLES + ("lineage",):
        out[f"tableio.files.{t}"] = "count"
    return out


#: printed with tracing on
PER_LAYER = _per_layer()


def layer_values(table: dict, out: dict) -> dict[str, float]:
    """The PER_LAYER values from the span table and the storage walk."""
    vals = {}
    for name in PER_LAYER:
        if name.startswith(("tableio.bytes.", "tableio.files.")):
            _, kind, t = name.split(".", 2)
            n_files, n_bytes = out["storage"][t]
            vals[name] = n_bytes if kind == "bytes" else n_files
            continue
        span, counter = name.rsplit(".", 1)
        # a span the workload never opens (the writes and reads on
        # query, the queries on live) reads 0
        vals[name] = table[span][counter] if span in table else 0
    return vals
