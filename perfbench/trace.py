"""Spans recorded from outside the engine, and the Spark event-log
parser that turns them into ``<span>.<counter>`` per-layer metrics.

A span is ``(id, name, parent, start, end)`` kept in memory. While a
span is open, every Spark job the calling thread starts runs under the
job group ``span-<id>``, so the event log attributes each job, and the
tasks of its stages, to the innermost open span. Nothing inside
``chronoxtract_spark`` changes: layer boundaries are marked by wrapping
the layers' public methods (``instrument``) and by the workload's own
spans around its calls.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time

#: counters read from the event log for every traced span
EVENT_COUNTERS = (
    "jobs",
    "tasks",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "output_bytes",
    "python_s",
    "python_sent_bytes",
)

#: Spark 4.1 SQL metric names of the Python-worker boundary
PYTHON_TIME_METRIC = "time to run Python workers"
PYTHON_SENT_METRIC = "data sent to Python workers"


class Tracer:
    """In-memory span recorder. After ``bind`` (the traced run only),
    the SparkContext's job group follows the innermost open span;
    unbound, it records wall times only."""

    def __init__(self):
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def bind(self, sc) -> None:
        self.sc = sc

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def wall(self, rec: dict) -> float:
        return rec["end"] - rec["start"]


def instrument(tracer: Tracer) -> None:
    """Wrap the layers' public methods so each call is a span. Only the
    traced run calls this; the untraced run leaves the engine as is."""
    from chronoxtract_spark.plans.rollup import RollupEngine
    from chronoxtract_spark.sources.tableio import ParquetBackend

    def wrap(cls, method, name_of):
        orig = getattr(cls, method)

        @functools.wraps(orig)
        def traced(self, *args, **kwargs):
            with tracer.span(name_of(*args, **kwargs)):
                return orig(self, *args, **kwargs)

        setattr(cls, method, traced)

    wrap(ParquetBackend, "overwrite_partitions",
         lambda df, table, *a, **k: f"tableio.overwrite.{table}")
    wrap(ParquetBackend, "append",
         lambda df, table, *a, **k: f"tableio.append.{table}")
    wrap(RollupEngine, "committed_days",
         lambda *a, **k: "tableio.read.lineage")
    wrap(RollupEngine, "run", lambda *a, **k: "rollup.run")


def _job_groups(path: str) -> tuple[dict, list]:
    """From one event-log file: ``{"stage_job": stage -> first job that
    lists it, "job_group": job -> job group, "submitted": job -> epoch
    seconds}`` and the task-end events."""
    stage_job: dict[int, int] = {}
    job_group: dict[int, str] = {}
    submitted: dict[int, float] = {}
    tasks: list[dict] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                job_group[jid] = props.get("spark.jobGroup.id")
                submitted[jid] = ev.get("Submission Time", 0) / 1e3
                for sid in ev.get("Stage IDs", []):
                    # a reused shuffle stage is listed by later jobs as
                    # skipped; its tasks ran under the first job
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
    return {"stage_job": stage_job, "job_group": job_group, "submitted": submitted}, tasks


def _task_counters(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    out = {
        "tasks": 1,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        ),
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "python_s": 0.0,
        "python_sent_bytes": 0,
    }
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name == PYTHON_TIME_METRIC:
            out["python_s"] += int(upd) / 1e3  # SQL timing metric: ms
        elif name == PYTHON_SENT_METRIC:
            out["python_sent_bytes"] += int(upd)
    return out


def event_log_file(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".") and not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
    return files[0]


def layer_table(tracer: Tracer, log_path: str) -> dict[str, dict]:
    """``{span name: {counter: value}}`` summed over every span of that
    name: ``wall_s``, ``self_s`` (wall minus the direct children's
    walls) and the event-log counters of the jobs each span started
    directly. A job without a job group, such as the ``get_spark``
    warm-ups that run before the tracer can set one, goes to the
    innermost span open when it was submitted."""
    idx, tasks = _job_groups(log_path)
    per_span: dict[int, dict] = {}

    def bucket(sid: int) -> dict:
        return per_span.setdefault(sid, {c: 0 for c in EVENT_COUNTERS})

    def span_of(jid) -> int | None:
        group = idx["job_group"].get(jid)
        if group and group.startswith("span-"):
            return int(group[5:])
        if jid is None or group:
            return None
        t = idx["submitted"][jid]
        open_ = [s for s in tracer.spans if s["start"] <= t <= s["end"]]
        # spans nest, so the innermost open one started last
        return max(open_, key=lambda s: s["start"])["id"] if open_ else None

    owner = {jid: span_of(jid) for jid in idx["job_group"]}
    for sid in owner.values():
        if sid is not None:
            bucket(sid)["jobs"] += 1
    for ev in tasks:
        sid = owner.get(idx["stage_job"].get(ev["Stage ID"]))
        if sid is None:
            continue
        acc = bucket(sid)
        for k, v in _task_counters(ev).items():
            acc[k] += v

    child_wall: dict[int, float] = {}
    for s in tracer.spans:
        if s["parent"] is not None:
            child_wall[s["parent"]] = child_wall.get(s["parent"], 0.0) + (
                s["end"] - s["start"]
            )
    table: dict[str, dict] = {}
    for s in tracer.spans:
        row = table.setdefault(
            s["name"], {"wall_s": 0.0, "self_s": 0.0, "count": 0,
                        **{c: 0 for c in EVENT_COUNTERS}}
        )
        wall = s["end"] - s["start"]
        row["wall_s"] += wall
        row["self_s"] += wall - child_wall.get(s["id"], 0.0)
        row["count"] += 1
        for k, v in per_span.get(s["id"], {}).items():
            row[k] += v
    return table
