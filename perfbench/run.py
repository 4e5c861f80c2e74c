"""Benchmark entry point: one run of one workload in a fresh process.

    python3 perfbench/run.py --workload live --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run's session gets a private temp
dir under ``.perfbench_tmp/`` as its working directory (warehouse,
Spark local dirs, event log, JVM crash dumps), removed afterwards. The
driver heap is sized from ``MemTotal`` and handed to ``get_spark``
through ``SPARK_DRIVER_MEM``; workers see the checkout on
``PYTHONPATH``. The memory of the whole process tree (Python driver,
JVM, Python workers) is sampled from ``/proc`` while the run lasts.

The last stdout line is the result: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it holds the
whole run record, prefixed ``perfbench-artifact``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.proc import session_pids  # noqa: E402

#: a run that outlives this is killed and reported as failed
RUN_TIMEOUT_S = 170
#: ``get_spark`` runs its Python-worker and JVM warm-ups as shipped. The
#: third, a synthetic full rollup, is skipped to fit the run budget
#: (recorded in every artifact)
SESSION_ENV = {"SPARK_GRAFT_NO_DEEP_WARMUP": "1"}


def driver_heap_mib() -> int:
    """An eighth of physical memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(max(kib // 1024 // 8, 1024), 4096)


def session_env(tmp: str) -> dict:
    env = dict(os.environ)
    env.update(SESSION_ENV)
    env.update({
        "SPARK_DRIVER_MEM": f"{driver_heap_mib()}m",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": " ".join(
            # no hsperfdata file in the system temp dir; a fixed set of
            # JIT compiler threads (see workload.tree_cpu_s)
            p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                        "-XX:-UseDynamicNumberOfCompilerThreads") if p
        ),
    })
    return env


def _pss_kib(pid: int, heap_kib: int) -> tuple[int, int]:
    """(proportional set size, the part of it in the Java heap) of one
    process. PSS counts the pages a forked Python worker shares with its
    daemon once, not once per process. The Java heap is the JVM's one
    private anonymous mapping of about the heap's size; ``-Xms`` with
    ``-XX:+AlwaysPreTouch`` keeps all of it resident from the start."""
    total = heap = size = 0
    anon_rw = False
    with open(f"/proc/{pid}/comm") as f:
        java = f.read().strip() == "java"
    # one read of a JVM's smaps walks its whole heap (~30 ms)
    with open(f"/proc/{pid}/smaps" if java else f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line[0] in "0123456789abcdef":  # a mapping's header
                parts = line.split()
                anon_rw = java and parts[1].startswith("rw") and len(parts) == 5
            elif line.startswith("Size:"):
                size = int(line.split()[1])
            elif line.startswith("Pss:"):
                pss = int(line.split()[1])
                total += pss
                if anon_rw and size >= 0.9 * heap_kib:
                    heap = max(heap, pss)
    return total, heap


def _memory_bytes(pids: list[int], heap_kib: int) -> tuple[int, int]:
    """(summed PSS less the Java heap, summed PSS) of ``pids``."""
    total = heap = 0
    for pid in pids:
        try:
            t, h = _pss_kib(pid, heap_kib)
        except OSError:  # the process ended while being read
            continue
        total += t
        heap += h
    return (total - heap) * 1024, total * 1024


def run_worker(cfg: dict, tmp: str) -> tuple[int, tuple[int, int]]:
    """Run the worker in its own session; returns the exit code and the
    peaks of (memory outside the Java heap, all memory)."""
    with open(os.path.join(tmp, "config.json"), "w") as f:
        json.dump(cfg, f)
    log = open(os.path.join(tmp, "worker.log"), "w")
    _become_reaper()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), "config.json", "result.json"],
        cwd=tmp, env=cfg["env"], stdout=log, stderr=subprocess.STDOUT,
        start_new_session=True,
    )
    peak = (0, 0)
    heap_kib = driver_heap_mib() * 1024
    deadline = time.monotonic() + RUN_TIMEOUT_S
    next_sample = 0.0
    try:
        while proc.poll() is None:
            now = time.monotonic()
            if now >= next_sample:
                mem = _memory_bytes(session_pids(proc.pid), heap_kib)
                peak = (max(peak[0], mem[0]), max(peak[1], mem[1]))
                next_sample = now + 1.0
            if now > deadline:
                print(f"run exceeded {RUN_TIMEOUT_S}s; killed", file=sys.stderr)
                proc.kill()
                proc.wait()
                return -1, peak
            time.sleep(0.05)
        return proc.returncode, peak
    finally:
        log.close()
        # the JVM and Python workers leave with the worker; make sure
        _stop_session(proc.pid)
        proc.wait()


def _become_reaper() -> None:
    """Adopt the worker's orphans. The JVM and the Python workers
    outlive the worker; as this process's children they are reaped in
    ``_stop_session`` as soon as they end, not whenever the system's
    init gets to them (about 1.5 s later)."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_session(sid: int) -> None:
    """Kill every process left in the session, and wait for them. The
    worker has written its result by then, so nothing needs a graceful
    shutdown. Each is signalled by pid: the Python worker daemon runs
    in a process group of its own."""
    end = time.monotonic() + 10
    while time.monotonic() < end:
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _reap()
        time.sleep(0.02)


def result_line(rec: dict) -> dict:
    if rec["trace"]:
        values, units = rec["per_layer"], metrics.PER_LAYER
    else:
        values = {**rec["end_to_end"], "peak_nonheap_bytes": rec["memory"]["peak_nonheap_bytes"]}
        units = metrics.END_TO_END
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=metrics.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="length of the closed-loop read phase")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="tiny inputs, for the self-test")
    args = ap.parse_args(argv)

    missing = [p for p in ("chronoxtract_spark/__init__.py", "bench.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"not a checkout of the engine: {ROOT} lacks {missing}", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp",
                       f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    os.makedirs(tmp)
    try:
        env = session_env(tmp)
        cfg = {
            "root": ROOT,
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "tiny": args.tiny,
            "cpus": int(env["SPARK_GRAFT_CPUS"]),
            "env": env,
        }
        t0 = time.time()
        code, peak = run_worker(cfg, tmp)
        t1 = time.time()
        result = os.path.join(tmp, "result.json")
        if code != 0 or not os.path.exists(result):
            with open(os.path.join(tmp, "worker.log")) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            print(f"worker exited with {code}", file=sys.stderr)
            return 1
        with open(result) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass
    rec["memory"] = {"peak_nonheap_bytes": peak[0], "peak_pss_bytes": peak[1]}
    rec["marks"].update(launch=t0, exit=t1)
    rec["session"]["env"] = {k: env[k] for k in sorted(env) if k.startswith(("SPARK", "PY"))}
    print("perfbench-artifact " + json.dumps(rec, default=str))
    print(json.dumps(result_line(rec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
