"""Run the benchmark over several seeds and summarise it.

    python3 perfbench/report.py --seeds 1-10                 # spreads
    python3 perfbench/report.py --seeds 1-3 --overhead       # tracing cost

For every workload and end-to-end metric it prints the median, the
quartiles, the spread (interquartile distance over the median) against
the metric's bound from ``BENCHMARK.json``, and every failed check.
``--overhead`` runs each seed traced and untraced and prints the traced
minus untraced median of each end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    wall = time.time() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {proc.returncode}")
    lines = proc.stdout.splitlines()
    artifact = json.loads(lines[-2].split(" ", 1)[1])
    result = json.loads(lines[-1])
    values = {**artifact["end_to_end"], **artifact["memory"],
              **{f"wall.{k}": v for k, v in artifact["wall_clock"].items()}}
    return {"wall": wall, "result": result, "artifact": artifact, "e2e": values}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--json", help="write every run record here")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    records = []
    for wl in workloads:
        runs = {0: [], 1: []}
        for seed in seeds(args.seeds):
            for trace in ((0, 1) if args.overhead else (0,)):
                r = run_once(wl, seed, spec["run_seconds"], trace)
                runs[trace].append(r)
                records.append({"workload": wl, "seed": seed, "trace": trace,
                                "wall": r["wall"], "artifact": r["artifact"]})
                failed = {k: v for k, v in r["artifact"]["checks"].items() if v}
                print(f"{wl} seed {seed} trace {trace}: {r['wall']:.1f}s "
                      f"correct={r['result']['correct']} "
                      f"steal={r['artifact']['host']['cpu_pressure']}"
                      + (f" FAILED {failed} {r['artifact']['op_errors']}"
                         if failed or r['artifact']['op_errors'] else ""),
                      flush=True)
        base = runs[0]
        print(f"\n{wl}: {len(base)} runs, mean wall {statistics.mean(r['wall'] for r in base):.1f}s")
        print(f"  {'metric':<24}{'unit':>10}{'median':>14}{'q1':>14}{'q3':>14}"
              f"{'spread':>8}{'bound':>7}")
        # context, not printed by run.py: wall-clock times and all memory
        wall = {f"wall.{k}": {"unit": "wall", "bound": float("inf")}
                for k in base[0]["artifact"]["wall_clock"]}
        wall["peak_pss_bytes"] = {"unit": "bytes", "bound": float("inf")}
        for name, m in {**bounds, **wall}.items():
            vals = [r["e2e"][name] for r in base]
            med, q1, q3, sp = spread(vals) if len(vals) > 1 else (vals[0], vals[0], vals[0], 0.0)
            flag = "" if sp < m["bound"] / 3 else ("  > bound/3" if sp <= m["bound"] else "  > BOUND")
            print(f"  {name:<24}{m['unit']:>10}{med:>14.4f}{q1:>14.4f}{q3:>14.4f}"
                  f"{sp:>8.3f}{m['bound']:>7}{flag}")
            if args.overhead:
                traced = statistics.median(r["e2e"][name] for r in runs[1])
                print(f"  {'':<24}{'':>10}  traced - untraced: {traced - med:+.4f}")
        print()
    if args.json:
        with open(args.json, "w") as f:
            json.dump(records, f, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
