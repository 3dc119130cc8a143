"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/sweep.py --workloads tick_serve,tick_ingest \
        --seeds 1-10 --out perfbench/baselines/set1.json

For every workload and metric it records the values, their median,
quartiles (``statistics.quantiles(values, n=4)``) and the spread
(interquartile distance over the median), and flags metrics whose spread
exceeds a third of the bound in BENCHMARK.json.  Runs are sequential:
one benchmark process at a time.
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


def seeds_of(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n"
                           f"{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    result["summary"] = lines[:-1]
    result["wall_s"] = wall
    return result


def spread(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--out")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    report = {"seconds": bench["run_seconds"], "trace": args.trace, "workloads": {}}
    for wl in args.workloads.split(","):
        runs = []
        for seed in seeds_of(args.seeds):
            r = run_once(wl, seed, bench["run_seconds"], args.trace)
            r["seed"] = seed
            runs.append(r)
            print(f"{wl} seed {seed}: {r['wall_s']:.1f} s wall, "
                  f"correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']}", flush=True)
        stats = {}
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            stats[name] = {"values": vals, **spread(vals)} if len(vals) > 1 else {"values": vals}
            bound = bounds.get(name)
            if bound and len(vals) > 1:
                flag = "" if stats[name]["spread"] < bound / 3 else "  <-- over bound/3"
                print(f"  {name:30s} median {stats[name]['median']:12.4f} "
                      f"spread {stats[name]['spread']:.4f} (bound {bound}){flag}")
        report["workloads"][wl] = {"runs": runs, "metrics": stats}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
