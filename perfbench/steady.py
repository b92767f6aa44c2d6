#!/usr/bin/env python3
"""Steadiness check for the benchmark: repeat ``perfbench/run.py`` on each
workload with distinct seeds, then print, for every end-to-end metric,
the median, the quartiles, the quartile spread as a share of the median,
and -- with two or more sets -- how far each later set's median moved
from the first set's.

    python3 perfbench/steady.py --runs 10 --sets 2 --out perfbench/steady_results.json

Run from the repository root, with no other Spark job on the host. A
spread or a median shift (either way) larger than the metric's ``bound``
in BENCHMARK.json is flagged, and the script exits 1. Every set that was
run is written to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cmd, workload: str, seed: int, seconds: int) -> dict:
    argv = [*cmd, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    out = json.loads(lines[-1])
    out["elapsed_s"] = time.perf_counter() - t0
    return out


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med, "values": values}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--out")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report: dict = {"runs": args.runs, "sets": args.sets, "seconds": args.seconds, "workloads": {}}
    ok = True
    for workload in args.workloads.split(","):
        sets = []
        for k in range(args.sets):
            results = [
                run_once(spec["command"], workload, 1000 * k + i, args.seconds) for i in range(args.runs)
            ]
            metrics = {
                name: summarize([r["metrics"][name]["value"] for r in results]) for name in bounds
            }
            metrics["elapsed_s"] = summarize([r["elapsed_s"] for r in results])
            sets.append(metrics)
        report["workloads"][workload] = sets
        print(f"{workload}: {args.sets} set(s) of {args.runs} runs")
        for name, bound in bounds.items():
            first = sets[0][name]
            for k, s in enumerate(sets):
                shift = s[name]["median"] / first["median"] - 1
                flags = []
                if s[name]["spread"] > bound:
                    flags.append("SPREAD")
                if abs(shift) > bound:
                    flags.append("SHIFT")
                ok &= not flags
                print(
                    f"  {name:15s} set {k}: median {s[name]['median']:.4f}  "
                    f"q1 {s[name]['q1']:.4f}  q3 {s[name]['q3']:.4f}  "
                    f"spread {s[name]['spread']:.3f}  shift {shift:+.3f}  "
                    f"bound {bound}  {' '.join(flags) or 'ok'}"
                )
        e = sets[0]["elapsed_s"]
        print(f"  {'elapsed_s':15s} median {e['median']:.1f}  max {max(e['values']):.1f}")
    report["agree"] = ok
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(report, fh, indent=1)
            fh.write("\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
