#!/usr/bin/env python3
"""Steadiness self-check: repeat each workload over several seeds and
print the run-to-run spread of every end-to-end metric next to its
bound from BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workload W ...]

Spread = (third quartile - first quartile) / median over the runs, with
quartiles as ``statistics.quantiles(values, n=4)`` gives them. A metric
is steady when its spread stays below its bound (the benchmark aims for
a third of it); set-up time is reported but has no spread target. Runs
are sequential, one workload at a time. Raw results go to
``.bench_work/steady.jsonl``.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    log = ROOT / ".bench_work" / "steady.jsonl"
    log.parent.mkdir(exist_ok=True)
    unsteady = False
    for w in workloads:
        values = {m: [] for m in bounds}
        for seed in range(a.first_seed, a.first_seed + a.runs):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"{w} seed {seed}: failed (exit {p.returncode})\n{p.stderr[-2000:]}")
                sys.exit(1)
            res = json.loads(lines[-1])
            with open(log, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "run_s": time.time() - t0,
                                    **res}) + "\n")
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: {time.time() - t0:.0f} s, "
                  + ", ".join(f"{m}={values[m][-1]:.4g}" for m in bounds), flush=True)
        print(f"\n{w}: spread over {a.runs} runs (IQR / median) vs bound")
        for m, bound in bounds.items():
            v = values[m]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            ok = m == "setup_s" or spread <= bound
            unsteady |= not ok
            print(f"  {m:24s} median={med:<12.5g} spread={spread:7.4f} bound={bound:5.2f} "
                  f"{'ok' if ok else 'UNSTEADY'}{' (< bound/3)' if spread < bound / 3 else ''}")
        print(flush=True)
    sys.exit(1 if unsteady else 0)


if __name__ == "__main__":
    main()
