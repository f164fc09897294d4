#!/usr/bin/env python3
"""Steadiness self-test of the benchmark.

Usage, from the repository root:
    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workload NAME ...]

Runs BENCHMARK.json's command once per seed for each workload, untraced, and
reports for every end-to-end metric its median and the distance between the
first and third quartile as a share of the median (statistics.quantiles,
n=4). A metric passes when that spread is below a third of its bound;
setup_s is reported but not gated. Exits 1 when a run fails or a spread is
too wide.
"""
import argparse
import json
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for w in workloads:
        values = {m["name"]: [] for m in spec["end_to_end"]}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = spec["command"] + ["--workload", w, "--seed", str(seed),
                                     "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if lines else None
            if proc.returncode != 0 or not res or not res["correct"]:
                print(f"{w} seed {seed}: run failed (exit {proc.returncode})")
                ok = False
                continue
            for name in values:
                values[name].append(res["metrics"][name]["value"])
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={res['metrics'][k]['value']:.6g}" for k in values), flush=True)
        for m in spec["end_to_end"]:
            vs = values[m["name"]]
            if len(vs) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            gated = m["name"] != "setup_s"
            verdict = "ok" if spread < m["bound"] / 3 else ("WIDE" if gated else "-")
            ok &= verdict != "WIDE"
            print(f"{w:18s} {m['name']:14s} median {med:12.6g} {m['unit']:6s} "
                  f"spread {spread:.4f} (bound {m['bound']}) {verdict}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
