#!/usr/bin/env python3
"""Per-layer report for one workload and seed.

    python3 perfbench/report.py --workload eth_export --seed 1

Runs the workload twice with the same seed, untraced and traced, and prints
the traced run's self time per span level (operation, action, job, stage)
and per layer, and the tracing overhead: traced pass time minus untraced
pass time. The spans themselves are in .bench_build/traces/.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
    res = json.loads(out.stdout.strip().splitlines()[-1])
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    plain = run(a.workload, a.seed, a.seconds, 0)
    traced = run(a.workload, a.seed, a.seconds, 1)

    print(f"{a.workload} seed {a.seed}: per pass")
    print("self time by span level")
    for level in ("operation", "action", "job", "stage"):
        print(f"  {level:10s} {traced[f'trace.{level}_self_s']:9.3f} s")
    print("layers")
    for k, v in traced.items():
        if k.startswith(("pipeline.", "etl.", "ops.", "llm.", "key.", "memo.", "ingest.")) and v:
            print(f"  {k:34s} {v:14.4f}")
    if a.workload == "eth_export":
        stages = sum(v for k, v in traced.items() if k.startswith("pipeline.") and k.endswith("_s"))
        print(f"stage spans cover {stages / traced['trace.pass_s']:.1%} of the traced export")
    over = traced["trace.pass_s"] - plain["pass_s"]
    print(f"tracing overhead: {traced['trace.pass_s']:.3f} s traced - {plain['pass_s']:.3f} s "
          f"untraced = {over:.3f} s ({over / plain['pass_s']:.1%})")


if __name__ == "__main__":
    main()
