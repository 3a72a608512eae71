#!/usr/bin/env python3
"""Run the benchmark on several seeds and print each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median), the steadiness figure
BENCHMARK.json's bounds are checked against.

    python3 perfbench/spread.py --workload kg_vocab --seeds 1-10 [--seconds 10]

Run from the root of the checkout.  Each run's result line, host-noise
window and failures are appended to .perfbench/spread-<workload>.jsonl.
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


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def spread(values: list[float]) -> float:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bounds = {m["name"]: m["bound"] for m in json.load(fh)["end_to_end"]}
    log = os.path.join(ROOT, ".perfbench", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in _seeds(args.seeds):
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        took = time.monotonic() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        lines = proc.stdout.strip().splitlines()
        result, report = json.loads(lines[-1]), json.loads(lines[-2])
        with open(log, "a") as fh:
            fh.write(json.dumps({"seed": seed, "took_s": took, "host": report["host"],
                                 "failures": report["failures"], **result}) + "\n")
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {took:.1f} s, correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in result["metrics"].items()),
              flush=True)
    if len(next(iter(values.values()))) >= 2:
        for name, vals in values.items():
            bound = bounds.get(name)
            sp = spread(vals)
            flag = "" if bound is None else f" bound={bound} {'ok' if sp <= bound / 3 else 'WIDE'}"
            print(f"{name}: median={statistics.median(vals):.4g} spread={sp:.3f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
