#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload batch --seeds 1-10 [--trace 0]

Runs perfbench/run.py once per seed, one after another, from the root of a
checkout, and prints for every metric the median, the quartiles (Python's
statistics.quantiles(values, n=4)) and the distance between the quartiles as
a share of the median, beside the bound BENCHMARK.json sets. With --out, the
raw results are appended as JSON lines.
"""
import argparse
import json
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    for seed in seeds(a.seeds):
        cmd = ["python3", "perfbench/run.py", "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", a.trace]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            continue
        result = json.loads(lines[-1])
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": a.workload, "seed": seed, "result": result}) + "\n")
        print(f"seed {seed}: correct={result['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()), file=sys.stderr)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            share = (q3 - q1) / med if med else float("nan")
        else:
            q1 = q3 = share = float("nan")
        print(f"{k:40s} n={len(xs):2d} median={med:.6g} q1={q1:.6g} q3={q3:.6g} "
              f"spread={share:.4f} bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
