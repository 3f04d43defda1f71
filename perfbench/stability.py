"""Stability tool: how steady is each end-to-end metric of the benchmark?

    python3 perfbench/stability.py --runs 10 [--first-seed 1]

Runs every workload of BENCHMARK.json `--runs` times at its `run_seconds`,
alternating between workloads, each run with its own seed. For each workload and metric it prints the median,
the quartiles, the spread (interquartile distance over the median, as
`statistics.quantiles(values, n=4)` gives the quartiles) and the agreement
between two interleaved sets of runs (odd and even runs): by how much the
worse set's median exceeds the better one, as a share. A metric is steady
when both figures stay within its bound in BENCHMARK.json. The share of
failed operations must be the same in every run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2, (q1, q2, q3)


def worse_share(a, b, better):
    """How much the worse of two medians is worse than the other."""
    ma, mb = statistics.median(a), statistics.median(b)
    lo, hi = min(ma, mb), max(ma, mb)
    return (hi / lo - 1) if better == "lower" else (1 - lo / hi)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = {m["name"]: m for m in bench["end_to_end"]}
    results = {w: [] for w in workloads}
    for i in range(a.runs):
        for w in workloads:
            seed = a.first_seed + i
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                   "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {r.returncode}", file=sys.stderr)
                sys.exit(1)
            res = json.loads(lines[-1])
            diag = {}
            for line in lines[:-1]:
                if line.startswith("diag "):
                    diag.update(json.loads(line[5:]))
            results[w].append(res)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
            print(f"{w} seed {seed}: correct={res['correct']} attempted={res['attempted']} "
                  f"failed={res['failed']} {vals} diag={json.dumps(diag)}", flush=True)
    print()
    print("| workload | metric | median | q1 | q3 | spread | set agreement | bound |")
    print("|---|---|---|---|---|---|---|---|")
    for w in workloads:
        runs = results[w]
        shares = {r["failed"] / r["attempted"] for r in runs}
        if len(shares) != 1 or not all(r["correct"] for r in runs):
            print(f"{w}: failed shares {shares}, correct "
                  f"{[r['correct'] for r in runs]}", file=sys.stderr)
        for name, m in metrics.items():
            values = [r["metrics"][name]["value"] for r in runs
                      if name in r["metrics"]]
            if len(values) < 4:
                continue
            s, (q1, q2, q3) = spread(values)
            agree = worse_share(values[0::2], values[1::2], m["better"])
            print(f"| {w} | {name} | {q2:.4g} | {q1:.4g} | {q3:.4g} | {s:.3f} | "
                  f"{agree:.3f} | {m['bound']} |")


if __name__ == "__main__":
    main()
