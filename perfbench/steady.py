#!/usr/bin/env python3
"""Steadiness check: runs each workload in sets of seeded runs and compares.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads backfill,live]

Set k uses the seeds k*runs+1 .. (k+1)*runs. For every end-to-end metric in
BENCHMARK.json it prints, per set, the median, the quartiles and the spread
(quartile distance over the median, as statistics.quantiles(n=4) gives
them), and the largest disagreement between two sets' medians, each against
the metric's bound. It also checks that every run was correct and that the
failed share is the same in every run. Raw results go to
.bench_build/perfbench/steady-<workload>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=1000)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit {p.returncode}")
    info, result = p.stdout.strip().splitlines()[-2:]
    return dict(json.loads(result), info=json.loads(info))


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    a = ap.parse_args()
    ok = True
    for w in a.workloads.split(","):
        sets = [[run(w, k * a.runs + i + 1, bench["run_seconds"]) for i in range(a.runs)]
                for k in range(a.sets)]
        out = os.path.join(ROOT, ".bench_build", "perfbench", f"steady-{w}.json")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out, "w") as f:
            json.dump(sets, f)
        shares = {r["failed"] / r["attempted"] for s in sets for r in s}
        correct = all(r["correct"] for s in sets for r in s)
        print(f"== {w}: correct={correct} failed_share={sorted(shares)}")
        ok &= correct and len(shares) == 1
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds, cells = [], []
            for s in sets:
                vals = [r["metrics"][name]["value"] for r in s]
                q1, q2, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / q2
                meds.append(q2)
                cells.append(f"med {q2:.4g} q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f}")
                ok &= spread <= bound
            worse = 1 if m["better"] == "lower" else -1
            disagree = max(worse * (y - x) / x for x in meds for y in meds)
            ok &= disagree <= bound
            print(f"  {name:18s} bound {bound:.2f} | " + " | ".join(cells) + f" | disagreement {disagree:+.3f}")
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
