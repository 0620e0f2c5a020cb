#!/usr/bin/env python3
"""Steadiness check: run one workload on several seeds and print, per
end-to-end metric, the median, the quartiles and the spread (distance
between the first and third quartile as a share of the median).

    python3 perfbench/steady.py --workload <name> --seeds 1-10 [--out runs.jsonl]

Run from the root of a checkout. Each run's contract line is appended to
`--out` (default: perfbench/.work/steady-<workload>.jsonl).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    out = a.out or os.path.join(HERE, ".work", f"steady-{a.workload}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    rows = []
    for s in seeds(a.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {s}: exit {p.returncode}")
        line = json.loads(p.stdout.strip().splitlines()[-1])
        line["seed"] = s
        rows.append(line)
        with open(out, "a") as f:
            f.write(json.dumps(line) + "\n")
        print(f"seed {s}: correct={line['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"{'metric':28s} {'median':>10s} {'q1':>10s} {'q3':>10s} {'spread':>7s} {'bound':>6s}")
    for k in bounds:
        xs = [r["metrics"][k]["value"] for r in rows]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        print(f"{k:28s} {med:10.4f} {q1:10.4f} {q3:10.4f} {(q3 - q1) / med:7.3f} "
              f"{bounds[k]:6.2f}")


if __name__ == "__main__":
    main()
