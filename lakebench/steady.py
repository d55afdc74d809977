#!/usr/bin/env python3
"""Repeat the lake benchmark over several seeds and summarise its spread.

    python3 lakebench/steady.py --workloads po_ingest,acid_cdc \
        --seeds 1-10 --trace 0 --out results.jsonl

Runs lakebench/run.py once per (workload, seed), appends each result line
to --out, and prints, per workload and metric, the median, the quartiles
(statistics.quantiles, n=4) and the quartile spread as a share of the
median, next to the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(rows, bounds):
    by = {}
    for r in rows:
        for k, m in r["result"]["metrics"].items():
            by.setdefault((r["workload"], k), []).append(m["value"])
    out = []
    for (w, k), vals in sorted(by.items()):
        med = statistics.median(vals)
        if len(vals) >= 2:
            q1, _, q3 = statistics.quantiles(vals, n=4)
        else:
            q1 = q3 = vals[0]
        spread = (q3 - q1) / med if med else float("nan")
        out.append((w, k, len(vals), med, q1, q3, spread, bounds.get(k)))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0", choices=("0", "1"))
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    rows = []
    for w in a.workloads.split(","):
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                ["python3", str(HERE / "run.py"), "--workload", w,
                 "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                 "--trace", a.trace],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                print(f"{w} seed {s}: exit {p.returncode}", file=sys.stderr)
                continue
            row = {"workload": w, "seed": s, "trace": int(a.trace),
                   "wall_s": round(wall, 1),
                   "result": json.loads(p.stdout.strip().splitlines()[-1])}
            rows.append(row)
            with open(a.out, "a") as f:
                f.write(json.dumps(row) + "\n")
            print(f"{w} seed {s}: {wall:.1f} s", file=sys.stderr)
    print("| workload | metric | n | median | q1 | q3 | spread | bound |")
    print("|---|---|---|---|---|---|---|---|")
    for w, k, n, med, q1, q3, spread, bound in summarise(rows, bounds):
        print(f"| {w} | {k} | {n} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
              f"{spread:.3f} | {'' if bound is None else bound} |")


if __name__ == "__main__":
    main()
