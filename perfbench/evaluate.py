#!/usr/bin/env python3
"""Repeat perfbench runs and summarise them. Run from the repository root.

  python3 perfbench/evaluate.py steadiness --seeds 1-10 [--workloads a,b]
      untraced runs, one per seed: per workload and end-to-end metric the
      median and the quartile spread, (q3 - q1) / median, as the
      benchmark's own bounds are checked;
  python3 perfbench/evaluate.py traced --seeds 1-3 [--workloads a,b] [--cpus N]
      traced runs: the median of every per-layer metric, and the tracing
      overhead, traced.* against the untraced medians of the last
      steadiness run on the same workload.

Each mode prints a markdown table and keeps the raw runs in
.bench_build/perfbench/<mode>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
RUN = os.path.join(ROOT, "perfbench", "run.py")
WORKLOADS = ("steady_fanout", "many_groups", "backfill", "query_mix")


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run(workload, seed, seconds, trace, cpus):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    t = time.time()
    p = subprocess.run(cmd, capture_output=True, text=True)
    wall = time.time() - t
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: no result (exit {p.returncode})")
    res = json.loads(lines[-1])
    res["wall_s"], res["seed"] = wall, seed
    flag = "" if res["correct"] else "  INCORRECT"
    print(f"  {workload} seed {seed}: {wall:.1f} s{flag}", file=sys.stderr, flush=True)
    return res


def spread(xs):
    m = statistics.median(xs)
    q = statistics.quantiles(xs, n=4)
    return m, (q[2] - q[0]) / m if m else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("mode", choices=("steadiness", "traced"))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--cpus", type=int, default=0)
    a = ap.parse_args()
    ws = a.workloads.split(",")
    out = os.path.join(STATE, f"{a.mode}.json")
    os.makedirs(STATE, exist_ok=True)
    prev = json.load(open(os.path.join(STATE, "steadiness.json"))) \
        if a.mode == "traced" and os.path.exists(os.path.join(STATE, "steadiness.json")) else {}
    raw = {w: [run(w, s, a.seconds, int(a.mode == "traced"), a.cpus) for s in seeds(a.seeds)]
           for w in ws}
    json.dump(raw, open(out, "w"), indent=1)
    for w, runs in raw.items():
        bad = sum(1 for r in runs if not r["correct"])
        walls = [r["wall_s"] for r in runs]
        print(f"\n### {w}: {len(runs)} runs, {bad} incorrect, wall median "
              f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s\n")
        names = list(runs[0]["metrics"])
        if a.mode == "steadiness":
            print("| metric | unit | median | spread (q3-q1)/median |\n|---|---|---|---|")
            for k in names:
                m, sp = spread([r["metrics"][k]["value"] for r in runs])
                print(f"| {k} | {runs[0]['metrics'][k]['unit']} | {m:.4g} | {sp:.3f} |")
        else:
            base = {k: statistics.median(r["metrics"][k]["value"] for r in prev[w])
                    for k in prev[w][0]["metrics"]} if w in prev else {}
            print("| metric | unit | median | untraced median | overhead |\n|---|---|---|---|---|")
            for k in names:
                m = statistics.median(r["metrics"][k]["value"] for r in runs)
                b = base.get(k.replace("traced.", "")) if k.startswith("traced.") else None
                ov = f"{(m - b) / b:+.1%}" if b else ""
                bs = f"{b:.4g}" if b is not None else ""
                print(f"| {k} | {runs[0]['metrics'][k]['unit']} | {m:.4g} | {bs} | {ov} |")


if __name__ == "__main__":
    main()
