#!/usr/bin/env python3
"""Steadiness report: runs one workload K times and summarizes the runs.

    python3 perfbench/report.py --workload analytic --runs 10
    python3 perfbench/report.py --workload pipeline --runs 2 --trace 1

Each run is `run.py` with its own seed (first-seed, first-seed + 1, ...).
For every metric it prints the median and quartiles over the runs and the
spread (third minus first quartile, over the median), canary-adjusted and
raw side by side, then the per-query build / plan / exec table of the
median run. Traced runs also check that the per-pass counts repeat exactly
from run to run. Exits 1 if any run fails or, in traced runs, any count
does not repeat.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".bench_build", "perfbench", "results")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def line(name, xs):
    q1, q2, q3 = quartiles(xs)
    spread = (q3 - q1) / q2 if q2 else float("nan")
    return f"{name:<34} {q2:>11.4f} {q1:>11.4f} {q3:>11.4f} {spread:>8.3f}"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--same-seed", action="store_true",
                    help="give every run the first seed, so traced runs must repeat every count")
    args = ap.parse_args()

    runs, failed_runs = [], []
    seeds = [args.first_seed + (0 if args.same_seed else i) for i in range(args.runs)]
    for seed in seeds:
        t0 = time.monotonic()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", str(args.trace)],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        out = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(out) < 2:
            print(f"seed {seed}: run failed (exit {proc.returncode})")
            failed_runs.append(seed)
            continue
        detail, last = json.loads(out[-2]), json.loads(out[-1])
        runs.append((seed, detail, last))
        print(f"seed {seed} ({time.monotonic() - t0:.0f} s): " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in last["metrics"].items()
            if not k.startswith("raw.")), flush=True)
    if not runs:
        print(f"{args.workload}: every run failed")
        sys.exit(1)

    print(f"\n{args.workload}: {len(runs)} runs, trace={args.trace}")
    print(f"{'metric':<34} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>8}")
    for k in runs[0][2]["metrics"]:
        print(line(k, [r[2]["metrics"][k]["value"] for r in runs]))
        if not args.trace and k in runs[0][1]["raw"]:
            print(line("  raw " + k, [r[1]["raw"][k] for r in runs]))
    for k in ("canary_s", "canary_s_before", "canary_s_after"):
        print(line(f"{k} (raw)", [r[1]["machine"][k] for r in runs]))
    print(f"machine {json.dumps(runs[0][1]['machine'])}")
    failed = sum(r[2]["failed"] for r in runs)
    print(f"failed executions: {failed} of {sum(r[2]['attempted'] for r in runs)}")
    print(f"failed runs: {len(failed_runs)} of {len(seeds)}"
          + (f" (seeds {', '.join(map(str, failed_runs))})" if failed_runs else ""))
    ok = not failed_runs and not failed

    if args.trace:
        # with different seeds the query order differs, and only jobs and
        # stages are independent of it (see REPEATING in run.py)
        fields = None if args.same_seed else ("jobs", "stages")
        counts = {json.dumps({p: {ph: {k: v for k, v in c.items() if fields is None or k in fields}
                                   for ph, c in phases.items()}
                              for p, phases in r[1]["pass_counts"].items()}, sort_keys=True)
                  for r in runs}
        print(f"per-pass counts ({', '.join(fields) if fields else 'all'}) repeat exactly "
              f"across runs: {len(counts) == 1}")
        for c in sorted(counts):
            print(f"  {c}")
        ok = ok and len(counts) == 1

    # per-query table of the median run by pass_s (or exec.s when traced)
    key = "exec.s" if args.trace else "pass_s"
    ordered = sorted(runs, key=lambda r: r[2]["metrics"][key]["value"])
    seed = ordered[len(ordered) // 2][0]
    with open(os.path.join(RESULTS, f"{args.workload}-seed{seed}-trace{args.trace}.json")) as fh:
        execs = [e for e in json.load(fh)["harness"]["executions"]
                 if e["pass"] >= 1 and "error" not in e]
    print(f"\nper query, median over measured passes of run seed {seed} (raw seconds)")
    print(f"{'query':<40} {'build_s':>9} {'plan_s':>9} {'exec_s':>9} {'total_s':>9}")
    for q in sorted({e["query"] for e in execs}):
        xs = [e for e in execs if e["query"] == q]
        med = {k: statistics.median(e[k] for e in xs)
               for k in ("build_s", "plan_s", "exec_s", "latency_s")}
        print(f"{q:<40} {med['build_s']:>9.3f} {med['plan_s']:>9.3f} "
              f"{med['exec_s']:>9.3f} {med['latency_s']:>9.3f}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
