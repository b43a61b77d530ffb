#!/usr/bin/env python3
"""Alternating A/B pairs of the end-to-end benchmark from two checkouts.

Runs the command `BENCHMARK.json` declares (`perfbench/run.py`) N times in
each of two checkouts -- a parent and a change -- alternating which side
goes first in each pair, one seed per pair, untraced. For every end-to-end
metric and side it prints the median and quartiles, how many pairs the
change won (by the metric's `better` direction), the change-vs-parent
median ratio against the metric's bound, and each run's wall time and
engine counters (`ops[].engine` medians from the results record). A
metric whose parent spread (IQR / median) is wider than its bound is
reported `unresolved`: the runs cannot tell a move of that size. Each
side's share of failed operations is reported; if any run failed an
operation (`correct: false`), every verdict reads `FAILED` and the script
exits 1, since timings of a run whose outputs were wrong compare nothing.

    git clone -q . /tmp/parent && git -C /tmp/parent checkout <parent-sha>
    python3 tools/benchpairs.py --parent /tmp/parent --change . \\
        --workload bde_catchup --pairs 10 --seed 7101 --out plans/x/pairs.json

The runs are sequential; nothing else should run on the host meanwhile.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ENGINE = ("driver.gap_s", "driver.plan_s", "spark.jobs", "spark.stages",
          "spark.task_s", "spark.shuffle_mb", "driver.heap_peak_mb")


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run_one(checkout, spec, workload, seed, seconds):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"benchpairs: run failed in {checkout} (rc={p.returncode}):\n"
                 f"{p.stdout[-1500:]}{p.stderr[-1500:]}")
    summary = json.loads(lines[-1])
    record = os.path.join(checkout, "perfbench", "results",
                          f"{workload}-seed{seed}-trace0.json")
    with open(record) as f:
        rec = json.load(f)
    engine = {k: statistics.median(op["engine"][k] for op in rec["ops"])
              for k in ENGINE}
    return {"seed": seed, "correct": summary["correct"],
            "attempted": summary["attempted"], "failed": summary["failed"],
            "metrics": {k: v["value"] for k, v in summary["metrics"].items()},
            "engine": engine, "wall_s": rec["wall_s"], "outer_wall_s": wall}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="changed checkout")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True,
                    help="first seed; pair i uses seed + i")
    ap.add_argument("--out", help="also write every run as JSON here")
    args = ap.parse_args()

    with open(os.path.join(args.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    runs = {"parent": [], "change": []}
    for i in range(args.pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            r = run_one(sides[side], spec, args.workload, args.seed + i,
                        spec["run_seconds"])
            runs[side].append(r)
            print(f"pair {i + 1} {side:6s} seed={r['seed']} "
                  f"ok={r['correct']} ops={r['attempted']} "
                  f"wall_s={r['wall_s']:.1f} " +
                  " ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items()) +
                  " " + " ".join(f"{k}={v:.4g}" for k, v in r["engine"].items()),
                  flush=True)

    print(f"\n{args.workload}: {args.pairs} alternating pairs, "
          f"seeds {args.seed}..{args.seed + args.pairs - 1}")
    failed_share = {side: sum(r["failed"] for r in rs) /
                    max(1, sum(r["attempted"] for r in rs))
                    for side, rs in runs.items()}
    any_failed = any(not r["correct"] for rs in runs.values() for r in rs)
    print("failed_share: " + ", ".join(f"{side} {v:.3f}"
                                       for side, v in failed_share.items()))
    print(f"{'metric':14s} {'parent med [q1, q3]':36s} "
          f"{'change med [q1, q3]':36s} {'ratio':>6s} {'wins':>5s} bound")
    verdict = {}
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name] for r in runs["parent"]]
        c = [r["metrics"][name] for r in runs["change"]]
        pq, cq = quartiles(p), quartiles(c)
        wins = sum((cv < pv) if lower else (cv > pv) for pv, cv in zip(p, c))
        ratio = cq[1] / pq[1] if pq[1] else float("nan")
        worse = (ratio - 1) if lower else (1 - ratio)
        spread = (pq[2] - pq[0]) / pq[1] if pq[1] else float("inf")
        status = ("FAILED" if any_failed
                  else "unresolved" if spread > m["bound"]
                  else "ok" if worse <= m["bound"] else "WORSE")
        verdict[name] = {"parent": pq, "change": cq, "ratio": ratio,
                         "wins": wins, "bound": m["bound"],
                         "parent_spread": spread, "status": status}
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        print(f"{name:14s} {fmt(pq):36s} {fmt(cq):36s} {ratio:6.3f} "
              f"{wins:2d}/{args.pairs} {m['bound']} {status}")
    for k in ENGINE:
        p = statistics.median(r["engine"][k] for r in runs["parent"])
        c = statistics.median(r["engine"][k] for r in runs["change"])
        print(f"{'engine ' + k:26s} parent median {p:.4g}  change median {c:.4g}")
    for side in ("parent", "change"):
        print(f"wall_s {side}: " +
              ", ".join(f"{r['wall_s']:.1f}" for r in runs[side]))
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs,
                       "failed_share": failed_share, "verdict": verdict},
                      f, indent=1)
    if any_failed:
        sys.exit("benchpairs: a run failed operations; see the ok=False lines")


if __name__ == "__main__":
    main()
