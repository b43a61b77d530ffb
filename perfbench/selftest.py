#!/usr/bin/env python3
"""Self-test of the benchmark at tiny size (about five minutes).

    python3 perfbench/selftest.py

Runs run.py on a tiny generated repository (K = 2 level-5 datasets for
bde_catchup, D = 2 days for bde_daily) and checks that:
  - every end-to-end and per-layer metric of BENCHMARK.json is printed with
    its unit, and every operation passes its checks;
  - the same seed gives byte-identical .crs files, another seed gives other
    change sets;
  - the traced replay equals Upload.run (run.py counts a difference as a
    failed operation);
  - a perturbed truth is counted as a failure.
Exits 0 when all checks pass.
"""
import filecmp
import gzip
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
failures = []


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        failures.append(what)


def run(workload, seed, trace=0, perturb=0):
    """One tiny run; returns (summary line, record)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "0", "--trace", str(trace),
           "--scale", "tiny", "--k", "2", "--perturb", str(perturb),
           "--keep-work"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        sys.exit(f"run.py failed for {workload} seed {seed}:\n{p.stderr[-3000:]}")
    summary = json.loads(p.stdout.strip().splitlines()[-1])
    record = os.path.join(HERE, "results", f"{workload}-seed{seed}-trace{trace}.json")
    return summary, json.load(open(record))


def crs_files(work):
    repo = os.path.join(work, "repo")
    return sorted(os.path.relpath(os.path.join(d, n), repo)
                  for d, _, ns in os.walk(repo) for n in ns if n.endswith(".crs.gz"))


def change_sets(work):
    out = []
    for f in crs_files(work):
        if os.path.basename(f).startswith("xaud"):
            with gzip.open(os.path.join(work, "repo", f), "rt") as fh:
                out.append(fh.read().split("{CRS-DATA}", 1)[1])
    return out


def main():
    works = []
    for workload in [w["name"] for w in SPEC["workloads"]]:
        for trace, layer in ((0, "end_to_end"), (1, "per_layer")):
            s, rec = run(workload, 9001, trace)
            works.append(rec["work"])
            names = {m["name"]: m["unit"] for m in SPEC[layer]}
            got = {k: v["unit"] for k, v in s["metrics"].items()}
            check(got == names, f"{workload} trace={trace}: every {layer} metric with its unit")
            check(all(isinstance(v["value"], (int, float)) for v in s["metrics"].values()),
                  f"{workload} trace={trace}: every value is a number")
            check(s["correct"] and s["failed"] == 0 and s["attempted"] >= 1,
                  f"{workload} trace={trace}: all {s['attempted']} operations correct"
                  + ("" if s["correct"] else f" ({rec['problems'][:3]})"))
            if trace:
                check(not any("replay" in p for p in rec["problems"]),
                      f"{workload}: traced replay equals Upload.run")
        if workload == "bde_daily":
            check(rec.get("days") == 2, "bde_daily: D = 2 days")
        else:
            check(rec.get("k") == 2, "bde_catchup: K = 2 level-5 datasets")

    first, again = works[0], works[1]
    same = crs_files(first)
    check(same and same == crs_files(again) and
          all(filecmp.cmp(os.path.join(first, "repo", f),
                          os.path.join(again, "repo", f), shallow=False) for f in same),
          f"same seed: {len(same)} byte-identical .crs files")
    _, other = run("bde_catchup", 9002)
    works.append(other["work"])
    check(change_sets(first) != change_sets(other["work"]),
          "another seed: different change sets")

    s, bad = run("bde_catchup", 9001, perturb=1)
    works.append(bad["work"])
    check(not s["correct"] and s["failed"] >= 1, "perturbed truth counts as a failure")

    for w in works:
        shutil.rmtree(w, ignore_errors=True)
    print(f"== {len(failures)} failed ==")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
