#!/usr/bin/env python3
"""End-to-end benchmark of the BDE upload loop.

Run from the root of a checkout:

    python3 perfbench/run.py --workload bde_catchup --seed 1 --seconds 12 --trace 0

Builds the library plus the harness in perfbench/ with sbt (once per source
state), runs one workload in one JVM on local[cores], checks the outputs,
writes the full record to perfbench/results/, and prints a JSON summary as
the last line of stdout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("bde_catchup", "bde_daily")
JVM_DEADLINE_S = 170  # a run must finish within 180 s after its build
ADD_OPENS = ("java.lang java.lang.invoke java.lang.reflect java.io java.net "
             "java.nio java.util java.util.concurrent "
             "java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
             "sun.security.action sun.util.calendar").split()


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, for the rebuild stamp."""
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def run_bounded(cmd, log_path, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout and
    always wait for it, so nothing outlives the benchmark."""
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True, **kw)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def build(build_dir):
    """Compile the library and the harness; returns the classes directory."""
    files = sources()
    stamp = hashlib.sha256()
    for f in files:
        stamp.update(f.encode())
        with open(f, "rb") as fh:
            stamp.update(fh.read())
    stamp = stamp.hexdigest()
    target = os.path.join(build_dir, "sbt")
    classes = os.path.join(target, "scala-2.13", "classes")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, GRAFTBENCH_TARGET=target)
    log = os.path.join(build_dir, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                      "-Dsbt.server.autostart=false", "compile"],
                     log, 850, cwd=HERE, env=env, stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (rc={rc}):\n{tail(log)}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--driver-heap", default="3g")
    # the defaults are the benchmark; the rest serves selftest.py
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    ap.add_argument("--k", type=int, default=4)
    ap.add_argument("--perturb", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep-work", action="store_true")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no library sources under {ROOT}/src/main/scala/graft")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json is missing")
    spark_jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(spark_jars):
        fail("SPARK_HOME/jars not found")
    spec = json.load(open(spec_path))

    build_dir = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    build_dir = os.path.abspath(os.path.join(ROOT, build_dir))
    os.makedirs(build_dir, exist_ok=True)
    classes = build(build_dir)

    t_start = time.time()
    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    out = os.path.join(work, "result.json")
    # a fixed heap and the stop-the-world collector: on a 4-core host the
    # catch-up's run-to-run spread was about half of G1's with them
    cmd = ["java", f"-Xms{args.driver_heap}", f"-Xmx{args.driver_heap}",
           "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{spark_jars}/*", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(len(os.sched_getaffinity(0))), "--scale", args.scale,
            "--k", str(args.k), "--perturb", str(args.perturb),
            "--work", work, "--out", out]
    log = os.path.join(work, "jvm.log")
    rc = run_bounded(cmd, log, JVM_DEADLINE_S, cwd=work, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(out):
        fail(f"benchmark JVM failed (rc={rc}):\n{tail(log)}", 4)
    res = json.load(open(out))

    problems = res["problems"]
    failed = res["failed"]

    layer = "per_layer" if args.trace else "end_to_end"
    have = {m["name"]: m for m in res[layer]}
    metrics = {}
    for m in spec[layer]:
        if m["name"] not in have:
            fail(f"metric {m['name']} was not measured", 5)
        metrics[m["name"]] = {"value": have[m["name"]]["value"], "unit": m["unit"]}

    summary = {"correct": failed == 0 and res["attempted"] > 0,
               "attempted": res["attempted"], "failed": failed,
               "metrics": metrics}
    res.update(summary=summary,
               work=work if args.keep_work else None,
               failed_share=failed / max(1, res["attempted"]),
               wall_s=time.time() - t_start,
               args=vars(args))
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    record = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(record, "w") as f:
        json.dump(res, f, indent=1)
    if not args.keep_work:
        shutil.rmtree(work, ignore_errors=True)

    for p in problems[:5]:
        print(f"problem: {p}")
    print(f"{args.workload} seed={args.seed} trace={args.trace}: "
          f"{res['attempted']} ops, {failed} failed; " +
          ", ".join(f"{k}={v['value']:.4g} {v['unit']}"
                    for k, v in list(metrics.items())[:8]) +
          f"; record {os.path.relpath(record, ROOT)}")
    # compact: the line must stay well inside a 2,000-character output tail
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
