#!/usr/bin/env python3
"""Conversion benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the program and the benchmark from
source with sbt (once per source state; the build is cached under the work
directory), then runs one benchmark process and prints its result as the
last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Everything the run writes stays under the
work directory: $CARGO_TARGET_DIR when set, else .bench_build.

The run's record.json (every figure, the set-up breakdown, the pass list,
failed_frac) and, when traced, trace.json (spans) stay under
<work>/runs/ until the next run. --plant-corrupt 1 flips a byte in one
written chunk after a pass; the output check must then fail.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

JVM_OPTS = [
    "--add-opens=java.base/java.lang=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.invoke=ALL-UNNAMED",
    "--add-opens=java.base/java.lang.reflect=ALL-UNNAMED",
    "--add-opens=java.base/java.io=ALL-UNNAMED",
    "--add-opens=java.base/java.net=ALL-UNNAMED",
    "--add-opens=java.base/java.nio=ALL-UNNAMED",
    "--add-opens=java.base/java.util=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent=ALL-UNNAMED",
    "--add-opens=java.base/java.util.concurrent.atomic=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.ch=ALL-UNNAMED",
    "--add-opens=java.base/sun.nio.cs=ALL-UNNAMED",
    "--add-opens=java.base/sun.security.action=ALL-UNNAMED",
    "--add-opens=java.base/sun.util.calendar=ALL-UNNAMED",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
    "-XX:ReservedCodeCacheSize=512m",
    # a fixed, pre-touched heap: pass times do not drift as the heap grows,
    # and the heap's resident share is known, so the memory metric can take
    # it out (perfbench.Memory)
    "-XX:+AlwaysPreTouch",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in (PROGRAM_SRC, os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(top):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    out += [os.path.relpath(os.path.join(HERE, f), ROOT)
            for f in ("build.sbt", os.path.join("project", "build.properties"))]
    return sorted(out)


def source_stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(work, stamp):
    """Compiles with sbt unless the cached classpath matches this source state."""
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building program and benchmark with sbt")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"sbt build failed to run: {e}", 3)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail(f"sbt build failed with exit code {p.returncode}", 3)
    lines = [ln.strip() for ln in p.stdout.splitlines() if ln.strip()]
    cps = [ln for ln in lines if not ln.startswith("[") and os.pathsep in ln]
    if not cps:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt printed no classpath", 3)
    cp = cps[-1]
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    log(f"build done in {time.time() - t0:.1f} s")
    return cp


def heap_gb():
    """3 GiB, or less on a small machine: at most half of physical memory."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
        return max(2, min(3, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 3


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    ap.add_argument("--plant-corrupt", default="0", choices=["0", "1"])
    args = ap.parse_args()

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read BENCHMARK.json: {e}")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala")):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}: nothing to benchmark")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")

    work = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(work, exist_ok=True)
    stamp = source_stamp()
    cp = build(work, stamp)

    cores = len(os.sched_getaffinity(0))
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time() * 1000)}"
    runs = os.path.join(work, "runs")
    shutil.rmtree(runs, ignore_errors=True)
    run_dir = os.path.join(runs, run_id)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_SCRATCH_ROOT"}
    heap = f"{heap_gb()}g"
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}"] + JVM_OPTS +
           ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--run-dir", run_dir, "--cache-dir", os.path.join(work, "fixtures"),
            "--source", stamp[:16], "--cores", str(cores),
            "--plant-corrupt", args.plant_corrupt])
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"benchmark process exceeded {RUN_TIMEOUT_S} s", 4)
    shutil.rmtree(tmp, ignore_errors=True)
    result_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        fail(f"benchmark process exited with code {code}", 5)
    with open(result_file) as f:
        result = json.load(f)

    want = [m["name"] for m in spec["per_layer" if args.trace == "1" else "end_to_end"]]
    got = result["metrics"]
    if set(got) != set(want):
        fail(f"metric names {sorted(got)} differ from BENCHMARK.json {sorted(want)}", 6)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, m in got.items():
        if m["unit"] != units[name] or not isinstance(m["value"], (int, float)):
            fail(f"metric {name}: {m} does not match BENCHMARK.json unit {units[name]}", 6)
    log(f"record: {os.path.relpath(os.path.join(run_dir, 'record.json'), ROOT)}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": got}), flush=True)


if __name__ == "__main__":
    main()
