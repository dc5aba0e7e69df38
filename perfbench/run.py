#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload envelope --seed 1 --seconds 10 --trace 0

Run from the repository root. On first use (or after a source change)
it builds the benchmark and, through it, the program from source with
sbt; then it runs `perfbench.Main` in one JVM at local[<cores>], where
<cores> is the number of CPUs this process may use.

`--workload all` runs every workload in turn and prints one such line
per workload, each with its `workload` added.

The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`. With `--trace 0` the metrics are the end-to-end
metrics of BENCHMARK.json, measured with tracing off; with `--trace 1`
they are its per-layer metrics (a metric the workload has no code path
for is reported as a structural 0, and stderr says so), and the spans go to
perfbench/out/trace-<workload>-<seed>.json. Exit status is 0 only when
every output was correct.
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
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
WORKLOADS = ("envelope", "llm_dedup", "lake_cdc")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, program and benchmark."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, subdirs, files in os.walk(top)
            for f in files if "target" not in os.path.relpath(d, top).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".java", ".sbt", ".properties")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group past limit_s."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
        return proc.returncode, out
    except BaseException:
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                break
            try:
                proc.wait(timeout=10)
                break
            except subprocess.TimeoutExpired:
                pass
        proc.wait()
        raise


def build():
    digest = source_digest()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    log("building the program and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    code, _ = run_bounded(["sbt", "--batch", "-Dsbt.offline=true",
                           "-Dsbt.log.noformat=true", "writeLaunch"],
                          BUILD_LIMIT_S, cwd=HERE, env=env,
                          stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if code != 0:
        sys.exit(f"[perfbench] build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(digest + "\n")
    log(f"built in {time.time() - t0:.0f} s")


def run_one(workload, args, spec, classpath, jvm_opts):
    """Runs one workload in its own JVM; returns its result, or exits."""
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "work", f"{workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm_opts +
           ["-Xmx2g", f"-Djava.io.tmpdir={tmp}", "-cp", classpath,
            "perfbench.Main", "--workload", workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--work", os.path.join(work, "run"),
            "--out", os.path.join(HERE, "out")])
    try:
        code, out = run_bounded(cmd, RUN_LIMIT_S, cwd=ROOT, text=True,
                                stdout=subprocess.PIPE,
                                stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        sys.exit(f"[perfbench] {workload} exceeded {RUN_LIMIT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    last = out.strip().splitlines()[-1] if out.strip() else ""
    if code not in (0, 1) or not last.startswith("{"):
        sys.exit(f"[perfbench] {workload} failed (exit {code})")
    raw = json.loads(last)
    for e in raw.get("errors", []):
        log(f"check failed: {e}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        value = raw["metrics"].get(m["name"])
        if value is None:
            if not args.trace:
                sys.exit(f"[perfbench] {workload} did not measure {m['name']}")
            # A structural zero, not a measurement: the workload has no
            # code path that produces this metric (NOTES.md lists them).
            value = 0.0
            log(f"{m['name']}: structural 0 on {workload} (not measured)")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    return {"correct": bool(raw["correct"]) and code == 0,
            "attempted": int(raw["attempted"]),
            "failed": int(raw["failed"]),
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in (spec_path, os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            sys.exit(f"[perfbench] missing {os.path.relpath(need, ROOT)}: "
                     "run from a checkout of the repository")
    with open(spec_path) as f:
        spec = json.load(f)

    build()
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    classpath, jvm_opts = lines[0], lines[1:]

    if args.workload != "all":
        result = run_one(args.workload, args, spec, classpath, jvm_opts)
        print(json.dumps(result), flush=True)
        sys.exit(0 if result["correct"] else 1)
    ok = True
    for w in WORKLOADS:
        result = run_one(w, args, spec, classpath, jvm_opts)
        print(json.dumps({"workload": w, **result}), flush=True)
        ok = ok and result["correct"]
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
