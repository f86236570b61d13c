#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload zmumu-samples|operators-headline
      [--seed N] [--seconds S] [--trace 0|1] [--smoke]

Builds the engine and the benchmark from source (perfbench/build.py), makes
the workload's inputs from the seed, runs one JVM that times the passes,
checks the outputs, and prints one JSON object:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones.
--smoke runs a small, quick version for the self-test. Everything the run
writes goes under .bench_build/ (or $CARGO_TARGET_DIR).
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the helper modules are imported from perfbench/
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("zmumu-samples", "operators-headline")
# Input size per workload: events per sample, or the table scale factor.
SIZE = {"zmumu-samples": 10000, "operators-headline": 0.01}
SMOKE_SIZE = {"zmumu-samples": 5000, "operators-headline": 0.001}
SETUP_REPS = 3
DEADLINE_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.abspath(os.path.join(ROOT, d))


def gen_tables(out_dir, scale, reps):
    """Writes the operator tables `reps` times. Returns the median seconds,
    the total row count and a digest of the files' bytes."""
    import gen_tables
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        rows = gen_tables.generate(out_dir, scale)
        times.append(time.perf_counter() - t0)
    h = hashlib.sha256()
    for name in sorted(rows):
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as f:
            h.update(f.read())
    return statistics.median(times), sum(rows.values()), h.hexdigest()[:16]


def run_check_py(tables, out_dir, timeout):
    """The repo's DuckDB oracle comparison over the gated rows' results."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"), tables, out_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=timeout)
    print(r.stdout, file=sys.stderr)
    return r.returncode == 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(ROOT, "scripts", "check.py")):
        if not os.path.exists(need):
            die(f"{os.path.relpath(need, ROOT)} is missing: run from the root of a full checkout")

    sys.path.insert(0, HERE)
    import build
    bdir = build_dir()
    classes = build.build(bdir)
    started = time.monotonic()  # the deadline covers the run, not the build
    work = os.path.join(bdir, "work", a.workload)
    tmp = os.path.join(bdir, "tmp")
    logs = os.path.join(bdir, "logs")
    for d in (work, tmp, logs):
        os.makedirs(d, exist_ok=True)

    size = (SMOKE_SIZE if a.smoke else SIZE)[a.workload]
    reps = 1 if a.smoke else SETUP_REPS
    jargs = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work, "--setup-reps", str(reps)]
    tables = os.path.join(work, "tables")
    if a.workload == "operators-headline":
        gen_s, records, digest = gen_tables(tables, size, reps)
        jargs += ["--tables", tables, "--setup-extra-s", repr(gen_s),
                  "--input-records", str(records), "--input-digest", digest]
    else:
        jargs += ["--events", str(size)]
        with open(os.path.join(HERE, "expected.json")) as f:
            exp = json.load(f).get(a.workload)
        if exp and not a.smoke and exp["seed"] == a.seed and exp["events"] == size:
            jargs += ["--expected", exp["digest"]]

    cmd = (["java", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS] +
           ["-cp", os.pathsep.join([classes, build.spark_jars()]), "perfbench.PerfBench"] + jargs)
    log_path = os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}.log")
    budget = DEADLINE_S - (time.monotonic() - started)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, cwd=work)
        try:
            out, _ = proc.communicate(timeout=budget)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"timed out after {budget:.0f} s; log: {log_path}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(open(log_path).read()[-4000:])
        die(f"no result from the JVM (exit {proc.returncode}); log: {log_path}")
    for l in lines[:-1]:
        print(l)
    result = json.loads(lines[-1])

    if a.workload == "operators-headline" and result["correct"]:
        timeout = DEADLINE_S - (time.monotonic() - started)
        if not run_check_py(tables, os.path.join(work, "operators-out"), timeout):
            print("perfbench: operator outputs differ from the DuckDB oracle", file=sys.stderr)
            result["correct"] = False
    if not result["correct"]:
        sys.stderr.write(open(log_path).read()[-4000:])
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
