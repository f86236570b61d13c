#!/usr/bin/env python3
"""Self-test: runs every workload once in smoke mode, traced and untraced,
and checks that each metric BENCHMARK.json names is printed with its unit.

Usage (from the root of a checkout): python3 perfbench/selftest.py

Smoke mode is small (5,000 or 30,000 events, tables at scale 0.001) and
runs one pass after the first; outputs are checked as in a full run.
Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failures = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, wanted in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            r = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "0",
                 "--seconds", "1", "--trace", trace, "--smoke"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            label = f"{w} --trace {trace}"
            try:
                result = json.loads(r.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                failures.append(f"{label}: no result line (exit {r.returncode})\n{r.stderr[-2000:]}")
                continue
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                failures.append(f"{label}: result keys {sorted(result)}")
            if r.returncode != 0 or result.get("correct") is not True:
                failures.append(f"{label}: incorrect (exit {r.returncode})\n{r.stderr[-2000:]}")
            got = result.get("metrics", {})
            for m in wanted:
                v = got.get(m["name"])
                if v is None:
                    failures.append(f"{label}: metric {m['name']} missing")
                elif v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
                    failures.append(f"{label}: metric {m['name']} printed as {v}, want unit {m['unit']}")
                elif trace == "0" and not v["value"] > 0:
                    failures.append(f"{label}: end-to-end metric {m['name']} is {v['value']}")
            print(f"{label}: {len(wanted)} metrics checked", flush=True)
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    print("selftest: " + ("FAILED" if failures else "ok"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
