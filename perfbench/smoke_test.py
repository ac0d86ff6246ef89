#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

Runs every workload in BENCHMARK.json once untraced and once traced on
the sf0.001 dataset (`run.py --smoke`, one short pass or a short op
sequence) and asserts that the last line is the result object, that
the outputs checked correct, and that every metric BENCHMARK.json names
for that mode is printed with its unit (end-to-end metrics also
non-zero). Then checks that run.py refuses to run, without printing a
result, in a directory holding only BENCHMARK.json and the benchmark.

Usage, from the root of a checkout: python3 perfbench/smoke_test.py
"""
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd, workload, trace):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    problems = []
    for w in bench["workloads"]:
        for trace, specs in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            p = run(ROOT, w["name"], trace)
            tag = f"{w['name']} trace={trace}"
            try:
                res = json.loads(p.stdout.strip().splitlines()[-1])
            except (IndexError, ValueError):
                problems.append(f"{tag}: no result line (exit {p.returncode}): {p.stderr[-800:]}")
                continue
            if p.returncode != 0 or set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: exit {p.returncode}, keys {sorted(res)}")
            if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
                problems.append(f"{tag}: correct={res.get('correct')} failed={res.get('failed')}: "
                                f"{p.stderr[-800:]}")
            got = res.get("metrics", {})
            if set(got) != {m["name"] for m in specs}:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got) ^ {m['name'] for m in specs})}")
            for m in specs:
                v = got.get(m["name"], {})
                if v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)) \
                        or not math.isfinite(v["value"]) or (trace == 0 and v["value"] <= 0):
                    problems.append(f"{tag}: {m['name']} = {v}, want a finite value in {m['unit']}")
            print(f"ok {tag}" if not problems else f"checked {tag}", flush=True)

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    p = run(bare, bench["workloads"][0]["name"], 0)
    if p.returncode == 0 or p.stdout.strip():
        problems.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    shutil.rmtree(bare, ignore_errors=True)

    for line in problems:
        print(f"FAIL {line}")
    print("smoke test", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
