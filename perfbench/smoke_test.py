#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at tiny input sizes.

Usage (from the repository root): python3 perfbench/smoke_test.py

Runs every workload of BENCHMARK.json through perfbench/run.py with
`--smoke 1`, untraced and traced, and checks the result line: the four keys,
a correct run with no failed operations, and exactly the metric names and
units that BENCHMARK.json lists for the mode. Also checks that a directory
holding only BENCHMARK.json and perfbench/ (no engine sources) makes the
benchmark fail without printing a result. Takes a few minutes.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def result_line(cwd, workload, trace, smoke=1):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke", str(smoke)],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=900)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            rc, lines, err = result_line(ROOT, w["name"], trace)
            tag = f"{w['name']} trace={trace}"
            if rc != 0 or not lines:
                problems.append(f"{tag}: exit {rc}\n{err[-2000:]}")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: keys {sorted(res)}")
                continue
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} "
                                f"failed={res['failed']}/{res['attempted']}")
            want = {m["name"]: m["unit"]
                    for m in spec["per_layer" if trace else "end_to_end"]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json")
            if not trace:
                zero = [k for k, v in res["metrics"].items() if not v["value"] > 0]
                if zero:
                    problems.append(f"{tag}: non-positive {zero}")
            print(f"ok {tag}", flush=True)

    # without the engine's sources the benchmark must fail, printing nothing
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    bare = tempfile.mkdtemp(prefix="bare-", dir=work)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "target"))
        rc, lines, _ = result_line(bare, spec["workloads"][0]["name"], 0, smoke=0)
        if rc == 0 or lines:
            problems.append(f"bare directory: exit {rc}, output {lines[-1:]}")
        else:
            print("ok bare directory fails", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
