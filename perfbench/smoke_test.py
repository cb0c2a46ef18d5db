#!/usr/bin/env python3
"""Smoke self-test of the benchmark.

    python3 perfbench/smoke_test.py

Runs every workload once at toy size in both trace modes and checks that
each run exits 0, that its last line is the result object, and that the
metric names and units it prints are exactly those BENCHMARK.json lists.
Then checks that a directory holding only BENCHMARK.json and perfbench/
(no program) makes the benchmark exit non-zero without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int, toy: bool = True) -> tuple[int, list[str]]:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace)] + (["--toy"] if toy else [])
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            code, lines = run(ROOT, w, trace)
            tag = f"{w} --trace {trace}"
            if code != 0 or not lines:
                problems.append(f"{tag}: exit {code}")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got) ^ set(want[trace]))}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']}")
            print(f"ok {tag}: {len(got)} metrics, attempted {res['attempted']}")

    bare = os.path.join(ROOT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines = run(bare, spec["workloads"][0]["name"], 0, toy=False)
    shutil.rmtree(bare)
    if code == 0 or any(line.startswith("{") for line in lines):
        problems.append(f"no-program directory: exit {code}, output {lines[-1:]}")
    else:
        print(f"ok no-program directory: exit {code}")

    for p in problems:
        print("FAIL " + p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
