"""Toy-size smoke test of the benchmark itself.

Run from the repository root (takes a few minutes):

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it runs perfbench/run.py on inputs
of about 5k turns, untraced and traced, and asserts that the last stdout
line has exactly the contract's keys, that every output check passed, and
that every metric BENCHMARK.json names is printed with its unit. It also
asserts that the benchmark refuses to run, with a non-zero exit and no
result, in a directory holding only BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

SCALE = "0.01"  # every input 5k-6k turns
TIMEOUT_S = 600


def run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=TIMEOUT_S)


def check_result(proc, names: dict, label: str) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    last = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(last) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"{label}: result keys {sorted(last)}")
    if not (last["correct"] and last["failed"] == 0 and last["attempted"] >= 1):
        raise AssertionError(f"{label}: output checks failed: {last}\n"
                             f"{proc.stderr[-3000:]}")
    got = {k: v["unit"] for k, v in last["metrics"].items()}
    if got != names:
        raise AssertionError(f"{label}: metrics/units {got} != {names}")
    for k, v in last["metrics"].items():
        if not (isinstance(v["value"], (int, float)) and math.isfinite(v["value"])):
            raise AssertionError(f"{label}: {k} = {v['value']!r}")
    return last


def main() -> int:
    root = os.getcwd()
    with open("BENCHMARK.json", encoding="utf-8") as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    for w in (w["name"] for w in spec["workloads"]):
        for trace, names in (("0", e2e), ("1", layers)):
            label = f"{w} trace={trace}"
            last = check_result(run(["--workload", w, "--seed", "7", "--seconds", "1",
                                     "--trace", trace, "--scale", SCALE], root),
                                names, label)
            if trace == "1":
                if not os.path.isfile(os.path.join(
                        "perfbench-results", f"trace-{w}-seed7.json")):
                    raise AssertionError(f"{label}: no span dump written")
            print(f"ok {label}: {last['attempted']} operations checked", flush=True)

    bare = os.path.join(root, ".perfbench-work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy("BENCHMARK.json", bare)
        shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(["--workload", spec["workloads"][0]["name"], "--seed", "1",
                    "--seconds", "1", "--trace", "0"], bare)
        if proc.returncode == 0 or proc.stdout.strip():
            raise AssertionError(f"bare dir: exit {proc.returncode}, "
                                 f"stdout {proc.stdout!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass
    print("ok bare directory: refused without a result")
    return 0


if __name__ == "__main__":
    sys.exit(main())
