#!/usr/bin/env python3
"""Smoke check of the benchmark at tiny sizes.

    python3 perfbench/smoke.py

For every workload in BENCHMARK.json it runs ``run.py`` untraced and
traced on a few docs and requires exit code 0, a last line with exactly
the keys correct/attempted/failed/metrics, a passing output check, and
exactly the metrics BENCHMARK.json names, each with its unit (end-to-end
values must be positive). It then copies only BENCHMARK.json and this
directory into an empty directory and requires ``run.py`` to fail there
without printing a result. Exits 1 on the first failure.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_DOCS = {"heavy_pdf": 8, "mixed_chain": 24}


def run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=900
    )


def check_result(spec: dict, workload: str, trace: int) -> None:
    p = run(
        ["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--docs", str(TINY_DOCS[workload])],
        ROOT,
    )
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"{workload} trace={trace}: keys {sorted(result)}")
    if not (result["correct"] and result["failed"] == 0 and result["attempted"] >= 1):
        raise SystemExit(f"{workload} trace={trace}: output check failed: {p.stdout.splitlines()[-2]}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        raise SystemExit(
            f"{workload} trace={trace}: metrics differ from BENCHMARK.json: "
            f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
            f"units {[(k, got[k], want[k]) for k in set(got) & set(want) if got[k] != want[k]]}"
        )
    for k, v in result["metrics"].items():
        value = v["value"]
        if not isinstance(value, (int, float)) or not math.isfinite(value) or (not trace and value <= 0):
            raise SystemExit(f"{workload} trace={trace}: {k} = {value!r}")
    print(f"ok  {workload} trace={trace}: {len(got)} metrics, {result['attempted']} docs checked", flush=True)


def check_refuses_without_package(spec: dict) -> None:
    bare = os.path.join(ROOT, ".perfbench_work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(bare, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run(["--workload", spec["workloads"][0]["name"], "--seed", "1", "--seconds", "1", "--trace", "0"], bare)
    shutil.rmtree(bare)
    if p.returncode == 0 or p.stdout.strip():
        raise SystemExit(f"run.py without the package: exit {p.returncode}, stdout {p.stdout[-500:]!r}")
    print(f"ok  refuses to run without the package (exit {p.returncode})", flush=True)


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_refuses_without_package(spec)
    for w in spec["workloads"]:
        for trace in (0, 1):
            check_result(spec, w["name"], trace)
    print("smoke ok")


if __name__ == "__main__":
    main()
