#!/usr/bin/env python3
"""Smoke check of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload at minimal size, untraced and traced, and fails
unless each run exits 0
with a correct result whose metrics are exactly the end-to-end
(untraced) or per-layer (traced) metrics of BENCHMARK.json, each with
its declared unit and a finite value. Also checks that a directory
holding only BENCHMARK.json and the benchmark's files (no engine) makes
the benchmark fail without printing a result. Takes 1.5–3.5 minutes on a
4-core host, depending on how busy it is.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def _run(cwd: str, run_py: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, run_py, "--workload", workload, "--seed", "7", "--seconds", "2",
           "--trace", str(trace), "--size", "smoke"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def _check_result(p: subprocess.CompletedProcess, metrics: list[dict]) -> list[str]:
    if p.returncode != 0:
        return [f"exit code {p.returncode}: {p.stderr.strip().splitlines()[-3:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    problems = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        problems.append(f"correct={res.get('correct')} attempted={res.get('attempted')} "
                        f"failed={res.get('failed')}")
    got = res.get("metrics", {})
    want = {m["name"]: m["unit"] for m in metrics}
    for name in sorted(set(want) - set(got)):
        problems.append(f"missing metric {name}")
    for name in sorted(set(got) - set(want)):
        problems.append(f"undeclared metric {name}")
    for name in sorted(set(want) & set(got)):
        v = got[name]
        if v.get("unit") != want[name]:
            problems.append(f"{name}: unit {v.get('unit')!r}, declared {want[name]!r}")
        if not isinstance(v.get("value"), (int, float)) or not math.isfinite(v["value"]):
            problems.append(f"{name}: value {v.get('value')!r}")
    return problems


def _bare_dir_fails(spec: dict) -> list[str]:
    """The benchmark alone, without the engine, must fail with no result."""
    parent = os.path.join(CHECKOUT, ".perfbench_scratch")
    bare = os.path.join(parent, f"smoke-bare-{os.getpid()}")
    try:
        os.makedirs(bare)
        shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(CHECKOUT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, os.path.join(bare, "perfbench", "run.py"),
                 spec["workloads"][0]["name"], 0)
        last = (p.stdout.strip().splitlines() or [""])[-1]
        if p.returncode == 0 or last.startswith("{"):
            return [f"bare directory: exit {p.returncode}, last line {last[:80]!r}"]
        return []
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        if not os.listdir(parent):
            os.rmdir(parent)


def main() -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [HERE, CHECKOUT]
    from workloads import WORKLOADS

    failures = 0
    for name in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            problems = _check_result(_run(CHECKOUT, RUN, name, trace), spec[key])
            status = "ok" if not problems else "FAIL"
            print(f"{name} trace={trace}: {status}", flush=True)
            for pr in problems:
                print(f"  {pr}")
            failures += bool(problems)
    problems = _bare_dir_fails(spec)
    print(f"bare directory: {'ok' if not problems else 'FAIL'}")
    for pr in problems:
        print(f"  {pr}")
    failures += bool(problems)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
