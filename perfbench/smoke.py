"""Smoke check of the benchmark at sf0.001.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json briefly on the smoke-scale
inputs, untraced and traced, and asserts that:

- every end-to-end metric is printed with its unit and is above 0;
- the traced run prints every per-layer metric with its unit;
- ``attempted`` and ``failed`` are whole numbers and ``correct`` is true;
- in a directory holding only BENCHMARK.json and the benchmark's files,
  the command exits non-zero without printing a result.

Exits 0 when all hold; prints what failed otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(cwd: str, workload: str, trace: int, spec: dict) -> tuple[int, str]:
    cmd = spec["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                             "--trace", str(trace)]
    if cwd == ROOT:
        cmd += ["--scale", "smoke"]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout


def check_result(stdout: str, names: dict[str, str], positive: bool) -> list[str]:
    res = json.loads(stdout.strip().splitlines()[-1])
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    if not (isinstance(res.get("attempted"), int) and res["attempted"] >= 1
            and isinstance(res.get("failed"), int)):
        errs.append("attempted/failed missing or not whole numbers")
    if res.get("correct") is not True:
        errs.append("correct is not true")
    metrics = res.get("metrics", {})
    if set(metrics) != set(names):
        errs.append(f"metric names differ: {sorted(set(metrics) ^ set(names))}")
    for name, unit in names.items():
        m = metrics.get(name, {})
        if m.get("unit") != unit:
            errs.append(f"{name}: unit {m.get('unit')!r} != {unit!r}")
        if not isinstance(m.get("value"), (int, float)) or (positive and not m["value"] > 0):
            errs.append(f"{name}: value {m.get('value')!r}")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    end_to_end = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    failures = []
    for w in spec["workloads"]:
        for trace, names, positive in ((0, end_to_end, True), (1, per_layer, False)):
            code, out = run(ROOT, w["name"], trace, spec)
            errs = [f"exit code {code}"] if code else check_result(out, names, positive)
            failures += [f"{w['name']} trace={trace}: {e}" for e in errs]
            print(f"{w['name']} trace={trace}: {'ok' if not errs else 'FAILED'}", flush=True)

    bare = os.path.join(ROOT, ".perfbench", "bare-checkout")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        for p in spec["paths"]:
            shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                            ignore=shutil.ignore_patterns("__pycache__"))
        code, out = run(bare, spec["workloads"][0]["name"], 0, spec)
        if code == 0 or out.strip():
            failures.append(f"bare checkout: exit code {code}, stdout {out[-200:]!r}")
        print(f"bare checkout exits {code}", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)

    for f in failures:
        print("FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
