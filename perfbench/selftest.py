"""Tiny-scale self-test of the benchmark harness.

    python3 perfbench/selftest.py [--scale 0.05] [--seed 7]

From the root of a checkout, runs every workload of BENCHMARK.json once
untraced and once traced at a tiny input scale, and fails unless each run

- exits 0 with a final JSON line of exactly ``correct``, ``attempted``,
  ``failed`` and ``metrics``, with ``correct`` true and nothing failed;
- prints every declared metric (end-to-end untraced, per-layer traced)
  and nothing else, each a finite number with the declared unit.

It prints the tracing overhead (traced wall minus untraced wall) per
workload. A traced ``cheque_turns`` run at full scale must then have its
layer times account for the extract wall and the job wall to within
``LAYER_TOLERANCE``. Last, a directory holding only BENCHMARK.json and the
benchmark's files must make run.py exit non-zero without a result line.
"""

from __future__ import annotations

import argparse
import json
import math
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# Over six traced full-scale cheque_turns runs on a shared 4-vCPU VM, the
# extract share read 0.87-1.01: when the VM is busy the UDF, which shares
# the cores with its JVM tasks, loses more than the standalone replay.
LAYER_TOLERANCE = 0.15


def run_once(cwd: Path, workload: str, seed: int, trace: int,
             scale: float) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", str(scale)],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(label: str, proc, declared: list[dict]) -> dict:
    if proc.returncode != 0:
        sys.exit(f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"{label}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        sys.exit(f"{label}: correct={result['correct']} "
                 f"failed={result['failed']}/{result['attempted']}\n"
                 f"{proc.stderr[-3000:]}")
    want = {m["name"]: m["unit"] for m in declared}
    got = result["metrics"]
    if set(got) != set(want):
        sys.exit(f"{label}: metrics differ from BENCHMARK.json: "
                 f"missing {sorted(set(want) - set(got))}, "
                 f"extra {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if m.get("unit") != want[name] or not isinstance(
                m.get("value"), (int, float)) or not math.isfinite(m["value"]):
            sys.exit(f"{label}: bad metric {name}: {m}")
    return got


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--scale", type=float, default=0.05)
    ap.add_argument("--seed", type=int, default=7)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    for w in spec["workloads"]:
        name = w["name"]
        walls = []
        for trace, key, wall in ((0, "end_to_end", "wall_s"),
                                 (1, "per_layer", "trace.wall_s")):
            label = f"{name} trace={trace}"
            got = check_result(
                label, run_once(ROOT, name, args.seed, trace, args.scale),
                spec[key])
            walls.append(got[wall]["value"])
            print(f"ok  {label}: {len(spec[key])} metrics", flush=True)
        print(f"    {name}: tracing overhead {walls[1] - walls[0]:+.2f} s "
              f"(traced {walls[1]:.2f} s, untraced {walls[0]:.2f} s)")

    label = "cheque_turns trace=1 scale=1"
    proc = run_once(ROOT, "cheque_turns", args.seed, 1, 1.0)
    check_result(label, proc, spec["per_layer"])
    layers = json.loads(
        proc.stdout.strip().splitlines()[-2])["perfbench"]["layers"]
    for key in ("trace.extract_layer_share", "trace.job_layer_share"):
        if abs(layers[key] - 1) > LAYER_TOLERANCE:
            sys.exit(f"{label}: {key} = {layers[key]:.3f}, not within "
                     f"{LAYER_TOLERANCE:.0%} of 1")
        print(f"ok  {label}: {key} = {layers[key]:.3f}", flush=True)

    work = HERE / "_work"
    work.mkdir(exist_ok=True)
    bare = Path(tempfile.mkdtemp(prefix="bare-", dir=work))
    try:
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in spec["paths"]:
            shutil.copytree(ROOT / p, bare / p,
                            ignore=shutil.ignore_patterns("_work",
                                                          "__pycache__"))
        name = spec["workloads"][0]["name"]
        proc = run_once(bare, name, args.seed, 0, args.scale)
        last = (proc.stdout.strip().splitlines() or [""])[-1]
        if proc.returncode == 0 or last.startswith("{"):
            sys.exit(f"bare checkout: exit {proc.returncode}, last {last!r}")
        print(f"ok  bare checkout exits {proc.returncode} without a result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
