#!/usr/bin/env python
"""Scaling-efficiency evidence (BASELINE.json north rule).

Runs the identical flagship extraction job at two parallelism levels —
local[N] and local[4N] — on the same deterministic input, in separate JVMs
(subprocess per level so the Spark master really differs). Reports
throughput at both and efficiency = (T_4N / T_N) / 4, appending the table
to BENCH/BASELINE.md.

Usage: python bench_scaling.py [--n N] [--sf-dir DIR]
       [--replication 150] [--runs 2]

Default N = max(1, cores // 4), so 4N fits the host (1 -> 4 on 4 cores,
8 -> 32 on 32). The extraction stage pairs every Spark task thread with an
Arrow python worker plus JVM serialization threads, so local[C] occupies
>2C hardware threads; a run whose 4N exceeds the core count is flagged
"oversubscribed" in the summary and in BENCH/BASELINE.md (see there for
the oversubscription data).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
from pathlib import Path

WORKER = r"""
import json, os, sys, time
cpus, sf_dir, replication = int(sys.argv[1]), sys.argv[2], int(sys.argv[3])
# Drain residual 1-min load before building the session: the round-7
# first-of-session run measured efficiency 0.803 with the N leg starting
# at load 2.25 (residual from the just-finished warmup); the drained
# same-session rerun measured 0.921. Bounded sleep so a genuinely busy
# box degrades to an honestly-tagged load reading instead of a stall.
GATE_LOAD, budget = 2.0, 240
while os.getloadavg()[0] > GATE_LOAD and budget > 0:
    time.sleep(5); budget -= 5
# the post-gate reading is the AMBIENT load (pre-warmup); the later
# 'load' field is sampled after the full-parallelism warmup and so
# includes the leg's own residue — only this one can distinguish an
# externally contaminated leg from ordinary warmup self-load
gate_wait_s = 240 - budget
load_ambient = round(os.getloadavg()[0], 2)
from pyspark.sql import SparkSession
import bench
spark = (SparkSession.builder.master(f"local[{cpus}]")
         .appName(f"scaling-{cpus}")
         .config("spark.sql.shuffle.partitions", str(cpus))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.driver.memory", bench.driver_memory())
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("FATAL")
from cheque_ocr_project_spark.plans import pipeline as P
from cheque_ocr_project_spark.sources.synth import default_drawer_dict
# repartition BEFORE caching: the raw source is one parquet split, and a
# single-partition cache would feed all workers through one serial scan
t = bench.replicated_transcripts(spark, sf_dir, replication).repartition(cpus).cache()
n = t.count()
dd = default_drawer_dict()
# warmup at FULL parallelism: one complete pass so every python worker is
# forked + has imported the package before the measured run (steady-state
# throughput; a cold local[4N] otherwise pays 4N imports inside the measure)
P.extract_pipeline(spark, t, dd).write.format("noop").mode("overwrite").save()
import os
load = round(os.getloadavg()[0], 2)  # 1-min load at measure start: a high
                                     # reading flags a contaminated leg
t0 = time.perf_counter()
P.extract_pipeline(spark, t, dd).write.format("noop").mode("overwrite").save()
dt = time.perf_counter() - t0
print(json.dumps({"cpus": cpus, "turns": n, "sec": dt, "tps": n / dt,
                  "load": load, "load_ambient": load_ambient,
                  "gate_wait_s": gate_wait_s,
                  "gate_timed_out": load_ambient > GATE_LOAD}))
spark.stop()
"""


def run_level(cpus: int, sf_dir: str, replication: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", WORKER, str(cpus), sf_dir, str(replication)],
        capture_output=True, text=True, cwd=Path(__file__).parent, check=True,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=max(1, os.cpu_count() // 4))
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--replication", type=int, default=150)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    results = {}
    for cpus in (args.n, args.n * 4):
        best = None
        for _ in range(args.runs):
            r = run_level(cpus, args.sf_dir, args.replication)
            if best is None or r["tps"] > best["tps"]:
                best = r
        results[cpus] = best
        print(json.dumps(best))

    n, n4 = results[args.n], results[args.n * 4]
    eff = (n4["tps"] / n["tps"]) / 4.0
    summary = {
        "metric": "scaling_efficiency_N_to_4N",
        "N": args.n,
        "turns": n["turns"],
        "tps_N": round(n["tps"], 1),
        "tps_4N": round(n4["tps"], 1),
        "sec_N": round(n["sec"], 2),
        "sec_4N": round(n4["sec"], 2),
        "efficiency": round(eff, 3),
        "pass": eff >= 0.8,
        "load_N": n.get("load"),
        "load_4N": n4.get("load"),
        "ambient_N": n.get("load_ambient"),
        "ambient_4N": n4.get("load_ambient"),
        "gate_timed_out": bool(n.get("gate_timed_out")
                               or n4.get("gate_timed_out")),
        "oversubscribed": 4 * args.n > os.cpu_count(),
    }
    print(json.dumps(summary))

    md = Path(__file__).parent / "BENCH" / "BASELINE.md"
    md.parent.mkdir(exist_ok=True)
    header_needed = not md.exists()
    with md.open("a") as f:
        if header_needed:
            f.write(
                "# BENCH/BASELINE — scaling-efficiency evidence\n\n"
                "Same flagship extraction job (Arrow-batched oracle UDF over\n"
                "replicated documents-as-transcripts), run at two parallelism\n"
                "levels in separate JVMs (`local[N]` vs `local[4N]`), per\n"
                "BASELINE.json: `efficiency = (tps_4N / tps_N) / 4 >= 0.8`.\n"
                "Warmup run excluded; best of --runs per level.\n\n"
                "| N | turns | sec@N | sec@4N | turns/s@N | turns/s@4N | efficiency | pass |\n"
                "|---|---|---|---|---|---|---|---|\n"
            )
        f.write(
            f"| {args.n} | {n['turns']} | {summary['sec_N']} | {summary['sec_4N']} "
            f"| {summary['tps_N']} | {summary['tps_4N']} | {summary['efficiency']} "
            f"| {'✅' if summary['pass'] else '❌'} |\n"
        )
        f.write(
            f"  (1-min load at measure start — N leg: {summary['load_N']}, "
            f"4N leg: {summary['load_4N']}; ambient pre-warmup — N: "
            f"{summary['ambient_N']}, 4N: {summary['ambient_4N']}"
            f"{'; GATE TIMED OUT hot' if summary['gate_timed_out'] else ''}"
            f"; oversubscribed: {summary['oversubscribed']} "
            f"(4N={4 * args.n}, {os.cpu_count()} cores))\n"
        )
    print(f"appended to {md}")


if __name__ == "__main__":
    main()
