"""The bench harnesses' defaults fit the host they run on."""

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def test_bench_cpus_default_is_usable_cores():
    """With SPARK_GRAFT_CPUS unset, bench.py runs local[N] on the cores
    this process may use (what `nproc` prints), not a fixed count that
    oversubscribes a small host."""
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    out = subprocess.run(
        [sys.executable, "-c",
         "import json, bench, bench_extra; "
         "print(json.dumps([bench.CPUS, "
         "bench_extra.build_session is bench.build_session]))"],
        cwd=REPO, env=env, capture_output=True, text=True, check=True,
    )
    cpus, shared_builder = json.loads(out.stdout.strip().splitlines()[-1])
    assert cpus == len(os.sched_getaffinity(0))
    assert shared_builder
