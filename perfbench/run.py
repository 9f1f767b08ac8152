"""Seeded end-to-end benchmark of the extraction engine and the registry.

    python3 perfbench/run.py --workload cheque_turns --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The run

1. generates the workload's inputs from ``--seed`` and stages them under
   ``perfbench/_work/<pid>/`` (untimed; nothing else is written outside it,
   including Spark's warehouse, local dirs and Python/JVM temp files);
2. computes the expected outputs with an independent engine (the Python
   oracle per turn, DuckDB ``oracle_sql()`` per query);
3. starts a ``local[nproc]`` session sized from ``/proc/meminfo`` three
   times, then runs one warm-up job; ``setup_s`` is the median start plus
   the warm-up;
4. runs the workload's operations once, collecting and checking every
   output (untimed: this pass compiles the plans), then at least two
   timed passes, more until ``--seconds`` have passed; the job's committed
   output is checked after every pass;
5. prints one JSON line of detail (host, inputs, every pass, the
   workload's own figures and, with ``--trace 1``, the full layer
   breakdown, also written to ``perfbench/_work/trace-<workload>.json``),
   then the result line of the benchmark contract.

With ``--trace 0`` the result carries the end-to-end metrics named in
BENCHMARK.json (``wall_s`` sums each operation's median over the timed
passes); with ``--trace 1`` its per-layer metrics, read from the Spark UI
REST endpoint of the traced session and from spans around the oracle
stages. Exit status is non-zero, with no result line, when the package
cannot be imported from the checkout or the arguments are invalid.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"
WORKLOADS = ("cheque_turns", "registry_scan")
SESSION_STARTS = 3
# On a shared 4-vCPU VM, runs of one seed spread 9-11% in wall_s, and the
# spread over ten seeds was the same whether a run reported the median of
# three timed passes, the mean of the first two or the last pass alone: the
# noise is between runs, not between passes. Two passes keep a run within
# the benchmark's time budget when the VM is slow.
MIN_TIMED_PASSES = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the self-test uses a "
                         "tiny scale; the benchmark runs at 1.0)")
    args = ap.parse_args(argv)
    if args.seconds < 1 or not 0 < args.scale <= 4:
        ap.error("--seconds must be >= 1 and --scale in (0, 4]")
    return args


def host_facts() -> dict:
    """nproc, memory and the ambient 1-min load, recorded, never gated on."""
    nproc = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = {k: int(v.split()[0]) for k, v in
                  (line.split(":", 1) for line in fh)}
    total_mb = mem_kb["MemTotal"] // 1024
    return {
        "nproc": nproc,
        "mem_total_mb": total_mb,
        # a fifth of the box, within [1, 4] GiB: the inputs are small and
        # the machine is shared
        "driver_memory_mb": min(4096, max(1024, total_mb // 5)),
        "load1": os.getloadavg()[0],
    }


def _stat(pid) -> list[str]:
    """The fields of ``/proc/<pid>/stat`` after the command name."""
    return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            ppid = int(_stat(d.name)[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> dict[str, float]:
    """VmHWM of the JVM and of the Python workers, this process's
    descendants (its own memory holds the oracle's frames, not the
    program's)."""
    mb = {"jvm": 0.0, "python_workers": 0.0}
    for pid in _descendants(os.getpid())[1:]:
        try:
            comm = Path(f"/proc/{pid}/comm").read_text().strip()
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    key = "jvm" if comm == "java" else "python_workers"
                    mb[key] += int(line.split()[1]) / 1024
        except OSError:
            continue
    return mb


def prepare_environment(work: Path) -> None:
    """Point every scratch location at ``work`` before the JVM starts, and
    let Python workers import the package from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def build_session(host: dict, work: Path, ui: bool):
    from pyspark.sql import SparkSession

    n = host["nproc"]
    b = (
        SparkSession.builder.master(f"local[{n}]").appName("perfbench")
        .config("spark.driver.memory", f"{host['driver_memory_mb']}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "true" if ui else "false")
    )
    if ui:
        b = (b.config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .config("spark.sql.ui.retainedExecutions", "100000"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("FATAL")
    return spark


def warm_up(spark) -> None:
    """A small Arrow UDF job with a shuffle: starts the Python workers,
    which import the package's oracle, as any session does before its
    first extraction."""
    from pyspark.sql import functions as F

    def touch(batches):
        import cheque_ocr_project_spark.oracle.turn  # noqa: F401

        yield from batches

    n = spark.sparkContext.defaultParallelism
    (spark.range(0, 64 * n, numPartitions=n)
     .mapInPandas(touch, "id long")
     .groupBy((F.col("id") % 7).alias("k")).count()
     .toPandas())


def run(args, work: Path) -> tuple[dict, dict]:
    import tracing
    import workloads

    host = host_facts()
    phases = {}  # untimed harness work, so a slow run can be explained
    t0 = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.scale,
                                            host["nproc"])
    phases["stage_s"] = time.perf_counter() - t0

    spans = tracing.OracleSpans() if args.trace else None
    errors: list[BaseException] = []

    def expect() -> None:
        t0 = time.perf_counter()
        try:
            wl.expect(spans)
        except Exception as exc:  # re-raised in the main thread
            errors.append(exc)
        phases["expect_s"] = time.perf_counter() - t0

    # Untraced, the expected outputs are computed while the JVM launches;
    # that first start is never the median of three. Traced, they are
    # computed before it, so the oracle's spans time an unshared CPU.
    expecting = threading.Thread(target=expect)
    expecting.start()
    if args.trace:
        expecting.join()
    starts = []
    for i in range(SESSION_STARTS):
        if i:
            spark.stop()
        t0 = time.perf_counter()
        spark = build_session(host, work, ui=bool(args.trace))
        spark.range(1).collect()
        starts.append(time.perf_counter() - t0)
        if i == 0:
            expecting.join()
            if errors:
                raise errors[0]
    t0 = time.perf_counter()
    warm_up(spark)
    warm_up_s = time.perf_counter() - t0

    phases["check_s"] = 0.0
    attempted = failed = 0

    def op_call(op: str, collect: bool, group: str) -> float:
        """Time one operation from the call to the end of its sink, then
        check its output; a raise or a mismatch counts as failed."""
        nonlocal attempted, failed
        attempted += 1
        spark.sparkContext.setJobGroup(group, op)
        t0 = time.perf_counter()
        try:
            out = wl.run(spark, op, collect)
        except Exception:
            traceback.print_exc()
            failed += 1
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if out is not None:
            try:
                failed += wl.check(op, out) > 0
            except Exception:
                traceback.print_exc()
                failed += 1
        phases["check_s"] += time.perf_counter() - t0 - dt
        return dt

    first = {op: op_call(op, True, f"first:{op}") for op in wl.ops}
    passes, loads = [], []
    t_start = time.perf_counter()
    while (len(passes) < MIN_TIMED_PASSES
           or time.perf_counter() - t_start < args.seconds):
        loads.append(os.getloadavg()[0])
        passes.append({op: op_call(op, False, f"p{len(passes)}:{op}")
                       for op in wl.ops})
    rss = peak_rss_mb()

    op_s = {op: statistics.median(p[op] for p in passes) for op in wl.ops}
    e2e = {
        "setup_s": statistics.median(starts) + warm_up_s,
        # per-operation medians, summed: one slow execution of one
        # operation does not move a pass
        "wall_s": sum(op_s.values()),
        # the JVM's high-water mark follows G1's heap sizing (1.1-2.2 GB
        # over identical runs on a 4-vCPU VM); the workers' repeats to ~1%
        "worker_rss_mb": rss["python_workers"],
    }
    detail = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "scale": args.scale, "host": host,
        "inputs": wl.sizes, "session_starts_s": starts,
        "warm_up_s": warm_up_s, "phases": phases, "pass_loads1": loads,
        "first_pass_s": first, "passes_s": passes,
        "failed_frac": failed / attempted, "peak_rss_mb": rss,
        "query_max_s": max(op_s.values()),
        "workload_metrics": wl.extra(op_s),
    }

    measured = e2e
    if args.trace:
        rest = tracing.SparkRest(spark)
        groups = {op: f"p{len(passes) - 1}:{op}" for op in wl.ops}
        # the ladder's own jobs stay out of the last pass's groups
        spark.sparkContext.setJobGroup("layers", "layer ladder")
        layers = wl.layers(spark, op_s, spans, rest, groups)
        layers.update(rest.group_metrics(list(groups.values())))
        layers["trace.wall_s"] = e2e["wall_s"]
        detail["layers"] = layers
        measured = layers
    spark.stop()
    # BENCHMARK.json is the one list of reported metrics and their units
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = spec["per_layer" if args.trace else "end_to_end"]
    return detail, {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": measured[m["name"]],
                                "unit": m["unit"]} for m in declared},
    }


def _ended(pid: int) -> bool:
    try:
        return _stat(pid)[0] == "Z"  # a zombie has exited
    except OSError:
        return True


def stop_jvm() -> None:
    """End the JVM this process launched (closing its stdin ends it) and
    wait until it and every process under it, the Python workers too,
    have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    pids = _descendants(os.getpid())[1:]
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 60
    while not all(_ended(p) for p in pids):
        if time.monotonic() > deadline:
            raise RuntimeError("processes under the JVM outlived it by 60 s")
        time.sleep(0.1)


def _sweep_stale_work() -> None:
    """Remove work dirs left by runs that were killed (their pid is gone)."""
    if not WORK.is_dir():
        return
    for d in WORK.iterdir():
        if d.is_dir() and d.name.isdigit() and not Path(f"/proc/{d.name}").exists():
            shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path[:0] = [str(HERE), str(ROOT)]
    try:
        import cheque_ocr_project_spark.plans.pipeline as pipeline
        import __spark_entry__  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the package from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    if ROOT not in Path(pipeline.__file__).resolve().parents:
        print(f"perfbench: the package resolves to {pipeline.__file__}, "
              f"not to the checkout at {ROOT}", file=sys.stderr)
        return 2

    _sweep_stale_work()
    work = WORK / str(os.getpid())
    prepare_environment(work)
    try:
        detail, result = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        (WORK / f"trace-{args.workload}.json").write_text(
            json.dumps(detail, indent=1) + "\n")
    print(json.dumps({"perfbench": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
