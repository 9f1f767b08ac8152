#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS] (default: the host's usable cores).
Every record is the minimum of its measured passes, taken after one
untimed warm-up pass of the same plan on the same input.
Prints JSON lines; detail records (all-query sweep, per-pass timings +
load averages) come first and the FINAL line is the short
driver-parseable metric record:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

The flagship extraction throughput is measured over a deterministic
replication of the documents table mapped into the transcripts shape
(documents-as-transcripts x REPLICATION) so the turn count is meaningful at
small SF; throughput is reported as turns/sec alongside wall seconds.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# default: the cores this process may run on (what `nproc` prints)
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
REPLICATION = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATION", "20"))
# headline-only mode: skip the breadth sweep (used for standalone quiet
# per-query records appended to BENCH/BASELINE.md)
HEADLINE_ONLY = os.environ.get("SPARK_GRAFT_HEADLINE_ONLY", "") == "1"

# Queries whose sweep timing is dominated by their sandbox HARNESS
# ADAPTER, not the operator: the streaming rows stage input parquet,
# spin up a StreamingQuery, and poll a sink (5-26 s of trigger/poll
# quantization around millisecond-scale operators — PLANS.md), and
# corpus_job_survivors runs the full three-stage pipeline with real
# parquet writes between stages. Their timings are reported in a
# SEPARATE map so a reader never mistakes adapter cost for operator cost
# (VERDICT r06 #5).
ADAPTER_TIMED = {
    "sessionize_streaming",
    "conversation_progress",
    "streaming_extract_nofuzzy",
    "streaming_novelty",
    "corpus_job_survivors",
}

# Headline driver-contract queries (cheap ones excluded; these exercise the
# interesting plans: regex-heavy scans, window top-1, joins, ANN).
HEADLINE = [
    "clean_text",
    "classify",
    "payee_extract",
    "payee_clean",
    "field_grammars",
    "quality_score",
    "top1_event_per_user",
    "event_stats",
    "lev_match",
    "ann_topk",
    "dedup_exact",
    "minhash_near_dup",
    "simhash_near_dup",
    "ann_lsh_topk",
    "govt_entity",
    "issuer_simple",
]


def driver_memory() -> str:
    """$SPARK_GRAFT_MEM, else half the host's physical memory in whole GiB
    (at least 1g, at most the former 48g default)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return (os.environ.get("SPARK_GRAFT_MEM")
            or f"{min(48, max(1, phys // 2**31))}g")


def build_session() -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("cheque_ocr_project_spark-bench")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def force(df) -> int:
    """Fully materialize a plan without sink cost; returns row count."""
    return df.write.format("noop").mode("overwrite").save() or df.count()


def replicated_transcripts(spark, sf_dir: str, replication: int):
    from cheque_ocr_project_spark.sources.io import documents_as_transcripts

    base = documents_as_transcripts(spark, sf_dir)
    reps = F.explode(F.sequence(F.lit(0), F.lit(replication - 1))).alias("rep")
    return (
        base.select("*", reps)
        .withColumn("conv_id", F.concat_ws("-", F.col("conv_id"), F.col("rep")))
        .drop("rep")
    )


def main() -> None:
    from cheque_ocr_project_spark.plans import pipeline as P
    from cheque_ocr_project_spark.plans import queries as Q
    from cheque_ocr_project_spark.sources.synth import default_drawer_dict

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")

    sf_match = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(sf_match.group(1).rstrip(".")) if sf_match else None

    timings: dict[str, float] = {}
    registry = Q.queries()

    headline_passes: dict[str, list[float]] = {}
    # 1-min load average at the START of each pass. Information only: the
    # kernel recomputes it every 5 s as a decaying one-minute average, so
    # it mostly reflects the bench's own previous passes and cannot tell a
    # quiet pass from a slow one. Every record keeps its minimum pass.
    pass_loads: dict[str, list[float]] = {}

    # ONLY the flagship_arrow record routes to extract_pipeline over the
    # replicated transcripts; registry names that happen to share the
    # "flagship_" prefix (flagship_nofuzzy, flagship_extract_v3, ...) are
    # ordinary contract queries and must time registry[rec] (ADVICE r05:
    # a bare prefix test silently timed the wrong computation for them).
    FLAGSHIP = "flagship_arrow"
    transcripts = None  # staged lazily, right before the flagship passes
    dd = default_drawer_dict()

    def run_record(rec: str) -> None:
        if rec == FLAGSHIP:
            df = P.extract_pipeline(spark, transcripts, dd)
        else:
            df = registry[rec](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()

    def one_pass(rec: str) -> None:
        """THE single measured-pass implementation (load sample, timer,
        noop sink). Every pass — flagship, headline, breadth sweep — goes
        through here, so the protocol cannot drift between copies."""
        pass_loads.setdefault(rec, []).append(round(os.getloadavg()[0], 2))
        t0 = time.perf_counter()
        run_record(rec)
        headline_passes.setdefault(rec, []).append(
            round(time.perf_counter() - t0, 3))

    def timed(rec: str, passes: int) -> tuple[float, float]:
        """(min of K passes, start load of that pass). Interference from
        other work on the host can only inflate a pass, so the minimum is
        the least-disturbed reading; every pass is still recorded."""
        for _ in range(passes):
            one_pass(rec)
        return min(zip(headline_passes[rec], pass_loads[rec]))

    # HEADLINE phase FIRST (VERDICT r06 #2): these are the round-over-round
    # record of truth, so they run before the flagship passes saturate the
    # box. Each query gets one untimed pass at SF_DIR first, as the flagship
    # does: it pays the codegen compile and warms the scan of the plan that
    # is then measured.
    min_loads: dict[str, float] = {}
    for name in HEADLINE:
        run_record(name)                    # warmup pass, untimed
        timings[name], min_loads[name] = timed(name, passes=3)

    # flagship extraction throughput. The replicated input is materialized
    # as a multi-file parquet first (untimed): a single-file source would
    # feed all workers through one serial scan task — an artifact of the
    # small testdata, not of the pipeline (real inputs have >> cores splits).
    staged = tempfile.mkdtemp(prefix="bench_transcripts_")
    try:
        replicated_transcripts(spark, SF_DIR, REPLICATION).repartition(
            CPUS
        ).write.mode("overwrite").parquet(staged)
        transcripts = spark.read.parquet(staged)
        n_turns = transcripts.count()
        run_record(FLAGSHIP)                # warmup pass, untimed
        flagship_sec, min_loads[FLAGSHIP] = timed(FLAGSHIP, passes=3)
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    timings["flagship_extract"] = flagship_sec
    turns_per_sec = n_turns / flagship_sec if flagship_sec else 0.0

    total = round(sum(timings.values()), 3)

    # Secondary breadth sweep: EVERY registered query (headline set above is
    # kept stable round-over-round; this sweep makes regressions in
    # non-headline queries visible in BENCH_r{N}.json). flagship_extract is
    # skipped here — it is measured above on the replicated input.
    # Adapter-timed rows (streaming staging/poll harnesses, the staged
    # corpus_job pipeline) go in their OWN map: their wall time is
    # dominated by the harness, not the operator, and must never be read
    # as operator cost next to the real sweep rows.
    all_timings: dict[str, float] = {}
    adapter_timings: dict[str, float] = {}
    if not HEADLINE_ONLY:
        for name in sorted(registry):
            if name in timings or name == "flagship_extract":
                continue
            sink = adapter_timings if name in ADAPTER_TIMED else all_timings
            try:
                # single pass: breadth visibility, bounded total bench time
                sink[name] = timed(name, passes=1)[0]
            except Exception as exc:
                sink[name] = -1.0
                print(f"# bench sweep error {name}: {exc}", file=sys.stderr)
    # Output protocol (VERDICT r03 #3): the driver captures the TAIL of
    # stdout, so the big detail maps go on their own earlier lines and the
    # LAST line is a short, self-contained metric record guaranteed to
    # survive tail truncation.
    print(json.dumps({
        "record": "all_queries",
        "all_queries": all_timings,
        "adapter_timed_queries": adapter_timings,
    }))
    print(json.dumps({
        "record": "headline_passes",
        "headline_passes": headline_passes,
        "pass_load_avgs": pass_loads,
    }))
    print(
        json.dumps(
            {
                "metric": "total_headline_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "n_queries": (len(timings) + len(all_timings)
                              + len(adapter_timings)),
                "adapter_timed": sorted(adapter_timings),
                "sf": sf,
                "flagship_turns": n_turns,
                "flagship_turns_per_sec": round(turns_per_sec, 1),
                "cpus": CPUS,
                "load_avg": round(os.getloadavg()[0], 2),
                # fixed key set; with no load gate these read null / 0
                "quiet_load_threshold": None,
                "headline_quiet_load_threshold": None,
                "gate_sleep_spent_s": 0,
                "min_pass_loads": min_loads,
                "contaminated_after_retries": None,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
