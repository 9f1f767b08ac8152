#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints JSON lines; detail records
(all-query sweep, per-pass timings + load averages) come first and the
FINAL line is the short driver-parseable metric record:
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
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPLICATION = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATION", "20"))
# 1-min load above which a pass counts as contaminated by shared-sandbox
# CPU steal. Calibration note: the reading INCLUDES the bench's own
# steady-state self-load — a healthy local[32] run records pass-start
# loads of 6-16 (decaying average of its own previous passes; measured
# r05, pass times flat across those loads), while the r03/r04 steal
# episodes pushed the host past ~25. The default therefore sits above the
# self-load ceiling and below steal territory; a spike can only INFLATE a
# pass, never deflate it, so extra quiet passes pull min-of-K down to the
# true value.
QUIET_LOAD = float(
    os.environ.get("SPARK_GRAFT_QUIET_LOAD", str(max(6.0, CPUS * 0.6)))
)
# Stricter ceiling for the HEADLINE records (VERDICT r06 #2): a headline
# minimum is only ACCEPTED from a pass whose start load was <= CPUS/4 —
# the sweep threshold (0.6*CPUS) exists to classify breadth passes after
# the bench has been saturating the box for minutes, but the headline
# rows are the record of truth the judge compares round-over-round, so
# they are measured FIRST (before the flagship passes pollute the 1-min
# average) with a short load-drain gate before each record.
HEADLINE_QUIET_LOAD = float(
    os.environ.get("SPARK_GRAFT_HEADLINE_QUIET_LOAD",
                   str(max(2.0, CPUS / 4)))
)
# total seconds the headline phase may spend sleeping for load to drain
GATE_SLEEP_BUDGET_S = int(
    os.environ.get("SPARK_GRAFT_GATE_SLEEP_BUDGET_S", "420")
)
RETIME_SLEEP_S = int(os.environ.get("SPARK_GRAFT_RETIME_SLEEP_S", "20"))
RETIME_BUDGET = int(os.environ.get("SPARK_GRAFT_RETIME_BUDGET", "18"))
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
    # 1-min load average at the START of each pass: a shared-sandbox CPU
    # steal spike is then mechanically attributable (high load -> discard
    # the reading when comparing rounds). VERDICT r03 #8.
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

    def one_pass(rec: str) -> float:
        """THE single measured-pass implementation (load sample, timer,
        noop sink). Every pass — flagship, headline, breadth
        sweep, load-aware retime — goes through here, so the protocol
        cannot drift between copies."""
        pass_loads.setdefault(rec, []).append(round(os.getloadavg()[0], 2))
        t0 = time.perf_counter()
        run_record(rec)
        sec = round(time.perf_counter() - t0, 3)
        headline_passes.setdefault(rec, []).append(sec)
        return sec

    gate_budget = [GATE_SLEEP_BUDGET_S]

    def gate() -> None:
        """Drain the 1-min load below the headline ceiling before a
        record's first measured pass (the reading includes the bench's
        own previous passes; the average decays with a ~60s constant, so
        short sleeps buy quiet starts). Bounded by a global budget so a
        genuinely hot box degrades to tagged-contaminated records
        instead of an unbounded stall."""
        while (os.getloadavg()[0] > HEADLINE_QUIET_LOAD
               and gate_budget[0] > 0):
            time.sleep(5)
            gate_budget[0] -= 5

    def quiet_passes(rec: str) -> list[float]:
        return [
            v for v, ld in zip(headline_passes[rec], pass_loads[rec])
            if ld <= HEADLINE_QUIET_LOAD
        ]

    def timed(name: str, passes: int = 2) -> float:
        """min of K passes: the shared sandbox shows intermittent multi-
        second CPU-steal spikes (10-30s) that land on random queries; a
        spike must hit the same query K times to survive min-of-K. All
        passes are recorded so a noise-contaminated reading is visible as
        such instead of looking like a regression."""
        for _ in range(passes):
            one_pass(name)
        return round(min(headline_passes[name]), 3)

    # Warmup at the smallest SF: pays the one-time codegen/janino compile for
    # every plan shape (the generated code is path-independent, so the
    # compile cache hits when the same query runs at the target SF).
    warm_dir = "/root/testdata/sf0.001"
    for name in HEADLINE:
        try:
            registry[name](spark, warm_dir).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:
            pass

    # HEADLINE phase FIRST (VERDICT r06 #2): these are the round-over-round
    # record of truth, so they run before the flagship passes saturate the
    # box, each record gated on a quiet start.
    for name in HEADLINE:
        gate()
        timings[name] = timed(name, passes=3)

    # flagship extraction throughput. The replicated input is materialized
    # as a multi-file parquet first (untimed): a single-file source would
    # feed all workers through one serial scan task — an artifact of the
    # small testdata, not of the pipeline (real inputs have >> cores splits).
    import tempfile

    staged = tempfile.mkdtemp(prefix="bench_transcripts_")
    replicated_transcripts(spark, SF_DIR, REPLICATION).repartition(
        CPUS
    ).write.mode("overwrite").parquet(staged)
    transcripts = spark.read.parquet(staged)
    n_turns = transcripts.count()
    # warmup pass (python workers + codegen), then min-of-K measured runs
    # (same noise rationale as timed()).
    run_record(FLAGSHIP)                    # warmup pass, untimed
    gate()
    for _ in range(3):
        one_pass(FLAGSHIP)

    # Load-aware re-timing (VERDICT r04 #1, tightened r06 #2): any
    # headline/flagship record with NO pass under the headline ceiling gets
    # bounded extra passes (global budget, short pre-sleep for the spike
    # to drain); the final record tags every headline min with the load of
    # the pass that produced it, plus an explicit contaminated list when
    # the budget ran out while the box stayed hot.
    retime_budget = RETIME_BUDGET
    retime_order = list(HEADLINE) + [FLAGSHIP]
    for rec in retime_order:
        for _ in range(2):                      # <= 2 retries per record
            if quiet_passes(rec) or retime_budget <= 0:
                break
            if os.getloadavg()[0] > HEADLINE_QUIET_LOAD:
                time.sleep(RETIME_SLEEP_S)      # give the spike a chance
            one_pass(rec)
            retime_budget -= 1

    def accepted(rec: str) -> tuple[float, float]:
        """(min_sec, its pass-start load), minimum over QUIET passes when
        any exist (a steal spike can only inflate a pass, so restricting
        to quiet starts never hides a regression); falls back to the
        global min — visibly tagged via the load — when the budget ran
        out hot."""
        pairs = list(zip(headline_passes[rec], pass_loads[rec]))
        quiet = [(v, ld) for v, ld in pairs if ld <= HEADLINE_QUIET_LOAD]
        v, ld = min(quiet or pairs)
        return round(v, 3), ld

    for name in HEADLINE:
        timings[name] = accepted(name)[0]
    flagship_sec = accepted(FLAGSHIP)[0]
    timings["flagship_extract"] = round(flagship_sec, 3)
    turns_per_sec = n_turns / flagship_sec if flagship_sec else 0.0

    min_loads = {rec: accepted(rec)[1] for rec in retime_order}
    contaminated = sorted(
        r for r, ld in min_loads.items() if ld > HEADLINE_QUIET_LOAD
    )

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
        for name, fn in sorted(registry.items()):
            if name in timings or name == "flagship_extract":
                continue
            sink = adapter_timings if name in ADAPTER_TIMED else all_timings
            try:
                # single pass: breadth visibility, bounded total bench time
                sink[name] = timed(name, passes=1)
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
                "quiet_load_threshold": QUIET_LOAD,
                "headline_quiet_load_threshold": HEADLINE_QUIET_LOAD,
                "gate_sleep_spent_s": GATE_SLEEP_BUDGET_S - gate_budget[0],
                "min_pass_loads": min_loads,
                "contaminated_after_retries": contaminated,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
