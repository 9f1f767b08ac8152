"""Checkpoint manifest + idempotent resume (north rule; SURVEY.md B5).

The resume unit is a *bucket*: ``pmod(xxhash64(conv_id, turn_idx), n)``.
Buckets are stable under any input partitioning (unlike physical partition
ids) and give salted-hash granularity on conv_id — a heavy conversation
spreads across all buckets, so no resume unit pins a single long session.

Protocol:
1. completed buckets are read from ``<output>/_manifest`` (JSON lines:
   bucket, rows, bytes, input_fingerprint, wall_ms, engine)
2. pending = input anti-filtered on completed bucket ids
3. extraction runs on pending; results written with dynamic partition
   overwrite into ``<output>/data/bucket=<b>/`` (re-running a bucket is
   idempotent — it replaces exactly its own directory)
4. per-bucket metrics (committed row count and parquet bytes,
   order-independent input fingerprint) appended to the manifest only AFTER
   the data commit, so a crash between 3 and 4 re-processes the bucket
   (at-least-once, idempotent)

Input fingerprint: the xor-sum of per-row ``xxhash64(conv_id, turn_idx,
text)`` per bucket, recorded in each manifest entry with the bucket's input
row count.

Bookkeeping cost: one aggregate pass over the input yields every bucket's id,
fingerprint and input row count up front (at most ``n`` rows, collected to
the driver). After each wave's commit, each of its buckets is measured from
the parquet footers and file sizes of its ``data/bucket=<b>`` directory
(``io.parquet_stats``), so the wave's write is its only Spark job: no wave
re-scans the input or reads committed data back.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheque_ocr_project_spark.sources.io import parquet_stats, write_atomic

BUCKET_COL = "bucket"


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL,
        F.pmod(F.xxhash64(F.col("conv_id"), F.col("turn_idx")), F.lit(n_buckets)),
    )


def read_manifest(output_dir: str) -> list[dict]:
    path = Path(output_dir) / "_manifest"
    if not path.exists():
        return []
    entries = []
    for f in sorted(path.glob("*.json")):
        with f.open() as fh:
            for line in fh:
                line = line.strip()
                if line:
                    entries.append(json.loads(line))
    return entries


def completed_buckets(output_dir: str) -> set[int]:
    return {e["bucket"] for e in read_manifest(output_dir)}


def append_manifest(output_dir: str, entries: list[dict]) -> None:
    path = Path(output_dir) / "_manifest"
    path.mkdir(parents=True, exist_ok=True)
    stamp = f"commit-{int(time.time() * 1000)}-{len(entries)}"
    write_atomic(path / f"{stamp}.json",
                 "".join(json.dumps(e) + "\n" for e in entries))


def input_fingerprints(transcripts_b: DataFrame) -> DataFrame:
    """Per-bucket order-independent input fingerprint + input row count
    (xor-fold of row hashes: commutative, no ANSI sum overflow)."""
    h = F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.coalesce(F.col("text"), F.lit("")))
    return (
        transcripts_b.withColumn("__h", h)
        .groupBy(BUCKET_COL)
        .agg(
            F.expr("bit_xor(__h)").alias("input_fingerprint"),
            F.count(F.lit(1)).alias("input_rows"),
        )
    )


def run_with_checkpoint(
    spark: SparkSession,
    transcripts: DataFrame,
    drawer_dict: list[str],
    output_dir: str,
    n_buckets: int = 64,
    threshold: float = 0.90,
    engine: str = "arrow",
    wave_size: int = 16,
    stage_input: bool = False,
    _fail_after_waves: int | None = None,
) -> dict:
    """Extraction with per-bucket lineage + metrics; resumable.

    Buckets are processed in WAVES of ``wave_size``: each wave's data is
    committed (dynamic partition overwrite, set on the write alone — a
    wave replaces only its own bucket directories, and the caller's
    session conf is untouched) and its manifest entries appended BEFORE
    the next wave starts, so a driver crash loses at most one in-flight
    wave, not the whole run. Each entry's ``rows`` and ``bytes`` are its
    bucket's committed parquet record count and file bytes, read from the
    footers. ``wall_ms`` is the honest wall of the entry's own wave.

    Input-pass trade-off: one aggregate pass up front fingerprints every
    bucket; then by default each wave re-filters the raw input on its
    bucket ids (the bucket is a hash, so this is a scan-side filter, not
    partition pruning — 1 + n_buckets/wave_size input passes). With
    ``stage_input=True`` the bucketed input is written ONCE to
    ``<output>/_staged`` partitioned by bucket, the fingerprint pass reads
    that copy, and every wave reads only its own partitions (partition
    pruning; I/O = one write + two reads regardless of wave count — the
    right mode at 100 TB). The staged copy is reused on resume when its
    ``_staged.committed`` marker exists.

    Wave-count trade-off: each wave costs one Spark job (its write) and a
    fixed wall, whatever its size, mostly Python worker start-up per task:
    ~0.45 s on 4 local cores (12k turns in 64 buckets, min of 3: 2.0-2.3 s
    in one wave, 3.3-3.6 s in four, 5.1-5.6 s in eight). Fewer, larger
    waves are cheaper; smaller waves lose less to a crash.

    ``_fail_after_waves`` is a test hook simulating a mid-run driver crash
    AFTER that many wave commits.

    Returns {"processed_buckets", "skipped_buckets", "rows", "waves"}.
    """
    from cheque_ocr_project_spark.plans import pipeline as P

    tb = with_bucket(transcripts, n_buckets)
    if stage_input:
        staged_dir = f"{output_dir}/_staged"
        marker = Path(staged_dir + ".committed")
        if not marker.exists():
            tb.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(staged_dir)
            write_atomic(marker, "ok\n")  # after the write commits
        tb = spark.read.parquet(staged_dir).withColumn(
            BUCKET_COL, F.col(BUCKET_COL).cast("long")
        )
    done = completed_buckets(output_dir)
    # one row per non-empty bucket (<= n_buckets) — driver-small by
    # construction; every wave bucket has >= 1 input row and an entry here
    inputs = {r[BUCKET_COL]: r for r in input_fingerprints(tb).collect()}
    pending_ids = sorted(set(inputs) - done)
    if not pending_ids:
        return {"processed_buckets": 0, "skipped_buckets": len(done),
                "rows": 0, "waves": 0}

    data_dir = f"{output_dir}/data"

    total_rows, waves = 0, 0
    for w0 in range(0, len(pending_ids), wave_size):
        wave_ids = pending_ids[w0:w0 + wave_size]
        t0 = time.perf_counter()
        wave_in = tb.filter(F.col(BUCKET_COL).isin(wave_ids))
        result = P.extract_pipeline(
            spark, wave_in.drop(BUCKET_COL), drawer_dict, threshold,
            engine=engine,
        )
        result = with_bucket(result, n_buckets)
        (result.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy(BUCKET_COL).parquet(data_dir))
        wall_ms = int((time.perf_counter() - t0) * 1000)

        # Key the entries on the ATTEMPTED bucket ids, not the committed
        # output: a bucket whose extraction yields zero output rows has no
        # directory, measures (0, 0) and must still be committed to the
        # manifest, else it is re-processed on every resume forever and
        # processed_buckets overcounts.
        entries = []
        for b in wave_ids:
            rows, nbytes = parquet_stats(f"{data_dir}/{BUCKET_COL}={b}")
            entries.append({
                "bucket": b,
                "rows": rows,
                "bytes": nbytes,
                "input_fingerprint": inputs[b]["input_fingerprint"],
                "input_rows": inputs[b]["input_rows"],
                "wall_ms": wall_ms,
                "wave": waves,
                "engine": engine,
            })
        append_manifest(output_dir, entries)
        total_rows += sum(e["rows"] for e in entries)
        waves += 1
        if (
            _fail_after_waves is not None
            and waves >= _fail_after_waves
            and w0 + wave_size < len(pending_ids)
        ):
            raise RuntimeError(
                f"simulated driver crash after wave {waves} commit"
            )

    return {
        "processed_buckets": len(pending_ids),
        "skipped_buckets": len(done),
        "rows": total_rows,
        "waves": waves,
    }
