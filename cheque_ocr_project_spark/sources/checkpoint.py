"""Checkpoint manifest + idempotent resume (north rule; SURVEY.md B5).

The resume unit is a *bucket*: ``pmod(xxhash64(conv_id, turn_idx), n)``.
Buckets are stable under any input partitioning (unlike physical partition
ids) and give salted-hash granularity on conv_id — a heavy conversation
spreads across all buckets, so no resume unit pins a single long session.

Layout: ``<output>/data/`` is one flat parquet dataset, ``RESULT_SCHEMA``
plus ``bucket`` as a data column, with no partition directories; each wave
appends one file per write task. ``<output>/_manifest/`` holds one
JSON-lines commit file per wave with one entry per bucket: bucket, rows,
bytes, files, input_fingerprint, input_rows, wall_ms, wave, engine.
``files`` lists the data files that hold the bucket's rows, each as
``{"path", "rows"}`` (the bucket's rows in the file); ``bytes`` is the
summed size of those files. This is the Iceberg commit: a data file is
live only while an entry lists it.

Protocol:
1. entries are read from ``<output>/_manifest``; a later commit's entry
   for a bucket supersedes an earlier one (``live_entries``)
2. before any wave, every ``*.parquet`` under ``data/`` that no live entry
   lists is deleted (with its ``.crc``), and so is ``data/_temporary``; a
   listed file whose footer counts more rows than its entries list (an
   entry was lost) is rewritten without the unlisted buckets' rows under a
   new name, and one commit re-lists the entries that named it
3. pending = input buckets with no entry; each wave extracts its pending
   buckets and appends the result to ``data/`` (no partition overwrite:
   step 2 already took every pending bucket's rows out of the live files)
4. the wave's entries are committed as one atomic file only AFTER the data
   commit, so a crash between 3 and 4 leaves files no entry lists, which
   step 2 deletes on resume before the wave's buckets run again
   (at-least-once, idempotent)

Input fingerprint: the xor-sum of per-row ``xxhash64(conv_id, turn_idx,
text)`` per bucket, recorded in each manifest entry with the bucket's input
row count.

Bookkeeping cost: one aggregate pass over the input yields every bucket's id,
fingerprint and input row count up front (at most ``n`` rows, collected to
the driver). After each wave's commit, its buckets' rows are counted from
the ``bucket`` column of the wave's new files, read with pyarrow on the
driver, so the wave's write is its only Spark job: no wave re-scans the
input or reads committed data back through Spark.
"""

from __future__ import annotations

import json
import shutil
import time
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cheque_ocr_project_spark.sources.io import write_atomic

BUCKET_COL = "bucket"


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL,
        F.pmod(F.xxhash64(F.col("conv_id"), F.col("turn_idx")), F.lit(n_buckets)),
    )


def _commits(path: Path) -> list[Path]:
    """The commit files of a manifest directory, oldest first."""
    return sorted(path.glob("commit-*.json"),
                  key=lambda f: int(f.stem.split("-")[1]))


def read_manifest(output_dir: str) -> list[dict]:
    """Every committed entry, oldest commit first; a resume that rewrites a
    file re-commits the entries naming it, so a bucket can appear twice."""
    path = Path(output_dir) / "_manifest"
    if not path.exists():
        return []
    entries = []
    for f in _commits(path):
        with f.open() as fh:
            for line in fh:
                line = line.strip()
                if line:
                    entries.append(json.loads(line))
    return entries


def live_entries(entries: list[dict]) -> list[dict]:
    """The latest of ``entries`` (in commit order) for each bucket."""
    return list({e["bucket"]: e for e in entries}.values())


def completed_buckets(output_dir: str) -> set[int]:
    return {e["bucket"] for e in read_manifest(output_dir)}


def append_manifest(output_dir: str, entries: list[dict]) -> None:
    path = Path(output_dir) / "_manifest"
    path.mkdir(parents=True, exist_ok=True)
    # commit stamps strictly increase, so read order is commit order
    last = _commits(path)
    stamp = int(time.time() * 1000)
    if last:
        stamp = max(stamp, int(last[-1].stem.split("-")[1]) + 1)
    write_atomic(path / f"commit-{stamp}-{len(entries)}.json",
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


def _refuse_old_layout(output_dir: str, entries: list[dict]) -> None:
    """Exit, deleting nothing, on an output whose data sits in
    ``bucket=<b>`` directories: its entries list no files, so the flat
    layout's cleanup would see every row as unlisted."""
    data_dir = Path(output_dir) / "data"
    if (any(data_dir.glob(f"{BUCKET_COL}=*"))
            or any("files" not in e for e in entries)):
        raise SystemExit(
            f"output {output_dir} was written with data/{BUCKET_COL}=<b> "
            "directories and cannot be resumed; run again into a new output "
            "(job.py: --overwrite)"
        )


def _remove_data_file(path: Path) -> None:
    path.unlink(missing_ok=True)
    path.with_name(f".{path.name}.crc").unlink(missing_ok=True)


def _bytes(data_dir: Path, files: list[dict]) -> int:
    return sum((data_dir / f["path"]).stat().st_size for f in files)


def _reconcile_data(output_dir: str, entries: list[dict]) -> None:
    """Step 2 of the protocol: leave ``data/`` holding exactly the rows the
    entries list."""
    data_dir = Path(output_dir) / "data"
    shutil.rmtree(data_dir / "_temporary", ignore_errors=True)
    # path -> {bucket: its rows in the file}
    listed: dict[str, dict[int, int]] = {}
    for e in entries:
        for f in e["files"]:
            listed.setdefault(f["path"], {})[e["bucket"]] = f["rows"]
    for p in data_dir.glob("*.parquet"):
        if p.name not in listed:
            _remove_data_file(p)
    stale = {path: rows for path, rows in listed.items()
             if sum(rows.values())
             < pq.read_metadata(data_dir / path).num_rows}
    if not stale:
        return
    # the Hadoop local FS checks a file against its .crc, so a rewrite
    # takes a new name rather than replacing the file in place
    renamed = {}
    for path, rows in stale.items():
        t = pq.read_table(data_dir / path)
        keep = pa.array(sorted(rows), t.schema.field(BUCKET_COL).type)
        t = t.filter(pc.is_in(t[BUCKET_COL], value_set=keep))
        renamed[path] = f"part-{uuid.uuid4()}.parquet"
        pq.write_table(t, data_dir / renamed[path])
    updated = []
    for e in entries:
        if not any(f["path"] in renamed for f in e["files"]):
            continue
        files = [{**f, "path": renamed.get(f["path"], f["path"])}
                 for f in e["files"]]
        updated.append({**e, "files": files, "bytes": _bytes(data_dir, files)})
    # a crash before this commit leaves the new files unlisted, and one
    # after it the old ones: either way the next run deletes them
    append_manifest(output_dir, updated)
    for path in stale:
        _remove_data_file(data_dir / path)


def _bucket_files(data_dir: Path, names: set[str]) -> dict[int, list[dict]]:
    """bucket -> the file records of the new files ``names`` that hold its
    rows, counted from each file's ``bucket`` column (dictionary-encoded,
    so the read is small). A file with no rows is deleted: Spark writes one
    schema-only file for a wave with no output, and no entry lists it."""
    out: dict[int, list[dict]] = {}
    for name in sorted(names):
        col = pq.read_table(data_dir / name, columns=[BUCKET_COL])[BUCKET_COL]
        if len(col) == 0:
            _remove_data_file(data_dir / name)
            continue
        for c in pc.value_counts(col).to_pylist():
            out.setdefault(c["values"], []).append(
                {"path": name, "rows": c["counts"]})
    return out


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

    Buckets are processed in WAVES of ``wave_size``: each wave appends its
    extraction to ``data/`` as one flat file per write task and commits its
    manifest entries, which list those files, BEFORE the next wave starts, so a driver crash loses at
    most one in-flight wave, not the whole run. Each entry's ``rows`` is its
    bucket's committed record count and ``bytes`` the size of the files
    holding them. ``wall_ms`` is the honest wall of the entry's own wave.

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
    ~0.4 s on 4 local cores (12k turns in 64 buckets, min of 3: 1.0 s in
    one wave, 2.1 s in four, 4.1 s in eight; 1.9, 3.1 and 4.7 s when each
    wave wrote one directory per bucket). Fewer, larger waves are cheaper;
    smaller waves lose less to a crash.

    A resume into an output written with ``data/bucket=<b>`` directories
    exits with a one-line message and deletes nothing.

    ``_fail_after_waves`` is a test hook simulating a mid-run driver crash
    AFTER that many wave commits.

    Returns {"processed_buckets", "skipped_buckets", "rows", "waves"}.
    """
    from cheque_ocr_project_spark.plans import pipeline as P

    entries = live_entries(read_manifest(output_dir))
    _refuse_old_layout(output_dir, entries)
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
    _reconcile_data(output_dir, entries)
    done = {e["bucket"] for e in entries}
    # one row per non-empty bucket (<= n_buckets) — driver-small by
    # construction; every wave bucket has >= 1 input row and an entry here
    inputs = {r[BUCKET_COL]: r for r in input_fingerprints(tb).collect()}
    pending_ids = sorted(set(inputs) - done)
    if not pending_ids:
        return {"processed_buckets": 0, "skipped_buckets": len(done),
                "rows": 0, "waves": 0}

    data_dir = Path(output_dir) / "data"

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
        live = {p.name for p in data_dir.glob("*.parquet")}
        result.write.mode("append").parquet(str(data_dir))
        new = {p.name for p in data_dir.glob("*.parquet")} - live
        files_of = _bucket_files(data_dir, new)
        wall_ms = int((time.perf_counter() - t0) * 1000)

        # Key the entries on the ATTEMPTED bucket ids, not the committed
        # output: a bucket whose extraction yields zero output rows is in
        # no file, measures (0, 0) and must still be committed to the
        # manifest, else it is re-processed on every resume forever and
        # processed_buckets overcounts.
        entries = []
        for b in wave_ids:
            files = files_of.get(b, [])
            entries.append({
                "bucket": b,
                "rows": sum(f["rows"] for f in files),
                "bytes": _bytes(data_dir, files),
                "files": files,
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
