"""Readers / sinks / keyed merge (SURVEY.md §2.1).

The transcripts table is an Iceberg-layout table in production
(`spark.read.table("transcripts")`); in this sandbox it is a parquet
directory with the same schema, so every reader takes either a table name
or a path. Sinks:

- ``merge_upsert``       — keyed update of a master table (S8: the
  reference's update_original_dbf by filename-stem key): the semantics of
  `MERGE INTO ... WHEN MATCHED THEN UPDATE` as join + column coalesce.
- ``stem_key``           — the reference's filename-stem join key
  (issuer_processor_v.py:552-560: lower-cased Path(...).stem)
- ``parquet_stats``      — (rows, bytes) of committed parquet, no Spark job
- ``write_atomic``       — publish a manifest or marker by temp file + rename
- ``claim_run_state``    — the entrypoints' one --resume / --overwrite rule

The registry queries read the test tables of a scale-factor directory
(``read_documents`` / ``read_events`` / ``read_embeddings``), and the
flagship rows see the documents table as transcripts
(``documents_as_transcripts``; its DuckDB twin is
``DOCUMENTS_AS_TRANSCRIPTS_SQL``).
"""

from __future__ import annotations

import shutil
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


TRANSCRIPT_COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")


def _check_transcript_schema(df: DataFrame, source: str) -> DataFrame:
    missing = [c for c in TRANSCRIPT_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(
            f"input {source!r} is not a transcripts table: missing column(s) "
            f"{missing}; expected schema (conv_id string, turn_idx int, "
            f"role string, text string, tool string, ts timestamp), "
            f"got columns {df.columns}"
        )
    return df


def read_transcripts(spark: SparkSession, source: str) -> DataFrame:
    """Read the transcripts table: Iceberg table name, parquet path, or
    CSV/JSON-lines path (by extension) — the reference's manifest-CSV side
    channel (S5, custom_csv.py:24-74) maps to the csv branch. The schema is
    validated up front so a wrong input fails with a one-line message
    instead of an unresolved-column error deep inside the job."""
    if "/" not in source:
        return _check_transcript_schema(spark.read.table(source), source)
    low = source.lower()
    if low.endswith(".csv") or low.endswith("_csv"):
        # multiLine: transcript text legitimately contains newlines
        df = (
            spark.read.option("header", True)
            .option("multiLine", True)
            .csv(source)
        )
        # CSV reads everything as string; restore the transcripts types
        for c, t in (("turn_idx", "int"), ("ts", "timestamp")):
            if c in df.columns:
                df = df.withColumn(c, F.col(c).cast(t))
        return _check_transcript_schema(df, source)
    if low.endswith(".json") or low.endswith(".jsonl"):
        return _check_transcript_schema(spark.read.json(source), source)
    if low.endswith(".orc") or low.endswith("_orc"):
        # ORC keeps the full typed schema (like parquet, unlike CSV), so
        # no cast restoration is needed — columnar archives from Hive-era
        # warehouses land through this branch unchanged
        return _check_transcript_schema(spark.read.orc(source), source)
    return _check_transcript_schema(spark.read.parquet(source), source)


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def read_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def documents_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mapping of the documents table into the transcripts
    shape (conv_id, turn_idx, role, text, tool, ts)."""
    d = read_documents(spark, sf_dir)
    role = (
        F.when(F.col("doc_id") % 3 == 0, "user")
        .when(F.col("doc_id") % 3 == 1, "assistant")
        .otherwise("tool")
    )
    tool = F.when(
        F.col("doc_id") % 3 == 2,
        F.when(F.col("doc_id") % 2 == 0, "web_fetch").otherwise("pdf_extract"),
    )
    return d.select(
        # turn_idx is int32 by the transcripts contract, so a 64-bit
        # doc_id cannot be cast directly (CAST_OVERFLOW above 2^31-1) nor
        # reduced mod 2^31 alone (colliding (conv_id, turn_idx) keys fan
        # out in the per-key SQL-twin joins). The injective split — high
        # bits into conv_id, low 31 bits into turn_idx — maps EVERY int64
        # id to a unique key. TRANSCRIPT_KEYS_SQL below is the one DuckDB
        # form of the same expressions.
        # F.concat (not concat_ws) so a NULL source yields NULL conv_id,
        # matching the SQL twins' null-propagating || operator.
        # Injectivity assumption: no ``source`` value ends in '-<digits>'
        # (else 'a-1' high 0 and 'a' high 10 would both render 'a-1-0');
        # the testdata sources ('src0'..'srcN') satisfy it, and both
        # engines compute the identical string so oracle parity holds
        # regardless — only the per-(conv_id, turn_idx) uniqueness argument
        # relies on it.
        F.concat(
            F.col("source"), F.lit("-"),
            F.expr("CAST(doc_id div 2147483648 AS STRING)"),
        ).alias("conv_id"),
        F.pmod(F.col("doc_id"), F.lit(1 << 31)).cast("int").alias("turn_idx"),
        role.alias("role"),
        F.col("text"),
        tool.alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )


# DuckDB twins of documents_as_transcripts for the oracle SQL: the key
# split alone, and the whole mapping without ``ts`` (no twin reads it).
TRANSCRIPT_KEYS_SQL = (
    "source || '-' || CAST(doc_id // 2147483648 AS VARCHAR) AS conv_id, "
    "CAST(doc_id % 2147483648 AS INT) AS turn_idx"
)
DOCUMENTS_AS_TRANSCRIPTS_SQL = f"""
  SELECT {TRANSCRIPT_KEYS_SQL},
         CASE WHEN doc_id % 3 = 0 THEN 'user'
              WHEN doc_id % 3 = 1 THEN 'assistant' ELSE 'tool' END AS role,
         text,
         CASE WHEN doc_id % 3 = 2 THEN
           (CASE WHEN doc_id % 2 = 0 THEN 'web_fetch' ELSE 'pdf_extract' END)
         END AS tool
  FROM documents"""


def parquet_stats(path: str | Path) -> tuple[int, int]:
    """(rows, bytes) of the parquet files directly under ``path``: rows from
    each footer's record count, bytes from the file sizes (Iceberg's
    per-file ``record_count`` and ``file_size_in_bytes``). A directory that
    does not exist measures (0, 0)."""
    rows = nbytes = 0
    for f in Path(path).glob("*.parquet"):
        rows += pq.read_metadata(f).num_rows
        nbytes += f.stat().st_size
    return rows, nbytes


def write_atomic(path: str | Path, text: str) -> None:
    """Write ``text`` to a hidden temp file beside ``path``, then rename it
    over ``path``: a crash or a full disk mid-write leaves no truncated
    file under the final name."""
    path = Path(path)
    tmp = path.with_name(f".{path.name}.tmp")
    tmp.write_text(text)
    tmp.replace(path)


def claim_run_state(output: str, state: list[Path], resume: bool,
                    overwrite: bool) -> None:
    """The one rule job.py and corpus_job apply to the run state they keep
    under ``output`` (the ``state`` paths): --resume continues it,
    --overwrite discards all of it, neither refuses to start while any of
    it exists, and both together are an error. Raises SystemExit before any
    Spark work, so a forgotten flag cannot cost a long run's progress."""
    if resume and overwrite:
        raise SystemExit(
            "--resume continues the run state in an output and --overwrite "
            "discards it; pass one, not both"
        )
    existing = [p for p in state if p.exists()]
    if resume or not existing:
        return
    if not overwrite:
        raise SystemExit(
            f"output {output} already has run state "
            f"({', '.join(p.name for p in existing)}); pass --resume "
            "to continue it or --overwrite to discard all of it"
        )
    for p in existing:
        if p.is_dir():
            shutil.rmtree(p)
        else:
            p.unlink()


def stem_key(col: Column) -> Column:
    """lower(Path(x).stem): strip directory and the last extension
    (= issuer_processor_v.py:554, dbf_processor.py:195)."""
    base = F.element_at(F.split(col, r"[/\\]"), -1)
    return F.lower(F.regexp_replace(base, r"\.[^.]*$", ""))


def merge_upsert(target: DataFrame, updates: DataFrame, keys: list[str],
                 update_cols: list[str]) -> DataFrame:
    """MERGE ... WHEN MATCHED THEN UPDATE semantics as a portable plan.

    Rows of ``target`` matched by ``updates`` on ``keys`` get ``update_cols``
    replaced; unmatched target rows pass through; updates without a matching
    target row are ignored (the reference's update_original_dbf returns False
    for them — no insert). The small ``updates`` side is broadcast when
    Catalyst sizes allow; with heavy updates the join shuffles on the key,
    which is the scalable path.
    """
    upd = updates.select(
        *keys, *[F.col(c).alias(f"__new_{c}") for c in update_cols]
    )
    merged = target.join(upd, keys, "left")
    for c in update_cols:
        merged = merged.withColumn(c, F.coalesce(F.col(f"__new_{c}"), F.col(c)))
    return merged.drop(*[f"__new_{c}" for c in update_cols])


def drop_table_and_location(spark: SparkSession, table: str) -> None:
    """DROP TABLE IF EXISTS plus the managed-table directory: a previous
    SESSION's warehouse dir can survive while the current session's
    catalog has no entry for it, and saveAsTable then fails with
    LOCATION_ALREADY_EXISTS. Deleting through the Hadoop FileSystem API
    keeps this correct for any warehouse scheme, not just file://."""
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(wh, table.lower())
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(path):
        fs.delete(path, True)


def write_bucketed(df: DataFrame, table: str, keys: list[str],
                   n_buckets: int = 64, sort: bool = True,
                   mode: str = "overwrite") -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) managed table.

    Bucketing is THE co-location tool for repeated large-large joins at
    corpus scale: two tables bucketed on the same keys with the same
    bucket count join with ZERO exchange — the shuffle is paid once at
    write time instead of on every join. The per-join SORT also vanishes
    when `spark.sql.legacy.bucketedTableScan.outputOrdering=true`, which
    is safe precisely because this writer produces one file per bucket
    (multi-file buckets interleave, SPARK-28632).
    `tests/test_scale_mechanics.py::test_bucketed_join_colocates` locks
    both plan shapes. Reference analog: the
    reference re-reads and re-groups its master table per batch
    (issuer_processor_v.py); bucketing amortizes that into the layout."""
    # One file per bucket: Spark only exploits sortBy metadata when every
    # bucket is a single file (multi-file buckets force a per-join Sort).
    # repartition uses the same Murmur3+pmod assignment as the bucket
    # spec, so each write task holds exactly one bucket's rows.
    if mode == "append":
        # Appending writes a SECOND file per bucket by construction,
        # destroying the one-file invariant the sort-elision flag depends
        # on — reject up front instead of committing data and failing the
        # post-write check. Rolling ingest keeps new batches in their own
        # relation and JOINS against the bucketed table
        # (dedup.incremental_minhash_pairs), it does not append to it.
        raise ValueError(
            "write_bucketed cannot append: a second file per bucket would "
            "break the one-file-per-bucket layout (SPARK-28632); write a "
            "new table or overwrite"
        )
    df = df.repartition(n_buckets, *[F.col(k) for k in keys])
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *keys)
    if sort:
        w = w.sortBy(*keys)
    w.saveAsTable(table)
    _assert_one_file_per_bucket(df.sparkSession, table)


def _assert_one_file_per_bucket(spark: SparkSession, table: str) -> None:
    """Enforce (not assume) the one-file-per-bucket invariant the legacy
    outputOrdering flag depends on: a caller session with
    ``spark.sql.files.maxRecordsPerFile`` set would silently split a
    bucket across files, making sort-elision unsafe (SPARK-28632). Spark
    bucketed data files carry the bucket id as the ``_NNNNN`` suffix.
    Files are listed through the Hadoop FileSystem API, so the check holds
    for any table location scheme (file://, hdfs://, s3a://), not just a
    local path."""
    import re as _re

    loc_row = (
        spark.sql(f"DESCRIBE FORMATTED {table}")
        .filter(F.col("col_name") == "Location").collect()
    )
    if not loc_row:
        raise AssertionError(
            f"cannot verify bucket layout of {table}: DESCRIBE FORMATTED "
            "reports no Location"
        )
    loc = loc_row[0]["data_type"]
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(loc)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    counts: dict[str, int] = {}
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        m = _re.search(r"_(\d{5})\.", name)
        if m:
            counts[m.group(1)] = counts.get(m.group(1), 0) + 1
    if not counts:
        raise AssertionError(
            f"cannot verify bucket layout of {table}: no bucketed data "
            f"files found under {loc}"
        )
    multi = {b: n for b, n in counts.items() if n > 1}
    if multi:
        raise AssertionError(
            f"bucketed table {table} has multi-file buckets {multi}; "
            "unset spark.sql.files.maxRecordsPerFile — the legacy "
            "bucketedTableScan.outputOrdering sort-elision would be unsafe"
        )
