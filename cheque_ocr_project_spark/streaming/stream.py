"""Structured Streaming wrapper for incremental extraction.

The reference is strictly batch (SURVEY.md §2.10) — its incremental
machinery is directory chunking with an in-memory dedup set
(parallel_processor.py:124-128). The Spark-native equivalent is a file
stream source + the engine's exactly-once sink tracking:

- ``stream_extract``  — readStream over a transcripts directory →
  the same Arrow-batched extraction → parquet sink partitioned by
  ``batch_id`` with dynamic partition overwrite. foreachBatch is
  AT-LEAST-ONCE: a crash between the data write and the streaming
  checkpoint commit replays the batch — partitioning by batch_id makes the
  replay REPLACE its own partition instead of appending duplicates
  (idempotent sink = effective exactly-once). ``Trigger.AvailableNow``
  drains everything present and stops, which is the batch-chunking
  semantics the reference hand-rolls (parallel_processor.py:124-128).
- ``stream_status_counts`` — the run-metrics counters (A2) as a streaming
  aggregation with ``outputMode('complete')`` into memory for monitoring.

Event-time machinery (watermarks, windowed aggregation over ``ts``) is
demonstrated in ``stream_turn_rate`` — turns/minute with a 10-minute
watermark for late turns — the idiom a production monitor would use even
though the reference itself has no event-time semantics to match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("role", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("tool", T.StringType()),
    T.StructField("ts", T.TimestampType()),
])


def read_transcript_stream(spark: SparkSession, input_dir: str,
                           max_files_per_trigger: int | None = None) -> DataFrame:
    reader = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(input_dir)


def stream_extract(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str, drawer_dict: list[str],
                   threshold: float = 0.90, available_now: bool = True):
    """Incremental extraction: new transcript files → extraction records.

    foreachBatch applies the same mapInPandas extraction used by the batch
    pipeline, so streaming and batch share one implementation (and one
    equality proof)."""
    from cheque_ocr_project_spark.operators import extract as X

    stream = read_transcript_stream(spark, input_dir)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        out = X.extract_turns_udf(spark, batch_df, drawer_dict, threshold)
        # idempotent per batch_id: a replayed batch overwrites exactly its
        # own partition (foreachBatch is at-least-once)
        (
            out.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DOCS_STREAM_SCHEMA = "doc_id long, text string"


def stream_novelty(spark: SparkSession, input_dir: str, output_dir: str,
                   checkpoint_dir: str, index_table: str,
                   num_perm: int = 64, bands: int = 16, shingle_k: int = 5,
                   threshold: float = 0.5, available_now: bool = True):
    """Rolling-ingest novelty filter under Structured Streaming: each
    micro-batch (one file per trigger — arrival order is the file
    stream's mtime order) is compared against everything seen so far
    (the persisted LSH index + delta) and against itself, only docs
    with no earlier near-duplicate reach the sink, and the batch is
    appended to the index. The stateful external index IS the streaming
    state — unbounded dedup state cannot live in the streaming state
    store, which is exactly why production crawl dedup keeps an LSM
    index beside the stream.

    Drop rule and idempotency: dedup.novelty_ingest_batch is the SINGLE
    shared implementation (the batch twin q_minhash_novelty runs the
    same function, so the two cannot drift). It bands the batch exactly
    once, appends it to the index BEFORE the verdicts materialize, and
    guards the cross-probe drop on id_a > id_b — which makes foreachBatch
    REPLAY safe: a redelivery after a crash between the index append and
    the checkpoint commit probes an index already containing the batch's
    own rows, but self-pairs have equal ids (no drop) and mirror pairs
    reproduce the within-batch rule, so the replayed sink write
    (partition overwrite by batch_id) replaces its partition with
    identical content; duplicate index rows are harmless to pair
    identity (the candidate join dedups on (id_a, id_b))."""
    from cheque_ocr_project_spark.operators import dedup as DD

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(input_dir)
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        dropped = DD.novelty_ingest_batch(
            spark, batch_df, index_table, "doc_id", "text",
            num_perm, bands, shingle_k, threshold, n_buckets=8,
        )
        novel = batch_df.join(dropped, "doc_id", "left_anti")
        (
            novel.select("doc_id", F.length("text").alias("text_len"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(output_dir)
        )

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_status_counts(spark: SparkSession, results_dir: str,
                         checkpoint_dir: str, query_name: str):
    """Run-metrics counters (A2) as a streaming aggregation into memory."""
    results = (
        spark.readStream.schema(
            spark.read.parquet(results_dir).schema
        ).format("parquet").load(results_dir)
    )
    counts = results.groupBy("status").count()
    return (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_turn_rate(spark: SparkSession, input_dir: str, checkpoint_dir: str,
                     query_name: str, window: str = "1 minute",
                     watermark: str = "10 minutes"):
    """Event-time turns-per-window with late-data watermark."""
    stream = read_transcript_stream(spark, input_dir)
    rate = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window))
        .agg(F.count(F.lit(1)).alias("turns"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("turns"),
        )
    )
    return (
        rate.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
