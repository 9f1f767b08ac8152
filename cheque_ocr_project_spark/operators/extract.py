"""Arrow-batched extraction operators, plus the scan-parallelism guard.

``extract_turns_udf`` is the full-oracle mapInPandas path behind
``plans.pipeline.extract_pipeline``: it applies oracle.turn.extract_turn
over Arrow record batches, with per-task state (the broadcast dictionary
and a fuzzy-match memo) — the shape a model-holding UDF takes: per-worker
lazy state, batch-in/batch-out. ``extract_turns_v3_udf`` does the same for
the V3 variant. ``par`` gives any per-row-heavy stage at least one task
per core.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from cheque_ocr_project_spark.oracle import issuer as oracle_issuer
from cheque_ocr_project_spark.oracle import turn as oracle_turn

RESULT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("main_text", T.StringType()),
    T.StructField("success", T.BooleanType()),
    T.StructField("error", T.StringType()),
    T.StructField("cheque_type", T.StringType()),
    T.StructField("is_government", T.BooleanType()),
    T.StructField("government_category", T.StringType()),
    T.StructField("payee_rule", T.StringType()),
    T.StructField("payee_raw", T.StringType()),
    T.StructField("payee_cleaned", T.StringType()),
    T.StructField("issuer", T.StringType()),
    T.StructField("issuer_conf", T.DoubleType()),
    T.StructField("confidence", T.DoubleType()),
    T.StructField("field_date", T.StringType()),
    T.StructField("field_amount", T.StringType()),
    T.StructField("field_account", T.StringType()),
    T.StructField("micr_city", T.StringType()),
    T.StructField("micr_bank", T.StringType()),
    T.StructField("micr_serial", T.StringType()),
    T.StructField("status", T.StringType()),
    T.StructField("opr_no", T.StringType()),
    T.StructField("file_mark", T.BooleanType()),
])


def extract_turns_udf(spark: SparkSession, transcripts: DataFrame,
                      drawer_dict: list[str],
                      threshold: float = oracle_issuer.DEFAULT_THRESHOLD_V1
                      ) -> DataFrame:
    """Full-oracle extraction via mapInPandas (parity baseline path).

    Per-record errors are isolated inside the batch (B6 semantics: an ERROR
    row is emitted, the job never fails)."""

    def error_record(exc: Exception) -> dict:
        rec = dict.fromkeys(oracle_turn.RESULT_FIELDS)
        rec.update({
            "success": False, "error": str(exc), "status": "ERROR",
            "issuer_conf": 0.0, "confidence": 0.0,
            "is_government": False, "file_mark": False,
        })
        return rec

    return _map_turns(spark, transcripts, RESULT_SCHEMA,
                      oracle_turn.extract_turn, drawer_dict, threshold,
                      on_error=error_record)


def _map_turns(spark: SparkSession, transcripts: DataFrame,
               schema: T.StructType, turn_fn, drawer_dict: list[str],
               threshold: float, on_error=None) -> DataFrame:
    """mapInPandas of ``turn_fn(text, role, tool, drawer_dict, threshold,
    cache)`` per turn into ``schema`` (conv_id, turn_idx, then turn_fn's
    record fields). Per-task state: the broadcast dictionary and a fuzzy
    memo. A record that raises becomes ``on_error(exc)``, or fails the
    task when ``on_error`` is None."""
    bc = spark.sparkContext.broadcast(drawer_dict)
    names = [f.name for f in schema.fields]
    fields = names[2:]

    def run_batches(pdf_iter):
        dd = bc.value
        cache: dict = {}  # per-task fuzzy-match memo (J6; reference match_cache)
        for pdf in pdf_iter:
            # columnar accumulation (dict-of-lists -> DataFrame is ~5x
            # cheaper than list-of-dicts for wide results)
            out: dict[str, list] = {n: [] for n in fields}
            for text, role, tool in zip(pdf["text"], pdf["role"], pdf["tool"]):
                try:
                    rec = turn_fn(
                        None if text is None or isinstance(text, float) else text,
                        role,
                        None if tool is None or isinstance(tool, float) else tool,
                        dd, threshold, cache,
                    )
                except Exception as exc:  # B6: the caller's ERROR row
                    if on_error is None:
                        raise
                    rec = on_error(exc)
                for n in fields:
                    out[n].append(rec[n])
            out_pdf = pd.DataFrame(out)
            out_pdf.insert(0, "conv_id", pdf["conv_id"].values)
            out_pdf.insert(1, "turn_idx", pdf["turn_idx"].values)
            yield out_pdf[names]

    cols = ["conv_id", "turn_idx", "role", "text", "tool"]
    src = _ensure_parallelism(spark, transcripts.select(*cols))
    return src.mapInPandas(run_batches, schema=schema)


def _ensure_parallelism(spark: SparkSession, df: DataFrame) -> DataFrame:
    """CPU-bound stage: make sure there are at least as many tasks as cores.
    (A single small parquet file otherwise pins the whole extraction on 1-2
    tasks.) Decided from file-source metadata only — no RDD conversion: at
    real scale input files >> cores and this is a pure no-op."""
    target = spark.sparkContext.defaultParallelism
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    if n_files == 0:
        # In-memory / post-shuffle DataFrame (no file metadata): only add an
        # exchange when the plan is genuinely under-parallel — never
        # down-shuffle one that already has enough partitions.
        try:
            if df.rdd.getNumPartitions() >= target:
                return df
        except Exception:
            pass
    return df.repartition(target)


def par(df: DataFrame) -> DataFrame:
    """``_ensure_parallelism`` on the DataFrame's own session, for the
    per-row-heavy stages outside extraction: regex cascades, model and
    signature batch loops, the n*k*dim similarity cross joins. A small-SF
    input is ONE parquet file with ONE row group, so without it the whole
    stage runs on a single task while the other cores idle (r08: payee_clean
    sf1.0 9.9 s single-task). Apply it only where the output is a pure
    function of each row, so partitioning cannot change results."""
    return _ensure_parallelism(df.sparkSession, df)


V3_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("issuer_v3", T.StringType()),
    T.StructField("confidence_v3", T.DoubleType()),
    T.StructField("matched_with", T.StringType()),
    T.StructField("status_v3", T.StringType()),
])


def extract_turns_v3_udf(spark: SparkSession, transcripts: DataFrame,
                         drawer_dict: list[str],
                         threshold: float = 0.85) -> DataFrame:
    """V3-variant extraction (IssuerBatchProcessorV3 semantics)."""
    return _map_turns(spark, transcripts, V3_SCHEMA,
                      oracle_turn.extract_turn_v3, drawer_dict, threshold)
