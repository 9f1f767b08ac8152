"""Flagship extraction.

``extract_pipeline`` maps transcripts(conv_id, turn_idx, role, text, tool,
ts) to one extraction record per turn in one Arrow-batched ``mapInPandas``
pass over the Python oracle (operators/extract.py). The registry rows that
run it, and its DuckDB twin, live in plans/flagship.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cheque_ocr_project_spark.operators import extract as X
from cheque_ocr_project_spark.oracle import issuer as oracle_issuer

# --------------------------------------------------------------------------
# flagship extraction
# --------------------------------------------------------------------------

def extract_pipeline(spark: SparkSession, transcripts: DataFrame,
                     drawer_dict: list[str],
                     threshold: float = oracle_issuer.DEFAULT_THRESHOLD_V1,
                     engine: str = "arrow") -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extraction
    records (operators.extract.RESULT_SCHEMA), one row per turn.

    One Arrow-batched mapInPandas pass runs the oracle per record inside
    the batch, with a per-task fuzzy memo cache: the branchy reference
    grammars short-circuit per row, which per-row CPython exploits better
    than full-column evaluation. ``engine`` accepts only ``"arrow"``.
    Tested for per-turn equality against the pure-Python oracle
    (tests/test_pipeline_equality.py).
    """
    if engine != "arrow":
        raise ValueError(f"unknown engine {engine!r}: expected 'arrow'")
    return X.extract_turns_udf(spark, transcripts, drawer_dict, threshold)


def ordered(df: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering via window-over-partition sort —
    row_number per conversation, NOT a global orderBy (north rule W3)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("turn_rank", F.row_number().over(w))
