"""Seeded benchmark inputs, made and staged before any timing starts.

Every table is a pure function of ``(seed, scale)``: the same arguments
write byte-identical rows. Nothing here imports Spark; staging uses
pyarrow so it costs no Spark job and leaves no Spark state behind.

- transcripts: ``sources.synth.generate_transcripts`` cut to a fixed turn
  count (so run-to-run work does not vary with the seed's conversation
  lengths) and written as ``nproc`` parquet files, like a partitioned
  landing directory. No row is replicated.
- documents / events / embeddings: a seeded row sample of the registry's
  sf0.1 tables, which ``data/sf0.1/`` holds as the test data has them.
  Ids and row order are kept, so ids have the gaps of a row sample. Each
  table is one parquet file, the layout the registry queries are written
  for.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Input sizes at scale 1.0 (the benchmark's --scale multiplies them).
TURNS = 12_000
# Rows sampled from each sf0.1 table (5,000 documents, 100,000 events,
# 2,000 embeddings).
SAMPLE_ROWS = {"documents": 800, "events": 30_000, "embeddings": 600}
DATA = Path(__file__).resolve().parent / "data" / "sf0.1"

TRANSCRIPT_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


def scaled(n: int, scale: float) -> int:
    return max(1, round(n * scale))


def transcripts(seed: int, scale: float) -> pd.DataFrame:
    """Synthetic cheque transcripts with exactly ``scaled(TURNS)`` turns."""
    from cheque_ocr_project_spark.sources import synth

    n_turns = scaled(TURNS, scale)
    # ~26 turns per conversation plus an 800-turn session every 97th;
    # draw generously, then cut to the fixed turn count.
    n_convs = max(4, n_turns // 20)
    df = synth.generate_transcripts(n_convs=n_convs, seed=seed,
                                    outlier_turns=min(800, n_turns // 4))
    if len(df) < n_turns:
        raise ValueError(f"generator gave {len(df)} turns, need {n_turns}")
    return df.iloc[:n_turns].reset_index(drop=True)


def stage_transcripts(df: pd.DataFrame, out_dir: Path, n_files: int) -> Path:
    """Write ``df`` as ``n_files`` parquet files (row order kept)."""
    out_dir.mkdir(parents=True)
    table = pa.Table.from_pandas(df, schema=TRANSCRIPT_SCHEMA,
                                 preserve_index=False)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       out_dir / f"part-{i:05d}.parquet")
    return out_dir


def sample_table(name: str, seed: int, scale: float) -> pa.Table:
    """A seeded row sample of the sf0.1 table ``name``, ids and file order
    kept, of ``scaled(SAMPLE_ROWS[name])`` rows."""
    table = pq.read_table(DATA / f"{name}.parquet")
    n = min(table.num_rows, scaled(SAMPLE_ROWS[name], scale))
    gen = np.random.default_rng([seed, list(SAMPLE_ROWS).index(name)])
    return table.take(np.sort(gen.choice(table.num_rows, size=n,
                                         replace=False)))


def stage_tables(seed: int, scale: float, out_dir: Path) -> dict[str, int]:
    """Write documents/events/embeddings as ``<out_dir>/<table>.parquet``
    (the layout ``__spark_entry__.queries()`` reads); returns row counts."""
    out_dir.mkdir(parents=True)
    rows = {}
    for name in SAMPLE_ROWS:
        table = sample_table(name, seed, scale)
        pq.write_table(table, out_dir / f"{name}.parquet")
        rows[name] = table.num_rows
    return rows
