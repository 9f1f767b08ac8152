"""spark-submit entrypoint for the training-corpus pipeline.

Composes the contract operators the way a data team runs them nightly:

  1. ``survivors``  — staged gate + dedup (``corpus_filter_v3``: quality,
     language, Gopher structure, repetition, exact dedup, capped near-dup
     shadowing) materialized as a documents-shaped parquet directory, so
     every downstream stage sees only surviving text.
  2. ``packed``     — greedy sequence packing over the survivors
     (``pack_sequences``): (doc, bin, offset) assignments.
  3. ``splits``     — deterministic hash train/val/test labels over the
     survivors (``train_val_split``).
  4. ``summary.txt`` — driver-small per-stage row counts.

Each stage writes an idempotent parquet artifact plus a ``_STAGE_DONE``
marker carrying its row count (from the artifact's parquet footers; the
marker is published by temp file + rename, so it is whole or absent); a
killed run restarted with ``--resume`` skips every completed stage and
recomputes only what is missing — the corpus-side analog of job.py's
checkpointed extraction resume (reference behavior:
run_production.py:48-80). The SURVIVORS stage keeps the canonical
documents layout (``survivors/documents.parquet``), so any
contract operator can be pointed at that directory unchanged (packed/
splits are derived relations, written as ``<stage>/data.parquet``).

Usage:
  spark-submit --py-files app.zip cheque_ocr_project_spark/corpus_job.py \
      --input /data/sf1 --output /data/corpus_run --resume
"""

from __future__ import annotations

import argparse
import json
import time
from pathlib import Path

from pyspark.sql import SparkSession

from cheque_ocr_project_spark.plans import queries as Q
from cheque_ocr_project_spark.plans.corpus import q_corpus_filter_v3
from cheque_ocr_project_spark.sources.io import (
    claim_run_state, parquet_stats, write_atomic,
)

DOCS_SCHEMA_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def build_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True,
                    help="directory holding documents.parquet")
    ap.add_argument("--output", required=True, help="run directory")
    ap.add_argument("--resume", action="store_true",
                    help="skip stages whose _STAGE_DONE marker exists")
    ap.add_argument("--overwrite", action="store_true",
                    help="discard ALL existing run state first (not with "
                         "--resume)")
    return ap.parse_args(argv)


def _marker(stage_dir: Path) -> Path:
    return stage_dir / "_STAGE_DONE"


def _stage_done(stage_dir: Path) -> bool:
    return _marker(stage_dir).exists()


def _finish_stage(stage_dir: Path, artifact: Path, t0: float) -> None:
    rows, _ = parquet_stats(artifact)
    write_atomic(_marker(stage_dir), json.dumps(
        {"rows": rows, "wall_ms": round((time.time() - t0) * 1000, 1)}
    ))


def run(spark: SparkSession, input_dir: str, output_dir: str,
        resume: bool = False, overwrite: bool = False) -> dict:
    """Run (or resume) the pipeline; returns per-stage row counts."""
    out = Path(output_dir)
    # destruction is scoped to the paths THIS pipeline writes (job.py's
    # discipline: an --output pointed at a directory that also holds
    # unrelated data must never take it down)
    claim_run_state(output_dir, [out / "survivors", out / "packed",
                                 out / "splits", out / "summary.txt"],
                    resume, overwrite)
    out.mkdir(parents=True, exist_ok=True)

    counts: dict[str, int] = {}

    # stage 1: gate + dedup -> documents-shaped survivors
    surv_dir = out / "survivors"
    if not (resume and _stage_done(surv_dir)):
        t0 = time.time()
        ids = q_corpus_filter_v3(spark, input_dir).select("doc_id")
        docs = spark.read.parquet(f"{input_dir}/documents.parquet")
        kept = docs.join(ids, "doc_id").select(*DOCS_SCHEMA_COLS)
        artifact = surv_dir / "documents.parquet"
        kept.write.mode("overwrite").parquet(str(artifact))
        _finish_stage(surv_dir, artifact, t0)
    counts["survivors"] = json.loads(_marker(surv_dir).read_text())["rows"]

    # stages 2+3 read the survivors directory through the SAME contract
    # callables (it is documents-shaped by construction)
    for stage, qname in (("packed", "pack_sequences"),
                         ("splits", "train_val_split")):
        stage_dir = out / stage
        if not (resume and _stage_done(stage_dir)):
            t0 = time.time()
            df = Q.queries()[qname](spark, str(surv_dir))
            artifact = stage_dir / "data.parquet"
            df.write.mode("overwrite").parquet(str(artifact))
            _finish_stage(stage_dir, artifact, t0)
        counts[stage] = json.loads(_marker(stage_dir).read_text())["rows"]

    (out / "summary.txt").write_text(
        "".join(f"{k}: {v}\n" for k, v in sorted(counts.items()))
    )
    return counts


def main(argv=None) -> None:
    args = build_args(argv)
    spark = (
        SparkSession.builder.appName("corpus_pipeline")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .getOrCreate()
    )
    try:
        counts = run(spark, args.input, args.output,
                     resume=args.resume, overwrite=args.overwrite)
        print(json.dumps({"stages": counts}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
