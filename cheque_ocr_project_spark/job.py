"""spark-submit entrypoint for the extraction job.

Packaging (north rule: ships as --py-files):

    python -m zipfile -c /tmp/cheque_ocr_project_spark.zip cheque_ocr_project_spark
    spark-submit --py-files /tmp/cheque_ocr_project_spark.zip \
        cheque_ocr_project_spark/job.py \
        --input /path/to/transcripts --output /path/to/out \
        --dict-source /path/to/master.parquet --n-buckets 256 --resume

In local testing `--master local[N]` comes from spark-submit / the default
session; on a cluster the same invocation runs unchanged at N or 4N
executors (scaling evidence: BENCH/BASELINE.md).
"""

from __future__ import annotations

import argparse
import json


def build_args(argv=None):
    ap = argparse.ArgumentParser(description="transcripts extraction job")
    ap.add_argument("--input", required=True,
                    help="transcripts source: Iceberg table name or parquet path")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--dict-source", default=None,
                    help="parquet with a drawer_nm column for the fuzzy "
                         "dictionary (default: built-in deterministic dim)")
    ap.add_argument("--threshold", type=float, default=0.90)
    ap.add_argument("--n-buckets", type=int, default=64,
                    help="checkpoint/salt buckets (resume granularity)")
    ap.add_argument("--wave-size", type=int, default=16,
                    help="buckets committed per manifest wave (crash loses "
                         "at most one in-flight wave; each wave adds a fixed "
                         "~0.8 s on 4 local cores, so fewer, larger waves "
                         "are cheaper)")
    ap.add_argument("--stage-input", action="store_true",
                    help="write the bucketed input once (partitioned by "
                         "bucket) so waves read with partition pruning "
                         "instead of re-scanning — the right mode at scale")
    ap.add_argument("--resume", action="store_true",
                    help="skip buckets already committed to the manifest")
    ap.add_argument("--overwrite", action="store_true",
                    help="allow a fresh run to delete an existing manifest "
                         "(without it, a fresh run into a populated output "
                         "directory fails instead of silently destroying "
                         "resume state)")
    ap.add_argument("--normalize-ws", action=argparse.BooleanOptionalAction,
                    default=True,
                    help="normalize exotic separators (\\x1c-\\x1f, NEL, "
                         "Unicode spaces) to plain spaces at the scan "
                         "boundary, so the Python-oracle extraction agrees "
                         "with the Catalyst/DuckDB twins of the same grammars "
                         "beyond the ASCII input contract. "
                         "DEFAULT ON (VERDICT r05 #3) — real ingest should "
                         "not depend on callers knowing the flag; pass "
                         "--no-normalize-ws to preserve exotic separators "
                         "byte-for-byte")
    ap.add_argument("--limit", type=int, default=None)
    return ap.parse_args(argv)


def main(argv=None) -> None:
    args = build_args(argv)

    if not args.resume:
        # Fresh run: a previous manifest is resume state. Destroying it must
        # be explicit (--overwrite); otherwise fail loudly BEFORE any Spark
        # work so an operator cannot lose a multi-hour run's progress with a
        # forgotten flag.
        import shutil
        import sys
        from pathlib import Path

        # ALL resume state must go together: the manifest, the staged-input
        # copy + its commit marker (else a fresh --stage-input run silently
        # reuses STALE staged data even when --input changed), and the data
        # dir (else buckets the new input leaves empty survive dynamic
        # partition overwrite from the prior run).
        out = Path(args.output)
        state = [out / "_manifest", out / "_staged",
                 out / "_staged.committed", out / "data"]
        existing = [p for p in state if p.exists()]
        if existing:
            if not args.overwrite:
                sys.exit(
                    f"output {args.output} already has run state "
                    f"({', '.join(p.name for p in existing)}); pass --resume "
                    "to continue it or --overwrite to discard all of it"
                )
            for p in existing:
                if p.is_dir():
                    shutil.rmtree(p)
                else:
                    p.unlink()

    from pyspark.sql import SparkSession

    from cheque_ocr_project_spark.oracle import fuzzy
    from cheque_ocr_project_spark.sources import checkpoint, io

    spark = (
        SparkSession.builder.appName("cheque-ocr-extraction")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    transcripts = io.read_transcripts(spark, args.input)
    if args.limit:
        transcripts = transcripts.limit(args.limit)
    if args.normalize_ws:
        from pyspark.sql import functions as F

        from cheque_ocr_project_spark.functions import columns as C

        transcripts = transcripts.withColumn(
            "text", C.normalize_separators(F.col("text"))
        )

    if args.dict_source:
        raw_names = [
            r[0] for r in spark.read.parquet(args.dict_source)
            .select("drawer_nm").collect()
        ]
        drawer_dict = fuzzy.build_drawer_dict(raw_names)
    else:
        from cheque_ocr_project_spark.sources.synth import default_drawer_dict
        drawer_dict = default_drawer_dict()

    stats = checkpoint.run_with_checkpoint(
        spark, transcripts, drawer_dict, args.output,
        n_buckets=args.n_buckets, threshold=args.threshold,
        wave_size=args.wave_size, stage_input=args.stage_input,
    )
    print(json.dumps({"job": "extraction", **stats}))
    spark.stop()


if __name__ == "__main__":
    main()
