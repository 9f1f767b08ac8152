#!/usr/bin/env python
"""Extra measurement harness for optimization work (guide §1.4): times
individual registry queries in isolation with the noop sink and optionally
dumps .explain("formatted") per query. NEVER used by the driver — bench.py
stays the frozen measurement contract.

Usage:
  python bench_extra.py q1 q2 ...          # time each query, min of N passes
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py minhash_near_dup
  python bench_extra.py --explain-dir plans/r08 --suffix before q1 q2
  python bench_extra.py --passes 3 q1
"""

from __future__ import annotations

import argparse
import json
import os
import time

from bench import build_session

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--sf-dir", default=SF_DIR)
    args = ap.parse_args()

    from cheque_ocr_project_spark.plans import queries as Q

    spark = build_session()
    spark.sparkContext.setLogLevel("ERROR")
    registry = Q.queries()

    results: dict[str, list[float]] = {}
    for name in args.queries:
        fn = registry[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            df = fn(spark, args.sf_dir)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(
                os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt"), "w"
            ) as fh:
                fh.write(txt)
        # warmup pass (codegen compile)
        try:
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            print(json.dumps({"query": name, "error": str(exc)}))
            continue
        secs = []
        for _ in range(args.passes):
            load = os.getloadavg()[0]
            t0 = time.perf_counter()
            fn(spark, args.sf_dir).write.format("noop").mode("overwrite").save()
            secs.append(round(time.perf_counter() - t0, 3))
        results[name] = secs
        print(json.dumps({"query": name, "passes": secs,
                          "min": min(secs), "load_at_start": round(load, 2)}),
              flush=True)
    print(json.dumps({"record": "bench_extra",
                      "sf_dir": args.sf_dir,
                      "min": {k: min(v) for k, v in results.items()}}))
    spark.stop()


if __name__ == "__main__":
    main()
