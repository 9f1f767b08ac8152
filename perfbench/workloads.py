"""The benchmark's workloads: what a pass runs, how its outputs are
checked, and how its layers are traced.

A pass is a fixed list of operations, each a call into the package's
public functions timed from the call to the end of its sink:

- ``cheque_turns``: ``plans.pipeline.extract_pipeline(engine="arrow")``,
  then the calls ``job.main`` makes with its defaults
  (``normalize_separators``, then ``sources.checkpoint.run_with_checkpoint``
  with 64 buckets in waves of 16) into committed parquet + ``_manifest``.
- ``registry_scan``: 8 ``__spark_entry__.queries()`` callables: Catalyst
  regex cascades, a window, ANN over LSH buckets, and exact and MinHash
  near-dup pairs.

The first pass of a run collects every result and checks it against the
expected outputs; it compiles the plans and is not timed. Timed passes use
the noop sink, except the job, which always commits and whose output is
checked after every pass.
"""

from __future__ import annotations

import shutil
import statistics
import time
from contextlib import nullcontext
from pathlib import Path

import pandas as pd

import checks
import inputs
import tracing

# One or two queries per kind of plan, to keep the timed passes within the
# run budget: regex cascades (plans.queries and plans.queries_v3), a
# window top-1, ANN over LSH buckets (operators.similarity), and exact and
# MinHash near-dup pairs (operators.dedup).
REGISTRY_QUERIES = (
    "classify", "payee_clean", "govt_entity", "issuer_simple",
    "top1_event_per_user", "ann_lsh_topk", "dedup_exact", "minhash_near_dup",
)
# job.main's defaults
JOB_BUCKETS = 64
JOB_WAVE_SIZE = 16
JOB_THRESHOLD = 0.90
TURN_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_s(fn, repeats: int = 3) -> float:
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class ChequeTurns:
    name = "cheque_turns"
    ops = ("extract", "job")

    def __init__(self, work: Path, seed: int, scale: float, nproc: int):
        self.work = work
        self.nproc = nproc
        self.turns = inputs.transcripts(seed, scale)
        self.turns_dir = inputs.stage_transcripts(
            self.turns, work / "turns", n_files=nproc)
        self.sizes = {"turns": len(self.turns), "files": nproc}
        self.job_runs = 0
        self.job_bytes = 0
        self.wave_ms: list[int] = []

    def expect(self, spans=None) -> None:
        """The oracle's record for every turn (with ``spans`` installed in a
        traced run, which is how the oracle stages get their self times)."""
        from cheque_ocr_project_spark.plans.queries import default_drawer_dict

        self.drawer_dict = default_drawer_dict()
        with spans.installed() if spans else nullcontext():
            # synth text is ASCII, so the job's separator normalisation
            # leaves it unchanged and one oracle frame serves both ops
            self.expected = checks.oracle_records(
                self.turns, self.drawer_dict, JOB_THRESHOLD, self.nproc)

    def _transcripts(self, spark):
        return spark.read.parquet(str(self.turns_dir))

    def run(self, spark, op: str, collect: bool):
        if op == "extract":
            from cheque_ocr_project_spark.plans import pipeline as P

            df = P.extract_pipeline(spark, self._transcripts(spark),
                                    self.drawer_dict, engine="arrow")
            return df.toPandas() if collect else _noop(df)
        from pyspark.sql import functions as F

        from cheque_ocr_project_spark.functions import columns as C
        from cheque_ocr_project_spark.sources import checkpoint, io

        out = self.work / f"job-{self.job_runs}"
        self.job_runs += 1
        t = io.read_transcripts(spark, str(self.turns_dir))
        t = t.withColumn("text", C.normalize_separators(F.col("text")))
        checkpoint.run_with_checkpoint(
            spark, t, self.drawer_dict, str(out), n_buckets=JOB_BUCKETS,
            threshold=JOB_THRESHOLD, engine="arrow", wave_size=JOB_WAVE_SIZE)
        return out

    def check(self, op: str, output) -> int:
        if op == "extract":
            return checks.turn_mismatches("extract", output, self.expected)
        from cheque_ocr_project_spark.sources import checkpoint

        got = pd.read_parquet(output / "data").drop(columns="bucket")
        bad = checks.turn_mismatches("job", got, self.expected)
        bad += checks.manifest_mismatches("job", output, len(self.turns))
        manifest = checkpoint.read_manifest(str(output))
        waves = {e["wave"]: e["wall_ms"] for e in manifest}
        self.wave_ms = [waves[w] for w in sorted(waves)]
        self.job_bytes = sum(
            f.stat().st_size for f in output.rglob("*")
            if f.is_file() and (f.suffix == ".parquet"
                                or f.parent.name == "_manifest"))
        shutil.rmtree(output)
        return bad

    def extra(self, op_s: dict[str, float]) -> dict[str, float]:
        """User-facing figures particular to this workload."""
        n = len(self.turns)
        return {
            "extract_turns_per_s": n / op_s["extract"],
            "job_turns_per_s": n / op_s["job"],
            "job_bytes_per_turn": self.job_bytes / n,
            "job_wave_ms": self.wave_ms,
        }

    def layers(self, spark, op_s, spans, rest, groups) -> dict:
        """The layer ladder under the arrow engine, measured back to back
        after the timed passes (medians of three runs each of a noop scan of
        the UDF's input columns, of that scan through a passthrough
        ``mapInPandas`` with ``RESULT_SCHEMA``, of the extract itself, and of
        the oracle's parallel replay), the oracle's stage spans, how much of
        the extract and job walls the layers account for, and the
        checkpoint's share of the job."""
        from cheque_ocr_project_spark.operators import extract as X

        names = [f.name for f in X.RESULT_SCHEMA.fields]

        def passthrough(batches):
            for pdf in batches:
                out = pd.DataFrame({n: None for n in names}, index=pdf.index)
                out["conv_id"] = pdf["conv_id"]
                out["turn_idx"] = pdf["turn_idx"]
                out["main_text"] = pdf["text"]
                yield out

        src = self._transcripts(spark).select(*TURN_COLUMNS)
        scan_s = _median_s(lambda: _noop(src))
        pass_s = _median_s(lambda: _noop(
            X._ensure_parallelism(spark, src)
            .mapInPandas(passthrough, schema=X.RESULT_SCHEMA)))
        extract_s = _median_s(lambda: self.run(spark, "extract", False))
        replay_s = tracing.parallel_replay_s(
            self.turns, self.drawer_dict, JOB_THRESHOLD, self.nproc)
        # the parallel replay is the UDF's compute measured apart from the
        # extract wall, so the ladder can miss that wall
        extract_layers_s = pass_s + replay_s
        overhead_s = op_s["job"] - op_s["extract"]
        arrow = rest.group_metrics([groups["extract"]])
        return {
            "sources.io.scan_s": scan_s,
            "operators.extract.boundary_s": pass_s - scan_s,
            "operators.extract.udf_s": extract_s - pass_s,
            "operators.extract.arrow_bytes_in": arrow["python.bytes_in"],
            "operators.extract.arrow_bytes_out": arrow["python.bytes_out"],
            **spans.metrics(),
            "oracle.parallel_replay_s": replay_s,
            "trace.extract_layer_share": extract_layers_s / extract_s,
            # overhead_s is the job's remainder after extract, so this share
            # misses by the extract ladder's miss only
            "trace.job_layer_share":
                (extract_layers_s + overhead_s) / op_s["job"],
            "sources.checkpoint.waves": len(self.wave_ms),
            "sources.checkpoint.wave_ms_p50": statistics.median(self.wave_ms),
            "sources.checkpoint.wave_ms_max": max(self.wave_ms),
            "sources.checkpoint.spark_jobs":
                rest.group_metrics([groups["job"]])["spark.jobs"],
            "sources.checkpoint.overhead_s": overhead_s,
        }


class RegistryQueries:
    """Registry rows, called through ``__spark_entry__.queries()`` so the
    contract's UTC/AQE pins apply as on every contract call, and
    checked against ``oracle_sql()`` on DuckDB over the same files."""

    name = "registry_scan"
    ops = REGISTRY_QUERIES

    def __init__(self, work: Path, seed: int, scale: float, nproc: int):
        import __spark_entry__ as E
        from cheque_ocr_project_spark.plans import queries as Q

        self.tables_dir = work / "sf"
        self.sizes = inputs.stage_tables(seed, scale, self.tables_dir)
        self.registry = E.queries()
        self.sql = E.oracle_sql()
        # <module>.<query>, naming the module that implements the query
        self.keys = {
            q: f"{Q.queries()[q].__module__.removeprefix('cheque_ocr_project_spark.')}.{q}"
            for q in self.ops}

    def expect(self, spans=None) -> None:
        """Each query's ``oracle_sql()`` result on DuckDB."""
        con = checks.duckdb_oracle(self.tables_dir)
        try:
            self.expected = {q: con.execute(self.sql[q]).df()
                             for q in self.ops}
        finally:
            con.close()

    def run(self, spark, op: str, collect: bool):
        df = self.registry[op](spark, str(self.tables_dir))
        return df.toPandas() if collect else _noop(df)

    def check(self, op: str, output) -> int:
        return checks.query_mismatches(op, output, self.expected[op])

    def extra(self, op_s: dict[str, float]) -> dict[str, float]:
        return {f"{self.keys[q]}.s": s for q, s in op_s.items()}

    def layers(self, spark, op_s, spans, rest, groups) -> dict:
        """A noop scan of the staged tables, and each query's shuffle,
        spill and task skew."""
        out = {"sources.io.scan_s": _median_s(lambda: [
            _noop(spark.read.parquet(str(self.tables_dir / f"{t}.parquet")))
            for t in self.sizes])}
        for q, group in groups.items():
            m = rest.group_metrics([group])
            for name in ("shuffle_bytes", "spill_bytes", "task_skew"):
                out[f"{self.keys[q]}.{name}"] = m[f"spark.{name}"]
        return out


WORKLOADS = {
    "cheque_turns": ChequeTurns,
    "registry_scan": RegistryQueries,
}
