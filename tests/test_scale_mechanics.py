"""Scale mechanics: salted skew distribution, model-UDF plumbing."""

from pyspark.sql import functions as F

from cheque_ocr_project_spark.operators import models as M
from cheque_ocr_project_spark.plans import pipeline as P


def test_salted_repartition_spreads_heavy_conversation(spark):
    """A single 10k-turn conversation must not pin one task (north rule):
    salting on turn_idx spreads it across the requested partitions."""
    big = spark.range(10000).select(
        F.lit("monster-conv").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit("PAY TO : GUPTA TRADERS").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(None).cast("timestamp").alias("ts"),
    )
    parts = (
        P.salted_repartition(big, num_partitions=16, salt_buckets=16)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    sizes = [r["count"] for r in parts]
    assert len(sizes) >= 8, f"heavy conv landed on only {len(sizes)} partitions"
    assert max(sizes) < 10000 * 0.25, f"skewed partition: max={max(sizes)}"


def test_ner_udf_plumbing(spark, transcripts_sdf):
    out = M.ner_entities(spark, transcripts_sdf.limit(200))
    rows = out.collect()
    assert len(rows) == 200
    assert all(r.backend == "fake" for r in rows)  # transformers absent here
    with_ents = [r for r in rows if r.entities]
    assert with_ents, "fake NER found no entities in cheque-like turns"
    e = with_ents[0].entities[0]
    assert e.label in ("ORG", "PER") and 0 <= e.score <= 1
    # deterministic across reruns
    again = M.ner_entities(spark, transcripts_sdf.limit(200)).collect()
    assert [r.entities for r in rows] == [r.entities for r in again]


def test_model_udf_plumbing_u3_u4_u5(spark, transcripts_sdf):
    """U3/U4/U5 share the NER shape: lazy per-worker init, deterministic
    fallback, labeled backend."""
    t = transcripts_sdf.limit(100)

    zs = M.zero_shot_classify(spark, t).collect()
    assert len(zs) == 100
    assert all(r.backend == "overlap" for r in zs)
    assert all(r.label in M.DEFAULT_ZS_LABELS and 0 <= r.score <= 1 for r in zs)

    qa = M.qa_extract(spark, t).collect()
    assert len(qa) == 100
    assert all(r.backend == "heuristic" for r in qa)
    answered = [r for r in qa if r.answer is not None]
    assert answered and all(r.score > 0 for r in answered)
    assert all(r.score == 0.0 for r in qa if r.answer is None)

    t5 = M.t5_spell_correct(spark, t).collect()
    assert len(t5) == 100
    assert all(r.backend == "map" for r in t5)
    assert all(0 <= r.spell_conf <= 1 for r in t5)

    # deterministic across reruns
    again = M.zero_shot_classify(spark, t).collect()
    assert [(r.label, r.score) for r in zs] == [(r.label, r.score) for r in again]


def test_plan_shapes_hold(spark):
    """Guard the audited physical-plan shapes of the scale-sensitive
    queries (PLANS.md round 3): a future edit that re-introduces a global
    sort, an extra shuffle, or a broken column pruning fails here, not in
    a 100 TB run."""
    import re

    from cheque_ocr_project_spark.plans import queries as Q

    sf = "/root/testdata/sf0.001"
    reg = Q.queries()

    def ops(name):
        plan = reg[name](spark, sf)._jdf.queryExecution().executedPlan().toString()
        found = re.findall(
            r"\b(Exchange|HashAggregate|SortAggregate|Window|"
            r"BroadcastHashJoin|SortMergeJoin|ArrowEvalPython|MapInPandas|"
            r"Generate|FileScan|CartesianProduct|BroadcastNestedLoopJoin)\b",
            plan,
        )
        schemas = re.findall(r"ReadSchema: (\S+)", plan)
        return found, schemas

    # pure scan + filter; 2-column pruning reaches the parquet reader
    found, schemas = ops("stratified_sample")
    assert found.count("Exchange") == 0 and found.count("Window") == 0
    assert all("text" not in s for s in schemas)

    # two-pass distributed prefix sum (VERDICT r03 #2): every row-level
    # window partitions by (source, chunk) — never by the low-cardinality
    # source alone, which would put the dominant source's entire row set
    # in one task at corpus scale. The tiny offset table is broadcast, and
    # the two consumers of the (source, chunk) shuffle share one scan via
    # ReuseExchange (checked AQE-off below; AQE reuses the same stages at
    # runtime via canonicalized matching).
    plan = reg["pack_sequences"](spark, sf)._jdf.queryExecution() \
        .executedPlan().toString()
    row_specs = [
        s for s in re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        if "doc_id" in s  # row-level windows order by doc_id
    ]
    assert row_specs and all("chunk" in s for s in row_specs)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        static = reg["pack_sequences"](spark, sf)._jdf.queryExecution() \
            .executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    assert "ReusedExchange" in static and static.count("FileScan") == 1

    # chunked sessionize / as-of (VERDICT r04 #3): every row-level window
    # partitions by (user_id, chunk) — never by user_id alone — and the
    # two consumers of the (user, chunk) shuffle share ONE scan (the same
    # non-nullable-join-key + identical-column-set discipline as
    # pack_sequences; AQE-off makes the ReusedExchange visible statically)
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for nm in ("sessionize_chunked", "asof_join_chunked"):
            static = reg[nm](spark, sf)._jdf.queryExecution() \
                .executedPlan().toString()
            assert static.count("FileScan") == 1, nm
            assert "ReusedExchange" in static, nm
            row_specs = [
                s for s in re.findall(r"windowspecdefinition\(([^)]*)\)", static)
                if "event_id" in s  # row-level windows order by event_id
            ]
            assert row_specs and all("chunk" in s for s in row_specs), nm
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)

    # Gopher gates: per-row array expressions — no UDF, no Window, no KEY
    # shuffle, and the scan reads only (doc_id, text). r08: one
    # round-robin repartition is allowed — the scale-adaptive scan
    # parallelism for single-file small-SF inputs (operators.extract.par,
    # no-op at real scale); any keyed exchange would still fail here.
    plan_txt = reg["gopher_quality"](spark, sf)._jdf.queryExecution() \
        .executedPlan().toString()
    found, schemas = ops("gopher_quality")
    assert found.count("Exchange") <= 1 and found.count("Window") == 0
    assert "hashpartitioning" not in plan_txt and "rangepartitioning" not in plan_txt
    assert all("lang" not in s and "source" not in s for s in schemas)

    # as-of join via union + running last: ONE scan, ONE shuffle on the
    # high-cardinality user key, ONE window — never a range join (whose
    # left x earlier-right candidate blowup is the naive formulation)
    found, _ = ops("asof_join")
    assert found.count("FileScan") == 1
    assert found.count("Exchange") == 1
    assert found.count("Window") == 1
    assert found.count("SortMergeJoin") + found.count("BroadcastHashJoin") == 0

    # sessionization: lag + running sum share ONE shuffle on the
    # high-cardinality user key; no self-join, no range join
    found, _ = ops("sessionize")
    assert found.count("FileScan") == 1
    assert found.count("Exchange") == 1
    assert found.count("SortMergeJoin") + found.count("BroadcastHashJoin") == 0

    # single Arrow pass + explode; no KEY shuffle (r08: one round-robin
    # repartition allowed — scale-adaptive scan parallelism, no-op at
    # real scale)
    ner_txt = reg["ner_entities"](spark, sf)._jdf.queryExecution() \
        .executedPlan().toString()
    found, _ = ops("ner_entities")
    assert found.count("Exchange") <= 1
    assert "hashpartitioning" not in ner_txt and "rangepartitioning" not in ner_txt
    assert found.count("MapInPandas") == 1

    # distributed TakeOrderedAndProject pivots — never a partitionless
    # window (the r02 scale-killer); no cartesian fallback anywhere
    from cheque_ocr_project_spark.operators.similarity import ivf_pivots

    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    plan = ivf_pivots(emb)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan and "Exchange" not in plan


def test_pack_sequences_single_source_skew(spark, tmp_path):
    """The r03 weak-spot scenario verbatim: ONE source owns the whole
    corpus (a real mix is ~90% web). The two-pass prefix sum must (a) keep
    every window partition at <= PACK_CHUNK rows — no task ever sees the
    full source — and (b) still produce the exact single-window oracle
    answer."""
    import duckdb
    import pandas as pd

    from cheque_ocr_project_spark.plans import corpus

    n = 120_000
    docs = pd.DataFrame({
        "doc_id": pd.array(range(n), dtype="int64"),
        "text": [f"tok{i % 97} " * (1 + i % 7) for i in range(n)],
        "lang": "en",
        "source": "web",          # single dominant source
    })
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    d = tmp_path / "skew_sf"
    d.mkdir()
    docs.to_parquet(d / "documents.parquet", index=False)

    out = corpus.q_pack_sequences(spark, str(d))
    # (a) bounded parallel units: rows per (source, chunk) window partition
    from pyspark.sql import functions as F

    grp = (
        spark.read.parquet(f"{d}/documents.parquet")
        .groupBy(F.floor(F.col("doc_id") / corpus.PACK_CHUNK))
        .count().agg(F.max("count")).collect()[0][0]
    )
    assert grp <= corpus.PACK_CHUNK
    assert n / corpus.PACK_CHUNK >= 20  # the skew case is genuinely multi-chunk

    # (b) exact equality with the one-window oracle
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
    )
    got = out.toPandas().sort_values("doc_id").reset_index(drop=True)
    exp = (
        con.execute(corpus.sql_pack_sequences()).df()
        .sort_values("doc_id").reset_index(drop=True)
    )
    for c in ("doc_id", "n_tokens", "bin_id", "bin_offset"):
        assert (got[c].astype("int64") == exp[c].astype("int64")).all(), c


def test_bucketed_join_colocates(spark):
    """Two tables bucketed+sorted on the join key must join with ZERO
    exchange and zero extra sort: the write-time layout replaces the
    per-join shuffle — the co-location strategy a 100 TB deployment uses
    for its recurring large-large joins."""
    from pyspark.sql import functions as F

    from cheque_ocr_project_spark.sources.io import write_bucketed

    a = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(a, "t_bucket_a", ["k"], n_buckets=8)
        write_bucketed(b, "t_bucket_b", ["k"], n_buckets=8)
        joined = spark.table("t_bucket_a").join(spark.table("t_bucket_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # The per-join SORT also disappears when the scan is allowed to
        # report the write-time bucket ordering (off by default since
        # SPARK-28632 because multi-file buckets interleave; write_bucketed
        # guarantees one file per bucket, which is the case the flag is
        # safe for). "Sort [" matches the standalone node, not the
        # SortMergeJoin token.
        import re as _re

        assert _re.search(r"\bSort \[", plan)  # default: sort present
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
        )
        try:
            plan2 = (
                spark.table("t_bucket_a")
                .join(spark.table("t_bucket_b"), "k")
                ._jdf.queryExecution().executedPlan().toString()
            )
        finally:
            spark.conf.unset(
                "spark.sql.legacy.bucketedTableScan.outputOrdering"
            )
        assert "Exchange" not in plan2
        assert not _re.search(r"\bSort \[", plan2), plan2
        assert joined.count() == 20000
        row = joined.filter(F.col("k") == 7).collect()[0]
        assert row.va == 14 and row.vb == 21
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


def test_sessionize_asof_whale_user_skew(spark, tmp_path):
    """VERDICT r04 #3: one bot user owning ~90% of events must not pin a
    single window task. The chunked two-pass variants bound every window
    partition by (user, day-chunk) — orders of magnitude below the whale's
    total history — while staying bit-equal to the single-window forms
    (which are themselves driver-oracle-proven) and to the DuckDB oracle."""
    import duckdb
    import numpy as np
    import pandas as pd

    from cheque_ocr_project_spark.plans import events

    rng = np.random.RandomState(11)
    rows = []
    eid = 0

    def emit(user, n_events, start_s):
        nonlocal eid
        t = start_s
        for _ in range(n_events):
            # gaps straddle the 30-min session threshold AND the 1-day
            # chunk width: in-session ticks, session breaks, chunk-crossing
            # silences
            t += int(rng.choice([5, 40, 300, 2100, 5400, 90_000],
                                p=[.35, .25, .2, .1, .05, .05]))
            kind = rng.choice(["click", "purchase", "view"], p=[.5, .3, .2])
            rows.append((eid, user, t, kind))
            eid += 1
            if kind == "click" and rng.rand() < 0.1:
                # equal-ts click twin: exercises the max-click_id-per-ts
                # tiebreak across the chunk machinery
                rows.append((eid, user, t, "click"))
                eid += 1

    emit(user=1, n_events=18_000, start_s=1_700_000_000)   # the whale
    for u in range(2, 12):
        emit(user=u, n_events=200, start_s=1_700_000_000 + u * 977)

    df = pd.DataFrame(rows, columns=["event_id", "user_id", "ts_s", "event_type"])
    df["ts"] = pd.to_datetime(df["ts_s"], unit="s")
    df["value"] = 1.0
    ev = df[["event_id", "user_id", "ts", "event_type", "value"]]
    d = tmp_path / "whale_sf"
    d.mkdir()
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pandas(ev, preserve_index=False),
                   d / "events.parquet", coerce_timestamps="us")

    # (a) bounded parallel units: no (user, chunk) partition holds more
    # than a sliver of the whale's 18k-event history
    sizes = (
        spark.read.parquet(f"{d}/events.parquet")
        .select("user_id", events._epoch_us(F.col("ts")).alias("us"))
        .select("user_id", F.expr(f"us div {events.SESSION_CHUNK_US}").alias("chunk"))
        .groupBy("user_id", "chunk").count()
    )
    mx = sizes.agg(F.max("count")).collect()[0][0]
    n_whale_chunks = sizes.filter(F.col("user_id") == 1).count()
    assert n_whale_chunks >= 20, f"whale spans only {n_whale_chunks} chunks"
    assert mx <= 2500, f"chunked partition still whale-sized: {mx}"

    # (b) chunked == single-window, bit for bit
    def pdf(out, keys):
        return (out.toPandas().sort_values(keys).reset_index(drop=True)
                .astype(str))

    s1 = pdf(events.q_sessionize(spark, str(d)), ["event_id"])
    s2 = pdf(events.q_sessionize_chunked(spark, str(d)), ["event_id"])
    assert s1.equals(s2)
    a1 = pdf(events.q_asof_join(spark, str(d)), ["event_id"])
    a2 = pdf(events.q_asof_join_chunked(spark, str(d)), ["event_id"])
    assert a1.equals(a2)

    # (c) the funnel holds the same whale-safety contract: no per-user
    # Window anywhere in its plan (the groupBy formulation is the design
    # claim — lock it), and it matches its oracle on the whale corpus
    fplan = (
        events.q_funnel(spark, str(d))._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "Window" not in fplan, "funnel reintroduced a per-user window"

    # (d) and all match the independent DuckDB oracles on this corpus
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    o = con.execute(events.SQL_SESSIONIZE).df()
    o = o.sort_values(["event_id"]).reset_index(drop=True).astype(str)
    assert s2[sorted(s2.columns)].equals(o[sorted(o.columns)])
    oa = con.execute(events.SQL_ASOF_JOIN).df()
    oa = oa.sort_values(["event_id"]).reset_index(drop=True).astype(str)
    assert a2[sorted(a2.columns)].equals(oa[sorted(oa.columns)])
    fgot = events.q_funnel(spark, str(d)).toPandas().astype(str)
    fexp = con.execute(events.SQL_FUNNEL).df().astype(str)
    assert fgot[sorted(fgot.columns)].equals(fexp[sorted(fexp.columns)])


def test_incremental_minhash_index_colocates_and_matches(spark):
    """VERDICT r04 #8: a persisted band_key-bucketed MinHash index makes
    the rolling-ingest near-dup join exchange-free on the corpus side —
    the corpus shuffle is paid once at write time. Checks (a) the
    candidate join plan has exactly ONE exchange (the small new-docs side;
    an unbucketed corpus would need two), and (b) the incremental pairs
    equal the full-recompute minhash_lsh_pairs (itself DuckDB-oracle-
    proven in the driver contract) restricted to cross-batch pairs."""
    import re as _re

    from cheque_ocr_project_spark.operators import dedup as DD

    base = (
        "the quick brown fox jumps over the lazy dog while market prices "
        "for steel and textiles continued to rise across the quarter"
    )
    corpus_rows = [(i, f"{base} batch marker {i % 11}") for i in range(300)]
    new_rows = [(1000 + i, f"{base} batch marker {i % 11}") for i in range(40)]
    new_rows += [(2000, "entirely unrelated astronomy content about minor "
                        "planets and orbital resonance in the outer belt")]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        DD.persist_minhash_index(corpus, "t_minhash_idx", "doc_id", "text",
                                 n_buckets=8)

        cand = DD.incremental_minhash_candidates(
            spark, new, "t_minhash_idx", "doc_id", "text"
        )
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        n_exchanges = len(_re.findall(r"\bExchange hashpartitioning", plan))
        assert n_exchanges == 1, f"corpus side re-shuffled:\n{plan}"

        inc = {
            (r.id_a, r.id_b, r.est_jaccard)
            for r in DD.incremental_minhash_pairs(
                spark, new, "t_minhash_idx", "doc_id", "text", threshold=0.5
            ).collect()
        }
        full = {
            (max(r.id_a, r.id_b), min(r.id_a, r.id_b), r.est_jaccard)
            for r in DD.minhash_lsh_pairs(
                corpus.unionByName(new), "doc_id", "text", threshold=0.5
            ).collect()
            # restrict to cross-batch pairs (new ids are >= 1000)
            if (r.id_a >= 1000) != (r.id_b >= 1000)
        }
        assert inc == full
        assert inc, "planted near-dups produced no cross-batch pairs"
        assert not any(a == 2000 for a, _b, _e in inc)  # unrelated doc clean
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_minhash_idx")


def test_doclen_quantiles_whale_source_deskewed(spark):
    """VERDICT r05 #1: doclen_quantiles must never window over a full
    source's ROW set — a source holding 99% of the corpus would pin one
    task. The de-skewed shape reduces to per-(source, n_chars) counts
    first, so the per-source window sorts DISTINCT LENGTHS. Planted
    whale: one source with 6000 rows over only 7 distinct lengths."""
    import math
    import re

    from cheque_ocr_project_spark.plans import text_stats
    from cheque_ocr_project_spark.plans import queries as Q

    rows = [("whale", 100 + (i % 7) * 10) for i in range(6000)]
    rows += [("minnow", 200 + i) for i in range(50)]
    d = spark.createDataFrame(rows, "source string, n_chars long")
    out = {r.source: r for r in text_stats.doclen_quantiles_over(d).collect()}

    # exact discrete quantiles, computed independently
    def expected(vals):
        vals = sorted(vals)
        n = len(vals)
        return {
            lab: vals[math.ceil(num * n / den) - 1]
            for lab, num, den in text_stats.QUANTILE_RANKS
        }

    for src, vals in (("whale", [v for s, v in rows if s == "whale"]),
                      ("minnow", [v for s, v in rows if s == "minnow"])):
        exp = expected(vals)
        assert out[src].n_docs == len(vals)
        for lab, want in exp.items():
            assert out[src][lab] == want, (src, lab, out[src][lab], want)

    # plan lock (test_plan_shapes_hold style): no row-level ranking
    # window; both windows consume the (source, n_chars) aggregate —
    # the partial/final count on the composite key sits BELOW the last
    # Window in the tree (children print after parents).
    plan = Q.queries()["doclen_quantiles"](
        spark, "/root/testdata/sf0.001"
    )._jdf.queryExecution().executedPlan().toString()
    assert "row_number" not in plan
    last_window = plan.rindex("Window")
    grouped = re.search(r"HashAggregate\(keys=\[source#\d+L?, n_chars", plan)
    assert grouped and grouped.start() > last_window, plan
    assert plan.count("FileScan") == 1
    assert len(re.findall(r"\bExchange hashpartitioning", plan)) == 2, plan
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all("text" not in s for s in schemas)


def test_unstamped_index_probe_is_loud(spark):
    """A bucketed table that was never stamped with 'lsh.*' properties
    (written via write_bucketed directly, or the ALTER TABLE failed) gives
    no evidence its banding geometry matches the probe — the guard must
    raise, not silently treat absence as a match (ADVICE r05)."""
    import pytest

    from cheque_ocr_project_spark.operators import dedup as DD
    from cheque_ocr_project_spark.sources.io import write_bucketed

    corpus = spark.createDataFrame(
        [(i, f"document body number {i}") for i in range(20)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame([(100, "document body number 3")],
                                "doc_id long, text string")
    try:
        banded = DD.minhash_banded(corpus, "doc_id", "text", 64, 16, 5,
                                   DD.DEFAULT_SEED)
        write_bucketed(banded, "t_unstamped_idx", ["band_key"], n_buckets=4)
        with pytest.raises(ValueError, match="never stamped"):
            DD.incremental_minhash_pairs(
                spark, new, "t_unstamped_idx", "doc_id", "text"
            )
    finally:
        spark.sql("DROP TABLE IF EXISTS t_unstamped_idx")


def test_old_format_delta_is_loud(spark):
    """The base and the delta of a persisted index are format-checked each
    on its own: a delta written before the MinHash sketch columns existed
    (no sk0..sk3) under a current-format base must make the probe and a
    further append raise the re-persist error, not a raw analysis error
    from the join or the write."""
    import pytest

    from cheque_ocr_project_spark.operators import dedup as DD
    from cheque_ocr_project_spark.sources.io import drop_table_and_location

    t = "t_mixed_format_idx"
    corpus = spark.createDataFrame(
        [(i, f"mixed format corpus document number {i}") for i in range(20)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100 + i, f"mixed format batch document number {i}")
         for i in range(5)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame([(500, "mixed format corpus document "
                                         "number 3")],
                                  "doc_id long, text string")
    try:
        for name in (t, f"{t}__delta"):
            drop_table_and_location(spark, name)
        DD.persist_minhash_index(corpus, t, "doc_id", "text", n_buckets=4)
        old = DD.minhash_banded(batch, "doc_id", "text").drop(
            "sk0", "sk1", "sk2", "sk3")
        old.write.format("parquet").mode("append").saveAsTable(
            f"{t}__delta")
        with pytest.raises(ValueError, match="re-persist"):
            DD.incremental_minhash_pairs(spark, probe, t, "doc_id", "text")
        with pytest.raises(ValueError, match="re-persist"):
            DD.append_to_minhash_index(spark, probe, t, "doc_id", "text")
    finally:
        for name in (t, f"{t}__delta"):
            drop_table_and_location(spark, name)


def test_write_bucketed_rejects_append(spark):
    """Appending would create a second file per bucket — the writer must
    refuse up front (before committing data) rather than fail the
    post-write invariant check with a misleading message."""
    import pytest

    from cheque_ocr_project_spark.sources.io import write_bucketed

    df = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="cannot append"):
        write_bucketed(df, "t_never_written", ["k"], n_buckets=2,
                       mode="append")


def test_incremental_simhash_index_colocates_and_matches(spark):
    """SimHash twin of the incremental MinHash index: one exchange (the
    new side), pairs equal to the full recompute restricted to
    cross-batch pairs."""
    import re as _re

    from cheque_ocr_project_spark.operators import dedup as DD

    base = (
        "the quick brown fox jumps over the lazy dog while market prices "
        "for steel and textiles continued to rise across the quarter"
    )
    corpus_rows = [(i, f"{base} batch marker {i % 11}") for i in range(300)]
    new_rows = [(1000 + i, f"{base} batch marker {i % 11}") for i in range(40)]
    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    new = spark.createDataFrame(new_rows, "doc_id long, text string")

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        DD.persist_simhash_index(corpus, "t_simhash_idx", "doc_id", "text",
                                 n_buckets=8)
        inc_df = DD.incremental_simhash_pairs(
            spark, new, "t_simhash_idx", "doc_id", "text", max_hamming=3
        )
        plan = inc_df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert len(_re.findall(r"\bExchange hashpartitioning", plan)) <= 2, plan
        # (candidate join: 1 exchange for the new side; dropDuplicates
        # adds its own post-join exchange on the pair key)
        inc = {(r.id_a, r.id_b, r.hamming) for r in inc_df.collect()}
        full = {
            (max(r.id_a, r.id_b), min(r.id_a, r.id_b), r.hamming)
            for r in DD.simhash_pairs(
                corpus.unionByName(new), "doc_id", "text", max_hamming=3
            ).collect()
            if (r.id_a >= 1000) != (r.id_b >= 1000)
        }
        assert inc == full
        assert inc, "planted near-dups produced no cross-batch pairs"

        # probing with a different max_hamming would band into a different
        # key geometry and silently return near-empty results — must be
        # loud instead (parameters are persisted as table properties)
        import pytest

        with pytest.raises(ValueError, match="different LSH parameters"):
            DD.incremental_simhash_pairs(
                spark, new, "t_simhash_idx", "doc_id", "text", max_hamming=2
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS t_simhash_idx")


def test_index_append_probe_compact_roll_forward(spark):
    """VERDICT r05 #5: the rolling-ingest story. A second batch appended
    via append_to_minhash_index (a) is SEEN by subsequent probes (delta
    join), (b) lands in the bucketed index after compact_index, with
    (c) co-location preserved — the post-compaction candidate join is
    back to exactly ONE exchange (new side only) — and (d) pair results
    equal the full recompute (itself DuckDB-oracle-proven) before AND
    after compaction."""
    import re as _re

    import pytest

    from cheque_ocr_project_spark.operators import dedup as DD

    base = (
        "the quick brown fox jumps over the lazy dog while market prices "
        "for steel and textiles continued to rise across the quarter"
    )
    corpus = spark.createDataFrame(
        [(i, f"{base} batch marker {i % 11}") for i in range(300)],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [(1000 + i, f"{base} batch marker {i % 11}") for i in range(40)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(3000 + i, f"{base} batch marker {i % 11}") for i in range(20)]
        + [(3999, "entirely unrelated astronomy content about minor "
                  "planets and orbital resonance in the outer belt")],
        "doc_id long, text string",
    )

    def probe_pairs():
        return {
            (r.id_a, r.id_b, r.est_jaccard)
            for r in DD.incremental_minhash_pairs(
                spark, probe, "t_roll_idx", "doc_id", "text", threshold=0.5
            ).collect()
        }

    expected = {
        (max(r.id_a, r.id_b), min(r.id_a, r.id_b), r.est_jaccard)
        for r in DD.minhash_lsh_pairs(
            corpus.unionByName(batch2).unionByName(probe),
            "doc_id", "text", threshold=0.5,
        ).collect()
        if (r.id_a >= 3000) != (r.id_b >= 3000)
    }

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        DD.persist_minhash_index(corpus, "t_roll_idx", "doc_id", "text",
                                 n_buckets=8)

        # geometry guard is as loud on append as on probe
        with pytest.raises(ValueError, match="different LSH parameters"):
            DD.append_to_minhash_index(spark, batch2, "t_roll_idx",
                                       "doc_id", "text", bands=8)

        DD.append_to_minhash_index(spark, batch2, "t_roll_idx",
                                   "doc_id", "text")
        assert spark.catalog.tableExists("t_roll_idx__delta")

        # (a)+(d): probe sees index AND delta; equals the full recompute
        before = probe_pairs()
        assert before == expected
        assert any(b >= 1000 for _a, b, _e in before), \
            "no pair against the appended batch — delta not probed"
        assert not any(a == 3999 for a, _b, _e in before)

        # (b): compaction folds the delta into the bucketed layout
        # (write_bucketed re-asserts one-file-per-bucket internally)
        DD.compact_index(spark, "t_roll_idx")
        assert not spark.catalog.tableExists("t_roll_idx__delta")
        assert not spark.catalog.tableExists("t_roll_idx__compact")
        assert not spark.catalog.tableExists("t_roll_idx__old")

        # (c): post-compaction candidate join is exchange-free on the
        # corpus side again — ONE exchange, the small probe side
        cand = DD.incremental_minhash_candidates(
            spark, probe, "t_roll_idx", "doc_id", "text"
        )
        plan = cand._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        n_ex = len(_re.findall(r"\bExchange hashpartitioning", plan))
        assert n_ex == 1, f"corpus side re-shuffled after compaction:\n{plan}"

        # (d) again: same pairs from the compacted layout
        assert probe_pairs() == expected

        # idempotent no-op when nothing is pending
        DD.compact_index(spark, "t_roll_idx")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        for t in ("t_roll_idx", "t_roll_idx__delta", "t_roll_idx__compact",
                  "t_roll_idx__old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_simhash_index_append_probe(spark):
    """SimHash twin: an appended batch is visible to the delta-aware
    probe and folds in via the generic compact_index."""
    from cheque_ocr_project_spark.operators import dedup as DD

    base = (
        "the quick brown fox jumps over the lazy dog while market prices "
        "for steel and textiles continued to rise across the quarter"
    )
    corpus = spark.createDataFrame(
        [(i, f"{base} batch marker {i % 7}") for i in range(150)],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [(1000 + i, f"{base} batch marker {i % 7}") for i in range(20)],
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(3000, f"{base} batch marker 1")], "doc_id long, text string",
    )
    try:
        DD.persist_simhash_index(corpus, "t_roll_sim", "doc_id", "text",
                                 n_buckets=4)
        DD.append_to_simhash_index(spark, batch2, "t_roll_sim",
                                   "doc_id", "text")
        pairs = {
            (r.id_a, r.id_b)
            for r in DD.incremental_simhash_pairs(
                spark, probe, "t_roll_sim", "doc_id", "text"
            ).collect()
        }
        assert any(b >= 1000 for _a, b in pairs), "delta not probed"
        assert any(b < 1000 for _a, b in pairs), "index not probed"
        DD.compact_index(spark, "t_roll_sim")
        assert not spark.catalog.tableExists("t_roll_sim__delta")
        after = {
            (r.id_a, r.id_b)
            for r in DD.incremental_simhash_pairs(
                spark, probe, "t_roll_sim", "doc_id", "text"
            ).collect()
        }
        assert after == pairs
    finally:
        for t in ("t_roll_sim", "t_roll_sim__delta", "t_roll_sim__compact",
                  "t_roll_sim__old"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_dedup_survivors_tiebreak_and_no_window(spark):
    """Canonical selection must (a) be deterministic on length ties —
    min doc_id among the max-length members, regardless of partition
    order — and (b) never plan a per-cluster ranking window (a whale
    cluster of identical docs would pin one task). Planted cluster:
    three byte-identical docs (ids 9, 3, 5 — a pure length tie) plus an
    unrelated singleton; longest-wins selection is separately proven by
    the dedup_survivors driver oracle row, where every mutated clone is
    strictly shorter than its original."""
    from cheque_ocr_project_spark.plans import near_dup

    base = (
        "the quick brown fox jumps over the lazy dog while market prices "
        "for steel and textiles continued to rise across the quarter"
    )
    rows = [(9, base), (3, base), (5, base),
            (42, "entirely unrelated astronomy content about minor "
                 "planets and orbital resonance in the outer belt")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = near_dup.dedup_survivors_over(docs)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "row_number" not in plan, plan

    got = {r.cluster: r for r in out.collect()}
    assert got[3].n_members == 3
    assert got[3].survivor_id == 3          # tie -> MIN id, never 5 or 9
    assert got[3].survivor_len == len(base)
    assert got[42].n_members == 1 and got[42].survivor_id == 42


def test_boilerplate_ngrams_plan_pruned_no_window(spark):
    """boilerplate_ngrams must read only (doc_id, text) from the scan and
    never plan a ranking window — its hot-gram handling is the two-agg
    shape plus AQE skew-join, same audit as tfidf_topk."""
    from cheque_ocr_project_spark.plans import queries as Q

    df = Q.queries()["boilerplate_ngrams"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "row_number" not in plan, plan
    import re

    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all(
        "lang" not in s and "source" not in s and "n_chars" not in s
        for s in schemas
    ), schemas
    assert df.count() > 0


def test_minhash_sketch_prefilter_drops_nothing(spark):
    """The r08 codegen-native sketch prefilter in _est_filtered_pairs is a
    SOUND necessary condition: running the band self-join with the sketch
    columns stripped (exact-estimator-only fallback path) must yield the
    identical pair set and estimates. Uses the near-dup-planted corpus at
    sf0.01 so real hot-band candidates flow through both paths."""
    from cheque_ocr_project_spark.operators import dedup as DD
    from cheque_ocr_project_spark.plans import near_dup

    docs = near_dup._docs_with_near_dups(spark, "/root/testdata/sf0.01")
    banded = DD.minhash_banded(docs, "doc_id", "text", 64, 16, 5)

    sk_cols = [c for c in banded.columns if c.startswith("sk")]

    def pairs(b):
        carry = [c for c in ("sig", *sk_cols) if c in b.columns]
        return DD._est_filtered_pairs(
            DD.band_pairs(b, "band_key", carry), 0.5, 64)

    with_sketch = {
        (r.id_a, r.id_b): r.est_jaccard for r in pairs(banded).collect()
    }
    without = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in pairs(banded.drop(*sk_cols)).collect()
    }
    assert with_sketch == without
    assert with_sketch  # non-empty: the planted clones must surface


def test_compaction_rollback_clears_orphaned_base_dir(spark, tmp_path):
    """ADVICE r07: roll-back (old -> table) must survive an orphaned
    base-table warehouse DIRECTORY left by a dead session — the rename
    would otherwise fail with LOCATION_ALREADY_EXISTS."""
    import os

    from pyspark.sql import functions as F

    from cheque_ocr_project_spark.operators import dedup as DD
    from cheque_ocr_project_spark.sources.io import drop_table_and_location

    t = "t_rollback_orphan_idx"
    corpus = spark.createDataFrame(
        [(i, f"rollback orphan corpus document number {i}") for i in range(12)],
        "doc_id long, text string",
    )
    try:
        drop_table_and_location(spark, t)
        drop_table_and_location(spark, f"{t}__old")
        DD.persist_minhash_index(corpus, t, "doc_id", "text", n_buckets=4)
        # simulate a crash BETWEEN the swap renames: table -> old done,
        # tmp -> table never happened...
        spark.sql(f"ALTER TABLE {t} RENAME TO {t}__old")
        # ...and a dead session left an orphaned directory at the base path
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        orphan = os.path.join(wh, t.lower())
        os.makedirs(orphan, exist_ok=True)
        with open(os.path.join(orphan, "stale.bin"), "w") as fh:
            fh.write("leftover")

        DD._recover_crashed_compaction(spark, t)

        assert spark.catalog.tableExists(t)
        assert not spark.catalog.tableExists(f"{t}__old")
        # the rolled-back index is probe-able
        probe = spark.createDataFrame(
            [(100, "rollback orphan corpus document number 3")],
            "doc_id long, text string",
        )
        pairs = DD.incremental_minhash_pairs(
            spark, probe, t, "doc_id", "text", threshold=0.5
        )
        assert pairs.filter(F.col("id_b") == 3).count() == 1
    finally:
        drop_table_and_location(spark, t)
        drop_table_and_location(spark, f"{t}__old")
        drop_table_and_location(spark, f"{t}__delta")
