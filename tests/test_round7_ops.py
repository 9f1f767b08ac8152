"""Round-7 tests: the IVF-over-quantized-codes composition, the
multiprobe contract row's operator knob, compact_index crash recovery
(ADVICE r06), and the kmeans_refine offset guard (ADVICE r06).

Oracle parity for the three new contract queries is covered by
test_driver_contract's sweep (parametrized over oracle_sql()); here we
prove the recall/robustness properties no SQL twin can express.
"""

import re

import pytest
from pyspark.sql import functions as F

from cheque_ocr_project_spark.plans import queries as Q

SF = "/root/testdata/sf0.01"


# ---------------------------------------------------------------------------
# ann_ivf_quantized_topk — the PQ+IVF serving composition
# ---------------------------------------------------------------------------

def _topk_sets(spark, name, id_field):
    out = {}
    for r in Q.queries()[name](spark, SF).collect():
        out.setdefault(r["query_id"], set()).add(r[id_field])
    return out


def test_ann_ivf_quantized_recall_vs_exact(spark):
    """Cell probing over the int8 codes must not degrade recall below
    what the FLOAT IVF pays for the same nprobe/pivot geometry: at
    sf0.01 both measure 12/25 vs their exact baselines — the quantized
    composition loses nothing to quantization, only to cell probing.
    Bound pinned with slack (>= 0.4) so a testdata refresh doesn't flake
    the suite; equality with the float path is asserted as >=."""
    quant_exact = _topk_sets(spark, "ann_quantized_topk", "vec_id")
    ivfq = _topk_sets(spark, "ann_ivf_quantized_topk", "vec_id")
    assert set(quant_exact) == set(ivfq)
    total = sum(len(v) for v in quant_exact.values())
    ivfq_hits = sum(len(quant_exact[q] & ivfq[q]) for q in quant_exact)
    assert ivfq_hits / total >= 0.4, (ivfq_hits, total)

    # vs the float IVF at identical probe geometry: currently EQUAL
    # (12/25 both). Small slack (2 hits) because int8 reconstruction
    # can legitimately flip a vector across a Voronoi boundary on a
    # testdata refresh — a one-hit swing is not a bug; a collapse is.
    float_exact = _topk_sets(spark, "ann_topk", "vec_id")
    float_ivf = _topk_sets(spark, "ann_ivf_topk", "neighbor_id")
    float_hits = sum(
        len(float_exact[q] & float_ivf.get(q, set())) for q in float_exact
    )
    assert ivfq_hits >= float_hits - 2, (
        f"quantized IVF recall {ivfq_hits}/{total} collapsed below the "
        f"float IVF's {float_hits}/{total} at identical probe geometry"
    )


def test_ann_ivf_quantized_plan_no_corpus_window(spark):
    """Scale lock: the corpus-wide argmin must stay a min(struct) agg —
    every Window/WindowGroupLimit in the plan partitions by query_id
    (|Q| keys over cell-restricted candidates), never by vec_id (a
    corpus-sized window would pin one task per vector at 100 TB). No
    NestedLoop/Cartesian anywhere (all joins are equi on dim/pivot/id)."""
    df = Q.queries()["ann_ivf_quantized_topk"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan and \
        "CartesianProduct" not in plan, plan
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    limits = re.findall(r"WindowGroupLimit \[(\w+)", plan)
    assert specs and all(s.startswith("query_id") for s in specs), specs
    assert all(s.startswith("query_id") for s in limits), limits


# ---------------------------------------------------------------------------
# compact_index crash recovery (ADVICE r06 #1)
# ---------------------------------------------------------------------------

BASE = (
    "the quick brown fox jumps over the lazy dog while market prices "
    "for steel and textiles continued to rise across the quarter"
)


def _mk_index(spark, table, n_corpus=120, n_batch=20):
    from cheque_ocr_project_spark.operators import dedup as DD

    corpus = spark.createDataFrame(
        [(i, f"{BASE} batch marker {i % 7}") for i in range(n_corpus)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1000 + i, f"{BASE} batch marker {i % 7}") for i in range(n_batch)],
        "doc_id long, text string",
    )
    DD.persist_minhash_index(corpus, table, "doc_id", "text", n_buckets=4)
    DD.append_to_minhash_index(spark, batch, table, "doc_id", "text")
    return corpus, batch


def _probe_pairs(spark, table):
    from cheque_ocr_project_spark.operators import dedup as DD

    probe = spark.createDataFrame(
        [(3000, f"{BASE} batch marker 1")], "doc_id long, text string",
    )
    return {
        (r.id_a, r.id_b)
        for r in DD.incremental_minhash_pairs(
            spark, probe, table, "doc_id", "text", threshold=0.5
        ).collect()
    }


def _cleanup(spark, table):
    for suffix in ("", "__delta", "__compact", "__old"):
        spark.sql(f"DROP TABLE IF EXISTS {table}{suffix}")


def _simulate_crash_between_renames(spark, table):
    """Reproduce compact_index's state at the crash point between the
    two RENAMEs: tmp fully written and stamped, live table renamed away,
    delta intact."""
    from cheque_ocr_project_spark.operators import dedup as DD
    from cheque_ocr_project_spark.sources.io import write_bucketed

    stored = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    params = {k[4:]: v for k, v in stored.items() if k.startswith("lsh.")}
    keys, n_buckets = DD._table_bucket_spec(spark, table)
    cols = spark.table(table).columns
    merged = spark.table(table).select(cols).unionByName(
        spark.table(f"{table}__delta").select(cols)
    )
    write_bucketed(merged, f"{table}__compact", keys, n_buckets=n_buckets)
    DD._set_index_params(spark, f"{table}__compact", params)
    spark.sql(f"ALTER TABLE {table} RENAME TO {table}__old")


def test_compact_recovers_from_crash_between_renames(spark):
    """Crash with the live table renamed away: a rerun must roll BACK
    (old -> table), then complete a normal compaction — same pairs as a
    clean run, no leftover side tables, no lost delta."""
    from cheque_ocr_project_spark.operators import dedup as DD

    t = "t_crash_mid"
    _cleanup(spark, t)
    try:
        _mk_index(spark, t)
        expected = _probe_pairs(spark, t)
        _simulate_crash_between_renames(spark, t)
        assert not spark.catalog.tableExists(t)

        DD.compact_index(spark, t)
        assert spark.catalog.tableExists(t)
        for suffix in ("__delta", "__compact", "__old"):
            assert not spark.catalog.tableExists(f"{t}{suffix}"), suffix
        assert _probe_pairs(spark, t) == expected
        assert expected, "probe found no pairs — test corpus broken"
    finally:
        _cleanup(spark, t)


def test_compact_recovers_from_crash_after_swap(spark):
    """Crash AFTER both renames but before cleanup (old + already-folded
    delta still present): a rerun must roll FORWARD — drop both, keep
    the swapped-in layout, and NOT fold the stale delta a second time
    (duplicated index rows would double-count candidate pairs)."""
    from cheque_ocr_project_spark.operators import dedup as DD

    t = "t_crash_post"
    _cleanup(spark, t)
    try:
        _mk_index(spark, t)
        expected = _probe_pairs(spark, t)
        _simulate_crash_between_renames(spark, t)
        spark.sql(f"ALTER TABLE {t}__compact RENAME TO {t}")

        DD.compact_index(spark, t)
        for suffix in ("__delta", "__compact", "__old"):
            assert not spark.catalog.tableExists(f"{t}{suffix}"), suffix
        assert _probe_pairs(spark, t) == expected
    finally:
        _cleanup(spark, t)


def test_append_after_crash_rolls_back_first(spark):
    """An append that arrives after a mid-swap crash must not land in a
    delta the next compaction's roll-forward would discard: append runs
    recovery first, the rolled-back index accepts the batch, and the
    probe sees it."""
    from cheque_ocr_project_spark.operators import dedup as DD

    t = "t_crash_append"
    _cleanup(spark, t)
    try:
        _mk_index(spark, t)
        _simulate_crash_between_renames(spark, t)

        late = spark.createDataFrame(
            [(5000, f"{BASE} batch marker 1")], "doc_id long, text string",
        )
        DD.append_to_minhash_index(spark, late, t, "doc_id", "text")
        assert spark.catalog.tableExists(t)
        pairs = _probe_pairs(spark, t)
        assert any(b == 5000 for _a, b in pairs), (
            f"late append invisible after crash recovery: {sorted(pairs)}"
        )
        DD.compact_index(spark, t)
        assert _probe_pairs(spark, t) == pairs
    finally:
        _cleanup(spark, t)


def test_compact_clears_orphaned_locations(spark):
    """A dead SESSION leaves warehouse directories with no catalog entry
    (the in-memory catalog forgets, the filesystem doesn't); plain DROP
    TABLE IF EXISTS cannot clear them and write_bucketed/RENAME then
    fails with LOCATION_ALREADY_EXISTS. compact_index must clear stray
    __compact/__old locations on entry and succeed."""
    import os

    from cheque_ocr_project_spark.operators import dedup as DD

    t = "t_crash_orphan"
    _cleanup(spark, t)
    try:
        _mk_index(spark, t)
        expected = _probe_pairs(spark, t)
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        for suffix in ("__compact", "__old"):
            d = os.path.join(wh, f"{t}{suffix}".lower())
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "stray.parquet"), "w") as f:
                f.write("not a real parquet file")

        DD.compact_index(spark, t)
        assert _probe_pairs(spark, t) == expected
        assert not spark.catalog.tableExists(f"{t}__delta")
    finally:
        _cleanup(spark, t)


# ---------------------------------------------------------------------------
# kmeans_refine offset guard (ADVICE r06 #4)
# ---------------------------------------------------------------------------

def test_kmeans_refine_guard_raises_on_out_of_range(spark):
    """A component <= -KM_OFFSET micros used to TRUNCATE instead of
    floor in the centroid div, silently mis-clustering; now it raises
    with the offset named. In-range negatives (> -16.777216) keep
    working."""
    from cheque_ocr_project_spark.operators import similarity as SIM

    def emb_df(low):
        rows = [(i, [0.1 * i, -0.2, 0.3, float(low) if i == 3 else 0.5])
                for i in range(10)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    bad = SIM.kmeans_refine(emb_df(-20.0), n_pivots=2)
    with pytest.raises(Exception, match="KM_OFFSET"):
        bad.collect()

    ok = SIM.kmeans_refine(emb_df(-16.0), n_pivots=2).collect()
    assert len(ok) == 10
    assert {r["vec_id"] for r in ok} == set(range(10))


# ---------------------------------------------------------------------------
# semantic_dedup — SemDeDup-style cell-bounded embedding dedup
# ---------------------------------------------------------------------------

def _write_embeddings(tmp_path, rows):
    """rows = [(vec_id, [floats])] -> embeddings.parquet."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table({
        "vec_id": pa.array([r[0] for r in rows], pa.int64()),
        "embedding": pa.array([r[1] for r in rows],
                              pa.list_(pa.float32())),
    })
    pq.write_table(tbl, tmp_path / "embeddings.parquet")
    return str(tmp_path)


def test_semantic_dedup_drops_planted_clones_keeps_min_id(spark, tmp_path):
    """Planted positives: an exact clone and a SCALED clone (cosine 1.0,
    different norm) of existing vectors must be dropped — the smaller
    original id survives — while mutually orthogonal vectors all
    survive (cosine 0 < tau). Scaling invariance matters: semantic
    duplication is directional, so an L2-near-dup rule would miss the
    scaled copy."""
    dim = 16
    base = [(i, [1.0 if d == i else 0.0 for d in range(dim)])
            for i in range(10)]
    clones = [
        (100, [1.0 if d == 2 else 0.0 for d in range(dim)]),   # exact
        (101, [0.9 if d == 3 else 0.0 for d in range(dim)]),   # scaled
    ]
    sf = _write_embeddings(tmp_path, base + clones)
    out = {(r["vec_id"], r["cluster"])
           for r in Q.q_semantic_dedup(spark, sf).collect()}
    kept = {v for v, _c in out}
    assert kept == set(range(10)), kept

    # plan lock: the survivor path is agg + anti-join — ZERO windows
    # (the argmin is min(struct)); the only corpus x corpus shuffle is
    # the cell equi-join, never a nested loop
    plan = (Q.q_semantic_dedup(spark, sf)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semantic_dedup_chain_keeps_only_min_id(spark, tmp_path):
    """A duplicate CHAIN (three copies of one direction) keeps exactly
    the smallest id: every later copy has a smaller similar cell-mate,
    kept or not — the greedy rule needs no iteration. n_pivots=1 forces
    one cell so the chain semantics are tested in isolation (with
    k >= n every vector is its own pivot and dedup is vacuously a
    no-op — the k knob IS the scale/recall trade)."""
    from cheque_ocr_project_spark.operators import similarity as SIM

    dim = 16
    rows = [(7, [1.0] + [0.0] * (dim - 1)),
            (8, [0.5] + [0.0] * (dim - 1)),
            (9, [2.0] + [0.0] * (dim - 1)),
            (3, [0.0, 1.0] + [0.0] * (dim - 2))]
    sf = _write_embeddings(tmp_path, rows)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    kept = {r["vec_id"]
            for r in SIM.semantic_dedup(emb, n_pivots=1,
                                        threshold=0.3).collect()}
    assert kept == {3, 7}, kept


def test_semantic_dedup_rounding_follows_spark_round(spark):
    """The cell kernel's rounding must equal Spark's round(x, 4) on a
    double, including on decimal ties whose binary expansion falls below
    the tie: the double nearest 0.29995 rounds to 0.3 (its exact expansion
    would round to 0.2999)."""
    from cheque_ocr_project_spark.operators import similarity as SIM

    assert SIM.spark_round4(0.29995) == 0.3
    xs = [0.29995, *(float(f"0.{k:04d}5") for k in range(8990, 9010))]
    got = spark.createDataFrame(list(enumerate(xs)), "i int, x double")
    want = {r["i"]: r["r"]
            for r in got.select("i", F.round("x", 4).alias("r")).collect()}
    assert [SIM.spark_round4(x) for x in xs] == [want[i] for i in range(len(xs))]


# ---------------------------------------------------------------------------
# minhash_novelty — sequential-ingest novelty filter
# ---------------------------------------------------------------------------

def test_minhash_novelty_every_arrival_path_fires(spark, tmp_path):
    """Planted duplicates force each of the three detection paths to
    drop a doc: a within-batch pair (both copies in batch 1), an
    index-probe pair (batch-2 copy of a batch-1 doc), and a DELTA-probe
    pair (batch-3 copy of a batch-2 doc — batch 2 lives only in the
    unbucketed delta when batch 3 probes). A silently skipped path
    leaves its duplicate in the survivors. Ids avoid doc_id % 7 == 0 so
    the _docs_with_near_dups clone transform plants nothing extra."""
    import pandas as pd

    a = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi")
    b = ("one two three four five six seven eight nine ten eleven "
         "twelve thirteen fourteen fifteen sixteen seventeen eighteen")
    c = ("completely novel content about maritime navigation and the "
         "careful calibration of brass instruments at sea in winter")
    rows = [
        (10, a), (20, a),          # batch 1: within-batch dup -> drop 20
        (300, a),                  # batch 2 vs INDEX -> drop 300
        (400, b),                  # batch 2, novel
        (1000500, b),              # batch 3 vs DELTA (b seen only in
                                   # the delta) -> drop 1000500
        (1000600, c),              # batch 3, novel
    ]
    df = pd.DataFrame(rows, columns=["doc_id", "text"])
    df["doc_id"] = df["doc_id"].astype("int64")
    df["lang"], df["source"] = "en", "s"
    df["n_chars"] = df["text"].str.len().astype("int64")
    df.to_parquet(tmp_path / "documents.parquet", index=False)

    kept = {r["doc_id"]
            for r in Q.q_minhash_novelty(spark, str(tmp_path)).collect()}
    assert kept == {10, 400, 1000600}, kept


# ---------------------------------------------------------------------------
# token_freq_buckets — CCNet-style head/middle/tail by frequency proxy
# ---------------------------------------------------------------------------

def test_token_freq_buckets_planted_extremes(spark, tmp_path):
    """A document of corpus-dominant words must land in the head, a
    hapax-only document in the tail, and a token-less document must
    still get a row (0 tokens, freq 0, tail) — a filter op passes a
    verdict on EVERY doc."""
    import pandas as pd

    common = ("the " * 200).strip()           # 'the' dominates the corpus
    hapax = "zqv wxk jmb prt lsd fgh"          # six singletons
    rows = [(1, common, "s"), (2, hapax, "s"), (3, "", "s"),
            (4, "the the filler words here", "s")]
    df = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    df["doc_id"] = df["doc_id"].astype("int64")
    df["lang"] = "en"
    df["n_chars"] = df["text"].str.len().astype("int64")
    df = df[["doc_id", "text", "lang", "source", "n_chars"]]
    df.to_parquet(tmp_path / "documents.parquet", index=False)

    out = {r["doc_id"]: r
           for r in Q.q_token_freq_buckets(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["bucket"] == "head", dict(out[1].asDict())
    assert out[2]["bucket"] == "tail", dict(out[2].asDict())
    assert out[3]["bucket"] == "tail" and out[3]["n_tokens"] == 0 \
        and out[3]["freq_ppm"] == 0, dict(out[3].asDict())


def test_token_freq_bucket_thresholds_bind_at_sf001(spark):
    """All three buckets must be non-empty at the contract SF — a
    threshold outside the corpus freq range would make the driver hash
    insensitive to the bucketing logic."""
    rows = Q.q_token_freq_buckets(spark, SF).collect()
    buckets = {r["bucket"] for r in rows}
    assert buckets == {"head", "middle", "tail"}, buckets


def test_streaming_novelty_replay_drop_rule_is_idempotent(spark, tmp_path):
    """The streaming foreachBatch is at-least-once: a crash between the
    index append and the checkpoint commit replays a batch against an
    index that ALREADY CONTAINS the batch's own rows. The guarded cross
    rule (drop probe only when probe_id > corpus_id) must then produce
    the same novelty verdicts as the clean first delivery — an
    unguarded rule would drop BOTH members of a within-batch pair on
    replay (each is the other's probe) and self-pairs would kill every
    doc."""
    from cheque_ocr_project_spark.operators import dedup as DD

    corpus = spark.createDataFrame(
        [(1, "earlier corpus material on glacial sediment layers and "
             "the slow migration of terminal moraines across valleys")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, BASE + " fresh arrival content marker two"),
         (20, BASE + " fresh arrival content marker two"),   # dup of 10
         (30, "novel astronomy content about minor planets and the "
              "orbital resonance structure of the outer belt regions")],
        "doc_id long, text string",
    )

    def verdicts(pre_delivered: bool):
        """Drive the SHIPPED ingest step (novelty_ingest_batch — the
        exact function both twins run). pre_delivered simulates the
        crash state: the batch's rows already appended to the index
        by the crashed first attempt."""
        t = "t_replay_idx"
        for suffix in ("", "__delta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")
        DD.persist_minhash_index(corpus, t, "doc_id", "text",
                                 n_buckets=4)
        if pre_delivered:
            DD.append_to_minhash_index(spark, batch, t, "doc_id", "text")
        dropped = DD.novelty_ingest_batch(
            spark, batch, t, "doc_id", "text", threshold=0.5
        )
        out = {r["doc_id"] for r in
               batch.join(dropped, "doc_id", "left_anti").collect()}
        for suffix in ("", "__delta"):
            spark.sql(f"DROP TABLE IF EXISTS {t}{suffix}")
        return out

    clean = verdicts(pre_delivered=False)   # first delivery
    replay = verdicts(pre_delivered=True)   # redelivery after crash
    assert clean == replay == {10, 30}, (clean, replay)


# ---------------------------------------------------------------------------
# winnow_substring_pairs — exact-substring near-dup detection
# ---------------------------------------------------------------------------

def test_winnow_substring_pairs_catch_verbatim_quote_minhash_misses(
        spark, tmp_path):
    """The motivating case: a long VERBATIM quote embedded in otherwise
    different documents. The fingerprint-overlap pair fires (any shared
    substring >= k + window - 1 chars shares a fingerprint, and the
    quote dominates the smaller doc), while set-Jaccard MinHash at 0.5
    scores the pair far below threshold because the longer doc's unique
    text swamps the shingle set."""
    import pandas as pd

    from cheque_ocr_project_spark.operators import dedup as DD

    quote = ("to be or not to be that is the question whether tis "
             "nobler in the mind to suffer the slings and arrows")
    long_unique = (
        "market analysts reviewed quarterly filings across the energy "
        "sector while commodity desks repriced forward curves and the "
        "committee debated reserve requirements for regional lenders "
        "throughout a volatile session of cross border settlements "
    ) * 3
    rows = [
        (1, quote + " said the director at the close", "s"),
        (2, long_unique + quote, "s"),
        (3, "unrelated text about alpine meadow ecology and the slow "
            "return of pollinator populations after managed grazing",
         "s"),
    ]
    df = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    df["doc_id"] = df["doc_id"].astype("int64")
    df["lang"] = "en"
    df["n_chars"] = df["text"].str.len().astype("int64")
    df = df[["doc_id", "text", "lang", "source", "n_chars"]]
    df.to_parquet(tmp_path / "documents.parquet", index=False)
    sf = str(tmp_path)

    sub_pairs = {(r["id_a"], r["id_b"])
                 for r in Q.q_winnow_substring_pairs(spark, sf).collect()}
    assert (1, 2) in sub_pairs, sub_pairs

    docs = Q._docs_with_near_dups(spark, sf)
    mh = {(r["id_a"], r["id_b"]) for r in DD.minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=64, bands=16, shingle_k=5,
        threshold=0.5,
    ).collect()}
    assert (1, 2) not in mh, mh


def test_bench_name_sets_resolve_against_registry():
    """bench.py routes queries by NAME (HEADLINE timing set,
    ADAPTER_TIMED sweep split): a typo or a renamed registry entry
    would silently drop a headline row or time an adapter row as
    operator cost. Pin every name to the live registry."""
    import bench

    reg = set(Q.queries())
    missing_headline = [n for n in bench.HEADLINE if n not in reg]
    assert not missing_headline, missing_headline
    missing_adapter = [n for n in bench.ADAPTER_TIMED if n not in reg]
    assert not missing_adapter, missing_adapter
