"""Planted-positive + scale-mechanics tests for the round-6 second-wave
operators: turn_repetition (chunked consecutive-turn Jaccard),
remove_boilerplate (shared-span dedup + reassembly), collocations_topk
(integer-lift bigrams), embedding_quantize (int8 QA), kmeans_refine
(one deterministic Lloyd step).

Oracle parity at sf0.01 is covered by test_driver_contract's sweep and
the large-id fuzz auto-extends to these (they touch only fuzz tables);
here we prove each operator BINDS (planted positives change the output)
and that the scale-sensitive plans hold their shape.
"""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from cheque_ocr_project_spark.plans import ann, events, near_dup, text_stats
from cheque_ocr_project_spark.plans import queries as Q


def _write_docs(tmp_path, rows):
    """rows = [(doc_id, text, source)] -> documents.parquet dir."""
    df = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    df["doc_id"] = df["doc_id"].astype("int64")
    df["lang"] = "en"
    df["n_chars"] = df["text"].str.len().astype("int64")
    df = df[["doc_id", "text", "lang", "source", "n_chars"]]
    df.to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


# ---------------------------------------------------------------------------
# turn_repetition
# ---------------------------------------------------------------------------

def test_turn_repetition_identical_turn_pins_ppm(spark, tmp_path):
    """An assistant re-emitting the same turn verbatim must show
    rep_ppm == 1e6; a fully disjoint turn shows 0 — the planted
    positives the degenerate-loop gate keys on."""
    sf = _write_docs(tmp_path, [
        (0, "alpha beta gamma", "convA"),
        (1, "alpha beta gamma", "convA"),          # identical repeat
        (2, "delta epsilon", "convA"),             # disjoint
        (3, "alpha beta delta epsilon", "convA"),  # half overlap
    ])
    out = {
        r["turn_idx"]: r
        for r in events.q_turn_repetition(spark, sf).collect()
    }
    assert set(out) == {1, 2, 3}  # turn 0 has no predecessor
    assert (out[1]["inter_toks"], out[1]["union_toks"],
            out[1]["rep_ppm"]) == (3, 3, 1_000_000)
    assert (out[2]["inter_toks"], out[2]["rep_ppm"]) == (0, 0)
    assert (out[3]["inter_toks"], out[3]["union_toks"]) == (2, 4)
    assert out[3]["rep_ppm"] == 500_000


@pytest.mark.parametrize("chunk_sz", [1, 2, 3, 7, 4096])
def test_turn_repetition_chunked_matches_naive_across_gaps(spark, chunk_sz):
    """Force many chunk boundaries AND empty chunks (sparse turn_idx);
    the two-pass decomposition must equal the naive single-window lag
    computed in pandas at EVERY chunk width — chunk_sz=1 routes every
    predecessor through the summary-carry path (each chunk holds one
    row), 4096 routes everything through the intra-chunk lag, and the
    small primes exercise mixed boundaries over the gappy indexes."""
    rng = np.random.RandomState(11)
    vocab = ["a", "b", "c", "d", "e", "f"]
    rows = []
    for conv in ("c1", "c2"):
        # sparse, gappy turn indexes: consecutive runs + long holes
        idxs = sorted(rng.choice(200, size=40, replace=False).tolist())
        for i in idxs:
            text = " ".join(rng.choice(vocab, size=rng.randint(1, 6)))
            rows.append((conv, i, text))
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "text"])
    sdf = spark.createDataFrame(pdf).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    got = (
        events.turn_repetition_chunked(sdf, chunk_sz=chunk_sz)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )

    exp_rows = []
    for conv, g in pdf.groupby("conv_id"):
        g = g.sort_values("turn_idx")
        prev = None
        for r in g.itertuples():
            toks = set(r.text.split())
            if prev is not None:
                inter, union = len(toks & prev), len(toks | prev)
                exp_rows.append(
                    (conv, r.turn_idx, inter, union,
                     inter * 1_000_000 // max(union, 1))
                )
            prev = toks
    exp = pd.DataFrame(
        exp_rows,
        columns=["conv_id", "turn_idx", "inter_toks", "union_toks",
                 "rep_ppm"],
    ).sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got.astype({"turn_idx": "int64"}),
        exp.astype(
            {c: "int64" for c in
             ["turn_idx", "inter_toks", "union_toks", "rep_ppm"]}
        ),
    )


def test_turn_repetition_whale_conversation_plan(spark, tmp_path):
    """conv_id is low-cardinality by construction, so the big-side lag
    must NEVER partition by conv_id alone: one 18k-turn conversation in
    one task is the skew shape sessionize_chunked was built to kill.
    Locks the single-scan ReuseExchange plan (AQE off, like
    test_plan_shapes_hold) and checks correctness on the whale."""
    n = 18_000

    def letters(i):  # the tokenizer is [a-z]+, so digits would vanish
        return "".join(chr(97 + int(d)) for d in str(i))

    rows = [(i, f"{letters(i)} same same", "whale") for i in range(n)]
    sf = _write_docs(tmp_path, rows)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = events.q_turn_repetition(spark, sf)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("FileScan") == 1 and "ReusedExchange" in plan
        # every window over the full input partitions by (conv, chunk);
        # the only conv-only window is the per-chunk summary lag, which
        # sits above the distinct (bounded at one row per chunk)
        import re

        specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
        conv_only = [
            s for s in specs
            if "conv_id" in s and "chunk" not in s
        ]
        assert not conv_only, conv_only
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")

    out = df.toPandas()
    assert len(out) == n - 1
    # every turn = {letters(i), same}; letters(i) is distinct per turn,
    # so consecutive turns share exactly 'same' -> inter==1, union==3
    assert (out["inter_toks"] == 1).all() and (out["union_toks"] == 3).all()


# ---------------------------------------------------------------------------
# remove_boilerplate
# ---------------------------------------------------------------------------

def test_remove_boilerplate_drops_shared_tile_keeps_unique(spark, tmp_path):
    shared = "one two three four"          # exactly one SPAN_W tile
    sf = _write_docs(tmp_path, [
        (0, shared + " aaa bbb ccc ddd", "s"),
        (1, shared + " eee fff ggg hhh", "s"),
        (2, "iii jjj kkk lll", "s"),
    ])
    out = {r["doc_id"]: r for r in
           text_stats.q_remove_boilerplate(spark, sf).collect()}
    assert out[0]["n_spans"] == 2 and out[0]["kept_spans"] == 1
    assert out[0]["text_clean"] == "aaa bbb ccc ddd"
    assert out[1]["text_clean"] == "eee fff ggg hhh"
    # unique doc untouched (already lowercase, one tile)
    assert out[2]["n_spans"] == 1 and out[2]["kept_spans"] == 1
    assert out[2]["text_clean"] == "iii jjj kkk lll"


def test_remove_boilerplate_intra_doc_repeat_not_boilerplate(spark, tmp_path):
    """doc_freq counts DISTINCT documents: a tile repeated inside one
    document is repetition (rep_dup_lines' job), not cross-doc
    boilerplate — it must survive here."""
    tile = "ww xx yy zz"
    sf = _write_docs(tmp_path, [
        (0, tile + " " + tile, "s"),       # same tile twice, one doc
        (1, "mm nn oo pp", "s"),
    ])
    out = {r["doc_id"]: r for r in
           text_stats.q_remove_boilerplate(spark, sf).collect()}
    assert out[0]["kept_spans"] == 2
    assert out[0]["text_clean"] == tile + " " + tile


def test_remove_boilerplate_plan_pruned_no_window(spark):
    df = Q.queries()["remove_boilerplate"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "row_number" not in plan, plan
    import re

    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all(
        "lang" not in s and "source" not in s and "n_chars" not in s
        for s in schemas
    ), schemas
    assert df.count() > 0


# ---------------------------------------------------------------------------
# collocations_topk
# ---------------------------------------------------------------------------

def test_collocations_planted_pair_ranks_first(spark, tmp_path):
    """A pair whose words occur ONLY together maximizes lift — it must
    rank first; filler pairs between common words rank below."""
    filler = ("the cat the dog the cat the bird the cat the dog " * 5).strip()
    sf = _write_docs(tmp_path, [
        (0, filler + " zyx qwv", "s"),
        (1, "zyx qwv " + filler, "s"),
        (2, filler + " zyx qwv " + filler, "s"),
    ])
    rows = text_stats.q_collocations_topk(spark, sf).collect()
    assert rows[0]["bigram"] == "zyx qwv"
    assert rows[0]["pair_cnt"] == 3
    lifts = [r["lift_ppm"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_collocations_plan_is_top_k_not_global_sort(spark):
    df = Q.queries()["collocations_topk"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert len(df.collect()) <= text_stats.COLLOC_K


# ---------------------------------------------------------------------------
# embedding_quantize
# ---------------------------------------------------------------------------

def _write_emb(tmp_path, vecs):
    df = pd.DataFrame({
        "vec_id": pd.array(range(len(vecs)), dtype="int64"),
        "embedding": [np.asarray(v, dtype="float32") for v in vecs],
        "label": [0] * len(vecs),
    })
    df.to_parquet(tmp_path / "embeddings.parquet", index=False)
    return str(tmp_path)


def test_embedding_quantize_extremes_and_constant_dim(spark, tmp_path):
    """Dimension extremes reconstruct exactly (err 0); a constant
    dimension hits the greatest(range,1) guard with err 0; interior
    values match the integer formula replayed in Python over the same
    float32->double promotion both engines use."""
    vecs = [[0.5, 0.0], [0.5, 1.0], [0.5, 0.3]]
    sf = _write_emb(tmp_path, vecs)
    out = {r["vec_id"]: r for r in
           ann.q_embedding_quantize(spark, sf).collect()}
    assert out[0]["q_err_l1_micros"] == 0          # both dims exact
    assert out[1]["q_err_l1_micros"] == 0          # max endpoint exact

    pm = [math.floor(float(np.float32(v)) * 1e6) for v in (0.0, 1.0, 0.3)]
    mn, mx = min(pm), max(pm)
    p = pm[2]
    q = (p - mn) * 255 // max(mx - mn, 1)
    recon = mn + q * (mx - mn) // 255
    assert out[2]["q_err_l1_micros"] == abs(p - recon)
    assert out[2]["q_err_max_micros"] == abs(p - recon)


# ---------------------------------------------------------------------------
# kmeans_refine
# ---------------------------------------------------------------------------

def test_kmeans_refine_moves_outlier_seed_point(spark, tmp_path):
    """Plant a scenario where one Lloyd step provably re-assigns a
    point: seed pivots land at 0.0 and 3.0 (we place the two
    hash-minimal ids there), the mass sits at 10.0. After assignment,
    cluster B's centroid is dragged to ~9.4, so the 3.0 seed itself is
    now nearer cluster A's centroid (0.0) and must move; the 10.0 mass
    must stay put and stay pure."""
    from cheque_ocr_project_spark.operators.similarity import (
        IVF_PIVOT_MIX, IVF_PIVOT_MOD, kmeans_refine,
    )

    ids = list(range(12))
    ranked = sorted(ids, key=lambda i: ((i % IVF_PIVOT_MOD) * IVF_PIVOT_MIX)
                    % IVF_PIVOT_MOD)
    pivot_a, pivot_b = sorted(ranked[:2])  # tie-breaks favor smaller id
    vals = {i: 10.0 for i in ids}
    vals[pivot_a], vals[pivot_b] = 0.0, 3.0

    df = pd.DataFrame({
        "vec_id": pd.array(ids, dtype="int64"),
        "embedding": [np.array([vals[i]], dtype="float32") for i in ids],
        "label": [0] * len(ids),
    })
    df.to_parquet(tmp_path / "embeddings.parquet", index=False)

    emb = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    out = {r["vec_id"]: r for r in
           kmeans_refine(emb, n_pivots=2).collect()}
    assert len(out) == len(ids)

    seed_b = out[pivot_b]
    assert seed_b["cluster0"] == pivot_b       # it IS pivot B
    assert seed_b["cluster1"] == pivot_a       # dragged centroid expels it
    assert bool(seed_b["moved"])

    mass = [out[i] for i in ids if vals[i] == 10.0]
    assert all(r["cluster0"] == pivot_b for r in mass)
    assert all(r["cluster1"] == pivot_b and not r["moved"] for r in mass)
    assert out[pivot_a]["cluster1"] == pivot_a


def test_kmeans_refine_no_window_on_big_side(spark):
    """Both argmins are min(struct) aggregates, never ranking windows —
    the per-vector candidate set is bounded by k, but a row_number
    window would still force a per-vec sort task; the agg form combines
    map-side."""
    df = Q.queries()["kmeans_refine"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan and "row_number" not in plan, plan
    assert df.count() > 0


# ---------------------------------------------------------------------------
# ann_quantized_topk
# ---------------------------------------------------------------------------

def test_ann_quantized_planted_nearest_neighbor(spark, tmp_path):
    """A corpus vector sitting on top of a query must rank 1 even after
    int8 quantization; a far vector must rank last of the three."""
    rng = np.random.RandomState(3)
    base = rng.randn(8).astype("float32")
    vecs = [
        base,                                    # vec 0: the query (<5)
        base + np.float32(1e-3),                 # vec 5: near-identical
        (base + 5.0).astype("float32"),          # vec 6: far
        rng.randn(8).astype("float32") + 2.0,    # vec 7: medium
    ]
    df = pd.DataFrame({
        "vec_id": pd.array([0, 5, 6, 7], dtype="int64"),
        "embedding": [np.asarray(v, dtype="float32") for v in vecs],
        "label": [0] * 4,
    })
    df.to_parquet(tmp_path / "embeddings.parquet", index=False)
    out = ann.q_ann_quantized_topk(spark, str(tmp_path)).collect()
    by_rank = {r["rn"]: r["vec_id"] for r in out if r["query_id"] == 0}
    assert by_rank[1] == 5
    assert by_rank[3] == 6
    # self is excluded
    assert all(r["vec_id"] != 0 for r in out if r["query_id"] == 0)


# ---------------------------------------------------------------------------
# loop_flagged_convs
# ---------------------------------------------------------------------------

def test_loop_gate_bites_on_degenerate_conversation(spark, tmp_path):
    """A conversation that keeps re-emitting the same turn must flag;
    a conversation of fully disjoint turns must not."""
    loop_turns = [(i, "please try the same fix again", "loopy")
                  for i in range(6)]
    vocab = ["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"]
    varied_turns = [
        (100 + i, f"{vocab[i]} {vocab[(i + 1) % 8]}qq", "varied")
        for i in range(6)
    ]
    sf = _write_docs(tmp_path, loop_turns + varied_turns)
    out = {r["conv_id"]: r for r in
           events.q_loop_flagged_convs(spark, sf).collect()}
    assert out["loopy-0"]["flagged"] and out["loopy-0"]["loop_turns"] == 5
    assert not out["varied-0"]["flagged"]
    assert out["varied-0"]["loop_turns"] == 0


# ---------------------------------------------------------------------------
# oov_rate
# ---------------------------------------------------------------------------

def test_oov_rate_counts_rare_terms(spark, tmp_path):
    """With VOCAB_TOPK=20 the vocabulary holds every distinct term of a
    small corpus except the ones we crowd out: build 21+ distinct terms
    where one ('zzz') is strictly rarest — it must be the OOV."""
    common = " ".join(f"w{chr(97 + i)}" for i in range(20))  # 20 terms
    rows = [(i, common, "s") for i in range(3)]              # each x3
    rows.append((3, common + " zzz", "s"))                   # zzz once
    sf = _write_docs(tmp_path, rows)
    out = {r["doc_id"]: r for r in text_stats.q_oov_rate(spark, sf).collect()}
    assert out[0]["oov_tokens"] == 0 and out[0]["oov_ppm"] == 0
    assert out[3]["n_tokens"] == 21 and out[3]["oov_tokens"] == 1
    assert out[3]["oov_ppm"] == 1_000_000 // 21


def test_oov_rate_vocab_join_is_broadcast(spark):
    df = Q.queries()["oov_rate"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert df.count() > 0


# ---------------------------------------------------------------------------
# containment_pairs
# ---------------------------------------------------------------------------

def test_containment_catches_what_jaccard_misses(spark, tmp_path):
    """A short doc embedded verbatim in a much longer doc has low
    Jaccard but containment ~1 — the pair must surface; unrelated docs
    must not pair. (ids 1-3 are not multiples of 7, so the clone
    machinery in _docs_with_near_dups stays inert here.)"""
    short = "red fox jumps over lazy dog tonight"
    long_doc = (
        "intro words before the quote begins now " + short +
        " and then a very long tail " +
        " ".join(f"t{chr(97 + i % 26)}{chr(97 + (i // 26) % 26)}"
                  for i in range(120))
    )
    sf = _write_docs(tmp_path, [
        (1, short, "s"),
        (2, long_doc, "s"),
        (3, "completely unrelated words about maritime navigation "
            "charts and brass instruments at sea calibration", "s"),
    ])
    rows = near_dup.q_containment_pairs(spark, sf).collect()
    pairs = {(r["id_a"], r["id_b"]): r for r in rows}
    assert (1, 2) in pairs
    assert pairs[(1, 2)]["cont_ppm"] == 1_000_000  # fully contained
    assert not any({3} & {a, b} for a, b in pairs)


def test_containment_maxdf_filter_bounds_fanout(spark, tmp_path):
    """A shingle present in > CONT_MAXDF documents must be excluded
    from the join (no signal, quadratic cost): give every doc one
    ubiquitous shingle and nothing else shared — no pairs may emerge."""
    common = "aaa bbb ccc"  # one 3-gram, shared by all docs
    # ids avoid doc_id % 7 == 0 so the near-dup clone machinery stays
    # inert (a clone would legitimately pair with its original)
    ids = [i for i in range(1, 60) if i % 7][: near_dup.CONT_MAXDF + 2]
    rows = [(i, common + f" u{chr(97 + i % 26)}w only here "
             f"{chr(97 + i % 26)}x {chr(97 + i % 26)}y "
             f"q{chr(97 + i // 26)}{chr(97 + i % 26)}z", "s")
            for i in ids]
    sf = _write_docs(tmp_path, rows)
    assert near_dup.q_containment_pairs(spark, sf).count() == 0


# ---------------------------------------------------------------------------
# rotation sanity
# ---------------------------------------------------------------------------

def test_rotation_names_valid_and_new_ops_lead_the_sample():
    """The registry merge silently skips unknown _CHECK_FIRST names (a
    typo would drop a query from the driver sample without a trace), so
    pin: every rotation name resolves, no duplicates, and the round-7
    obligations sit inside the 50-query sample prefix the driver checks
    — the six r04-carries (promised the r07 lead by the r06 comment),
    the queries whose implementation changed after their last driver
    row, and the three round-7 additions (VERDICT r06 #1/#3/#4/#6)."""
    reg = Q.registry()
    missing = [n for n in Q._CHECK_FIRST if n not in reg]
    assert not missing, missing
    assert len(set(Q._CHECK_FIRST)) == len(Q._CHECK_FIRST)
    lead50 = list(reg)[:50]
    for name in (
        # moved onto the shared bucket-pair join / top-k tail
        "containment_pairs", "winnow_substring_pairs", "near_dup_clusters",
        "dedup_survivors", "ann_topk", "embedding_near_dup",
        # r04-carries
        "media_resize", "media_frame_sample", "qa_extract", "t5_spell",
        "zero_shot_classify", "variant_keep_best",
        # re-implemented after last driver row
        "doclen_quantiles", "collocations_topk", "kmeans_refine",
        # round-7 additions
        "ann_ivf_quantized_topk", "corpus_job_survivors",
        "ann_lsh_topk_multiprobe",
    ):
        assert name in lead50, name


# ---------------------------------------------------------------------------
# range_join_binned
# ---------------------------------------------------------------------------

def test_range_join_boundaries_and_cross_bin(spark, tmp_path):
    """Pins the (start, end] boundary semantics and the cross-bin match:
    a click at exactly the window open is excluded (strict >), one at
    the purchase instant included (<=), and a click in the PREVIOUS
    hour-bin still meets its window through the bin explode."""
    rows = [
        # (event_id, ts, user_id, event_type)
        (100, "2024-01-02 12:00:00.000000", 1, "purchase"),
        (1, "2024-01-02 11:00:00.000000", 1, "click"),   # == open: out
        (2, "2024-01-02 11:00:00.000001", 1, "click"),   # just in
        (3, "2024-01-02 11:59:00.000000", 1, "click"),   # prev bin, in
        (4, "2024-01-02 12:00:00.000000", 1, "click"),   # == end: in
        (5, "2024-01-02 12:00:00.000001", 1, "click"),   # past end: out
        (6, "2024-01-02 11:30:00.000000", 2, "click"),   # no window
    ]
    ev = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                     "event_type"])
    ev["ts"] = pd.to_datetime(ev["ts"])
    ev["event_id"] = ev["event_id"].astype("int64")
    ev["user_id"] = ev["user_id"].astype("int64")
    ev["value"] = 1.0
    ev["props"] = "{}"
    ev.to_parquet(tmp_path / "events.parquet", index=False,
                  coerce_timestamps="us", allow_truncated_timestamps=True)
    out = events.q_range_join_binned(spark, str(tmp_path)).collect()
    got = {(r["w_id"], r["click_id"]): r["gap_us"] for r in out}
    assert set(got) == {(100, 2), (100, 3), (100, 4)}
    assert got[(100, 4)] == 0                       # at the instant
    assert got[(100, 3)] == 60 * 1_000_000          # one minute before
    assert got[(100, 2)] == 3600 * 1_000_000 - 1    # just inside


def test_range_join_plan_is_equi_not_nested_loop(spark):
    df = Q.queries()["range_join_binned"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan, plan
    assert df.count() >= 0


# ---------------------------------------------------------------------------
# corpus_job pipeline
# ---------------------------------------------------------------------------

def test_corpus_job_stages_chain_and_resume(spark, tmp_path):
    """The corpus pipeline materializes gate survivors once and feeds
    the SAME contract callables from the stage directory; a resumed run
    skips completed stages (markers + unchanged artifacts), and a fresh
    run into existing state without --resume refuses."""
    from cheque_ocr_project_spark import corpus_job as CJ
    from cheque_ocr_project_spark.plans import queries as Q

    src = "/root/testdata/sf0.001"
    out = tmp_path / "run"
    counts = CJ.run(spark, src, str(out))
    expected = Q.queries()["corpus_filter_v3"](spark, src).count()
    assert counts["survivors"] == expected
    assert counts["packed"] == expected and counts["splits"] == expected
    assert (out / "summary.txt").read_text().startswith("packed:")

    # stage outputs are documents-shaped: any contract operator runs on
    # them unchanged
    again = Q.queries()["token_stats"](spark, str(out / "survivors"))
    assert again.count() == expected

    # resume skips completed stages: markers keep their wall_ms payload
    import json as _json

    before = _json.loads((out / "survivors" / "_STAGE_DONE").read_text())
    counts2 = CJ.run(spark, src, str(out), resume=True)
    after = _json.loads((out / "survivors" / "_STAGE_DONE").read_text())
    assert counts2 == counts and before == after

    # a non-resume, non-overwrite rerun must refuse rather than clobber
    with pytest.raises(SystemExit):
        CJ.run(spark, src, str(out))

    # overwrite discards and recomputes from scratch
    counts3 = CJ.run(spark, src, str(out), overwrite=True)
    assert counts3 == counts


def test_ann_quantized_recall_vs_exact(spark):
    """The int8 codes must stay a faithful search surface: per query,
    the quantized top-5 and the exact float top-5 (ann_topk) overlap on
    most neighbors at sf0.01 — measured, not assumed (the same recall
    discipline lsh_topk ships with)."""
    sf = "/root/testdata/sf0.01"
    exact = {}
    for r in Q.queries()["ann_topk"](spark, sf).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    quant = {}
    for r in Q.queries()["ann_quantized_topk"](spark, sf).collect():
        quant.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(exact) == set(quant)
    hits = sum(len(exact[q] & quant[q]) for q in exact)
    total = sum(len(v) for v in exact.values())
    assert hits / total >= 0.6, (hits, total)


def test_containment_maxdf_boundary_is_inclusive(spark, tmp_path):
    """df == CONT_MAXDF keeps the shingle (the cap is <=): two fully
    identical docs replicated to exactly MAXDF copies... simpler: one
    shared run in exactly CONT_MAXDF docs still produces pairs."""
    shared = "pp qq rr ss tt"  # 3 shingles, each in every doc below
    ids = [i for i in range(1, 40) if i % 7][: near_dup.CONT_MAXDF]
    rows = [(i, shared, "s") for i in ids]
    sf = _write_docs(tmp_path, rows)
    out = near_dup.q_containment_pairs(spark, sf).collect()
    # identical docs: full containment for every pair of the MAXDF docs
    n = len(ids)
    assert len(out) == n * (n - 1) // 2
    assert all(r["cont_ppm"] == 1_000_000 for r in out)


def test_lsh_multiprobe_recall_never_below_plain(spark):
    """Hamming-1 multiprobe expands the query-side candidate set into a
    strict superset, so recall vs the exact baseline can only rise —
    measured against brute force at sf0.01, query-side cost only."""
    from cheque_ocr_project_spark.operators import similarity as SIM

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact = {(r["query_id"], r["vec_id"]) for r in
             Q.queries()["ann_topk"](spark, "/root/testdata/sf0.01").collect()}

    def recall(multiprobe):
        got = {(r["query_id"], r["neighbor_id"]) for r in
               SIM.lsh_topk(spark, emb, queries, dim=64, k=5,
                            n_planes=4, n_bands=24,
                            multiprobe=multiprobe).collect()}
        return len(exact & got) / len(exact)

    plain, multi = recall(False), recall(True)
    assert multi >= plain, (plain, multi)
    assert multi >= 0.8
