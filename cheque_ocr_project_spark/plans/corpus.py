"""Corpus family: the training-data pipeline staples as registry queries.

Deterministic train/val split, decontamination, sequence packing, the
Gopher quality and repetition gates, stratified sampling, the three
composed corpus filters and the staged corpus job's survivors — each a
Spark query beside its DuckDB twin. The near-dup stages compose the
near-dup family's SimHash and winnowing twins.

Each text signal the corpus queries share has one Catalyst builder and one
DuckDB renderer: the structural Gopher gates (``gopher_gates`` /
``gopher_gates_sql``) and word bigrams (``bigrams`` / ``bigrams_sql``)
here, the quality score and stop-word ratio in text_stats (``quality`` /
``quality_sql``), the words and terms in functions/columns.py and
functions/ducksql.py (``doc_words``, ``lower_terms``), and the exact-dedup
keeper in ``dedup.exact_dedup`` / ``near_dup.exact_dedup_sql``.
"""

from __future__ import annotations

from functools import reduce
from pathlib import Path

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cheque_ocr_project_spark.functions import columns as C
from cheque_ocr_project_spark.functions import ducksql as D
from cheque_ocr_project_spark.operators import dedup as DD
from cheque_ocr_project_spark.operators import sampling as S
from cheque_ocr_project_spark.operators.extract import par
from cheque_ocr_project_spark.plans.near_dup import (
    DOCS_WITH_NEAR_DUPS_CTE, exact_dedup_sql, sql_simhash_near_dup,
    sql_winnow_fingerprint,
)
from cheque_ocr_project_spark.plans.text_stats import (
    MIN_QUALITY, MIN_STOP_RATIO, quality, quality_sql,
)
from cheque_ocr_project_spark.sources import scratch
from cheque_ocr_project_spark.sources.io import read_documents

# ---------------------------------------------------------------------------
# Training-data pipeline staples: deterministic split + composed corpus
# filter (quality gate ∧ language gate ∧ near-dup removal)
# ---------------------------------------------------------------------------

SPLIT_MIX = 2654435761
SPLIT_MOD = (1 << 31) - 1


def _split_bucket(id_col):
    """Overflow-safe split bucket in [0, 100).

    The id is reduced mod P BEFORE the multiply so the 64-bit product is
    bounded by (P-1)*MIX < 2^63 for ANY int64 id — above doc_id ~3.47e9 the
    raw product wraps in Spark while DuckDB raises, silently diverging the
    twins (same guard as sampling.sample_bucket / similarity.ivf_pivots)."""
    return (
        F.pmod(F.pmod(id_col, F.lit(SPLIT_MOD)) * SPLIT_MIX, F.lit(SPLIT_MOD))
        % 100
    )


def _split_bucket_sql(id_expr: str) -> str:
    return f"((({id_expr}) % {SPLIT_MOD}) * {SPLIT_MIX}) % {SPLIT_MOD} % 100"


def q_train_val_split(spark, sf_dir):
    """Deterministic hash split (90/5/5): stable across runs, machines and
    engines — the split of a document never changes when the corpus grows
    (keyed on doc_id, not position). Exact integer arithmetic, so DuckDB
    recomputes the assignment bit-for-bit."""
    bucket = _split_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    return read_documents(spark, sf_dir).select(
        "doc_id", split.alias("split"), bucket.cast("int").alias("bucket")
    )


def sql_train_val_split():
    b = _split_bucket_sql("doc_id")
    return f"""
SELECT doc_id,
       CASE WHEN {b} < 90 THEN 'train' WHEN {b} < 95 THEN 'val'
            ELSE 'test' END AS split,
       CAST({b} AS INT) AS bucket
FROM documents"""


def q_decontaminate(spark, sf_dir):
    """Train/eval contamination check: a train-split document is flagged
    when it shares winnowing fingerprints with ANY eval-split (val/test)
    document — i.e. a common substring of length >= k + w - 1 = 35 chars
    (the winnow guarantee), the standard n-gram leakage test before
    pre-training. k/w are sized so incidental shared phrasing does not
    flag everything (k=8 marks 100% of this corpus; k=20/w=16 isolates
    genuine long overlaps).

    Scale shape: fingerprints are per-doc local work; the only shuffle is
    the fp equi-join, and the eval side (5-10% of the corpus, distinct fp
    values only) is the natural broadcast/build side."""
    d = read_documents(spark, sf_dir)
    bucket = _split_bucket(F.col("doc_id"))
    split = (
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test")
    )
    fps = DD.winnowing_fingerprints(d, "doc_id", "text", k=20, window=16)
    fps = fps.withColumn(
        "split",
        F.when(_split_bucket(F.col("id")) < 90, "train").otherwise("eval"),
    )
    eval_fps = (
        fps.filter(F.col("split") != "train").select("fp").distinct()
    )
    shared = (
        fps.filter(F.col("split") == "train")
        .join(eval_fps, "fp")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    train_docs = d.select("doc_id").filter(split == "train")
    return (
        train_docs.join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("shared_fps"), F.lit(0)).alias("shared_fps"),
            (F.coalesce(F.col("shared_fps"), F.lit(0)) >= 3).alias("contaminated"),
        )
    )


def sql_decontaminate():
    fp_sql = sql_winnow_fingerprint(k=20, window=16)
    bid = _split_bucket_sql("id")
    return f"""
WITH fps AS ({fp_sql}),
eval_fps AS (SELECT DISTINCT fp FROM fps WHERE {bid} >= 90),
shared AS (
  SELECT id AS doc_id, count(*) AS shared_fps
  FROM fps JOIN eval_fps USING (fp)
  WHERE {bid} < 90
  GROUP BY id
)
SELECT d.doc_id AS doc_id,
       coalesce(s.shared_fps, 0) AS shared_fps,
       coalesce(s.shared_fps, 0) >= 3 AS contaminated
FROM documents d LEFT JOIN shared s ON d.doc_id = s.doc_id
WHERE {_split_bucket_sql("d.doc_id")} < 90"""


PACK_CTX_TOKENS = 512
# doc_ids per prefix-sum chunk. 4096 exercises multi-chunk plans at test
# scale; a 100 TB run would size this to ~10^5-10^6 ids so the per-source
# offset table stays small (offsets are O(corpus / PACK_CHUNK) rows).
PACK_CHUNK = 4096


def q_pack_sequences(spark, sf_dir):
    """Sequence packing for training: per source, documents are laid out in
    a deterministic order (doc_id) and assigned to fixed-size context bins
    by exclusive prefix token count — the standard pack-to-context-length
    layout.

    Scale shape (two-pass distributed prefix sum): a naive
    Window.partitionBy("source") puts the dominant source's ENTIRE row set
    in one task at corpus scale ("web" is 90%+ of a real mix). Instead the
    doc_id axis is cut into fixed ranges (chunk = doc_id div PACK_CHUNK,
    order-preserving), the running sum is computed per (source, chunk)
    partition, per-chunk totals are rolled into a tiny per-source offset
    table (cumulative over chunks), and the offsets are broadcast-joined
    back: prefix = chunk_offset + local_prefix. The expensive scan +
    tokenization sits below the one (source, chunk) exchange, which both
    consumers share via ReuseExchange — the corpus is read ONCE and no
    window partition ever exceeds PACK_CHUNK rows."""
    ws_tokens = F.size(C.words_of(F.col("text")))
    # coalesce makes chunk non-nullable so the join-key isnotnull filter
    # folds away in BOTH branches — otherwise it pushes into only the
    # rows-branch scan (chunk is a window partition key there), the two
    # exchange children differ, and ReuseExchange is lost (= corpus read
    # twice). doc_id is never null in the contract schema.
    d = par(read_documents(spark, sf_dir)).select(
        "doc_id", "source", ws_tokens.alias("n_tokens"),
        F.coalesce(F.expr(f"doc_id div {PACK_CHUNK}"), F.lit(-1))
        .alias("chunk"),
    )
    w_local = (
        Window.partitionBy("source", "chunk").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_total = (
        Window.partitionBy("source", "chunk").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    rows = d.select(
        "doc_id", "source", "chunk", "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
        .alias("local_prefix"),
        F.sum("n_tokens").over(w_total).alias("chunk_total"),
    )
    w_chunks = (
        Window.partitionBy("source").orderBy("chunk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        rows.select("source", "chunk", "chunk_total").distinct()
        .select(
            "source", "chunk",
            F.coalesce(F.sum("chunk_total").over(w_chunks), F.lit(0))
            .alias("chunk_offset"),
        )
    )
    prefix = F.col("chunk_offset") + F.col("local_prefix")
    return (
        rows.join(F.broadcast(offsets), ["source", "chunk"])
        .select(
            "doc_id", "source", "n_tokens",
            F.floor(prefix / PACK_CTX_TOKENS).cast("int").alias("bin_id"),
            F.pmod(prefix, F.lit(PACK_CTX_TOKENS)).cast("int").alias("bin_offset"),
        )
    )


def sql_pack_sequences():
    toks = f"len({D.words_of('text')})"
    prefix = (
        "coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
    )
    return f"""
WITH d AS (SELECT doc_id, source, {toks} AS n_tokens FROM documents)
SELECT doc_id, source, n_tokens,
       CAST(floor({prefix} / {PACK_CTX_TOKENS}) AS INT) AS bin_id,
       CAST({prefix} % {PACK_CTX_TOKENS} AS INT) AS bin_offset
FROM d"""


# ---------------------------------------------------------------------------
# Gopher-style document quality gates (Rae et al. 2021 §A1.1, public
# heuristics): pure per-row expressions — one pruned scan, zero shuffles.
# Output is ints + booleans only, so the cross-engine compare never touches
# float rounding.
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

# The six structural Gopher gates, in gopher_gates order. ok_stopwords is
# deliberately NOT among them: the composed corpus filters take the
# language/common-word signal from text_stats.stop_ratio >= MIN_STOP_RATIO,
# and a per-corpus deployment tunes the stopword list to its vocabulary (the
# synthetic corpus contains none of the eight Gopher English stopwords, so
# the untuned gate would zero the output rather than filter it).
GOPHER_STRUCTURAL_GATES = (
    "ok_word_count", "ok_mean_word_len", "ok_symbol_ratio",
    "ok_bullet", "ok_ellipsis", "ok_alpha",
)


def gopher_gates(t: Column, words: Column) -> dict[str, Column]:
    """The structural Gopher gates of text ``t`` over its
    columns.doc_words ``words``: word count in [50, 1e5], mean word length
    in [3, 10], symbol-to-word ratio (#/...) < 0.1, bullet-line fraction
    < 0.9, ellipsis-line fraction < 0.3, and >= 80% of words holding a
    letter."""
    wc = F.size(words)
    sum_wl = F.aggregate(words, F.lit(0), lambda a, w: a + F.length(w))
    mean_wl = sum_wl.cast("double") / wc
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    lines = F.split(t, "\n")
    nlines = F.size(lines)
    bullets = F.size(F.filter(lines, lambda l: l.rlike(r"^\s*[-*]")))
    ellipses = F.size(F.filter(lines, lambda l: l.endswith(F.lit("..."))))
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    return {
        "ok_word_count": (wc >= 50) & (wc <= 100000),
        "ok_mean_word_len": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "ok_symbol_ratio": (n_hash + n_ell) / wc < 0.1,
        "ok_bullet": bullets / nlines < 0.9,
        "ok_ellipsis": ellipses / nlines < 0.3,
        "ok_alpha": alpha_words / wc > 0.8,
    }


# the words and lines of the text column, as gopher_gates_sql reads them
GOPHER_COLS_SQL = (
    f"{D.doc_words('text')} AS words, string_split(text, {D.NL}) AS lines"
)


def gopher_gates_sql(t: str, words: str, lines: str) -> dict[str, str]:
    """= gopher_gates over columns holding the text, its words and its
    lines (GOPHER_COLS_SQL)."""
    wc = f"len({words})"
    mean_wl = (
        f"CAST(list_sum(list_transform({words}, w -> length(w))) AS DOUBLE) "
        f"/ {wc}"
    )
    n_hash = f"(length({t}) - length(replace({t}, '#', '')))"
    n_ell = f"(length({t}) - length(replace({t}, '...', ''))) / 3"
    bullet = D.rx(r"^\s*[-*]")
    return {
        "ok_word_count": f"{wc} >= 50 AND {wc} <= 100000",
        "ok_mean_word_len": f"{mean_wl} >= 3.0 AND {mean_wl} <= 10.0",
        "ok_symbol_ratio": f"CAST({n_hash} + {n_ell} AS DOUBLE) / {wc} < 0.1",
        "ok_bullet": (
            f"CAST(len(list_filter({lines}, l -> regexp_matches(l, {bullet}))) "
            f"AS DOUBLE) / len({lines}) < 0.9"
        ),
        "ok_ellipsis": (
            f"CAST(len(list_filter({lines}, l -> ends_with(l, '...'))) "
            f"AS DOUBLE) / len({lines}) < 0.3"
        ),
        "ok_alpha": (
            f"CAST(len(list_filter({words}, w -> regexp_matches(w, '[A-Za-z]'))) "
            f"AS DOUBLE) / {wc} > 0.8"
        ),
    }


def q_gopher_quality(spark, sf_dir):
    """Gopher quality-filter gates per document: the structural gates
    (gopher_gates) and >= 2 distinct required stop words. ``keep`` is the
    conjunction — the standard pre-training quality gate.

    Scale shape: per-row array expressions over one pruned 2-column scan;
    no UDF, no shuffle, whole-stage codegen end to end."""
    t = F.col("text")
    words = C.doc_words(t)
    lowered = F.transform(words, F.lower)
    stop_hits = sum(
        F.array_contains(lowered, s).cast("int") for s in GOPHER_STOPWORDS
    )
    gates = {**gopher_gates(t, words), "ok_stopwords": stop_hits >= 2}
    keep = reduce(lambda a, b: a & b, gates.values())
    return par(read_documents(spark, sf_dir)).select(
        "doc_id", F.size(words).alias("word_count"),
        stop_hits.alias("stop_hits"),
        *[c.alias(n) for n, c in gates.items()],
        keep.alias("keep"),
    )


def sql_gopher_quality():
    stops = " + ".join(
        f"CAST(list_contains(lowered, '{s}') AS INT)"
        for s in GOPHER_STOPWORDS
    )
    gates = gopher_gates_sql("text", "words", "lines")
    cols = ",\n         ".join(f"{g} AS {n}" for n, g in gates.items())
    return f"""
WITH d AS (
  SELECT doc_id, text, {GOPHER_COLS_SQL} FROM documents
), g AS (
  SELECT doc_id, len(words) AS word_count,
         {stops} AS stop_hits,
         {cols}
  FROM (SELECT *, list_transform(words, w -> lower(w)) AS lowered FROM d)
)
SELECT doc_id, word_count, stop_hits, {', '.join(gates)},
       stop_hits >= 2 AS ok_stopwords,
       {' AND '.join(gates)} AND stop_hits >= 2 AS keep
FROM g"""


def bigrams(words: Column) -> Column:
    """The adjacent pairs of ``words``, space-joined, in order."""
    n = F.size(words)
    return F.zip_with(
        F.slice(words, 1, n - 1), F.slice(words, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def bigrams_sql(words: str) -> str:
    """= bigrams over a list column."""
    return (f"list_transform(range(1, len({words})), "
            f"i -> {words}[i] || ' ' || {words}[i + 1])")


def q_rep_top_bigram(spark, sf_dir):
    """Gopher repetition rule: each document's most frequent word 2-gram
    and its count (the filter drops docs whose top n-gram covers too much
    of the text; emitting the int count keeps the cross-engine compare
    float-free). Docs with fewer than two words have no bigram and are
    excluded, matching the oracle.

    Scale shape: bigram explode -> partial-agg count (map-side combine
    collapses the heavy duplication BEFORE the shuffle) -> per-doc top-1
    window on the high-cardinality doc_id key. Ties broken (count desc,
    gram asc) so both engines pick the identical winner."""
    d = par(read_documents(spark, sf_dir)).select(
        "doc_id", F.explode(bigrams(C.doc_words(F.col("text")))).alias("gram")
    )
    cnt = d.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("cnt").desc(), F.col("gram").asc()
    )
    return (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "gram", "cnt")
    )


SQL_REP_TOP_BIGRAM = f"""
WITH w AS (
  SELECT doc_id, {D.doc_words('text')} AS words FROM documents
), b AS (
  SELECT doc_id, unnest({bigrams_sql('words')}) AS gram FROM w
), c AS (
  SELECT doc_id, gram, count(*) AS cnt FROM b GROUP BY doc_id, gram
)
SELECT doc_id, gram, cnt FROM c
QUALIFY row_number() OVER (PARTITION BY doc_id
                           ORDER BY cnt DESC, gram ASC) = 1"""


def _docs_with_dup_lines(spark, sf_dir) -> DataFrame:
    """Planted line structure (the synthetic docs are single-line): every
    11th doc gains three identical boilerplate footer lines (dup fraction
    0.5 → gate trips), every 4th a distinct section line (multi-line but
    clean). Deterministic and identical across engines; modulo-only id
    arithmetic (int64-fuzz-safe)."""
    footer = F.when(
        F.col("doc_id") % 11 == 0,
        F.lit("\nboilerplate footer\nboilerplate footer\nboilerplate footer"),
    ).otherwise("")
    section = F.when(
        F.col("doc_id") % 4 == 0,
        F.concat(F.lit("\nsection "), (F.col("doc_id") % 100).cast("string")),
    ).otherwise("")
    return par(read_documents(spark, sf_dir)).select(
        "doc_id", F.concat(F.col("text"), section, footer).alias("text")
    )


def q_rep_dup_lines(spark, sf_dir):
    """Gopher duplicate-line repetition rule: excess duplicate lines per
    document (n_lines - n_distinct_lines) and the keep gate
    ``excess * 10 < n_lines * 3`` (the 0.3 duplicate-line-fraction
    threshold in exact integer form — no float ratio crosses the engine
    boundary). Pure per-row array expressions: one pruned scan, zero
    shuffles — unlike rep_top_bigram this needs no explode/agg because
    the dedup is within one row's array."""
    lines = F.split(F.col("text"), "\n")
    n_lines = F.size(lines)
    excess = n_lines - F.size(F.array_distinct(lines))
    return _docs_with_dup_lines(spark, sf_dir).select(
        "doc_id",
        n_lines.alias("n_lines"),
        excess.alias("n_dup_excess"),
        (excess * 10 < n_lines * 3).alias("keep"),
    )


SQL_REP_DUP_LINES = """
WITH docs AS (
  SELECT doc_id,
    text
    || CASE WHEN doc_id % 4 = 0
            THEN chr(10) || 'section ' || CAST(doc_id % 100 AS VARCHAR)
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN repeat(chr(10) || 'boilerplate footer', 3)
            ELSE '' END AS text
  FROM documents
),
l AS (
  SELECT doc_id, string_split(text, chr(10)) AS lines FROM docs
)
SELECT doc_id,
       len(lines) AS n_lines,
       len(lines) - len(list_distinct(lines)) AS n_dup_excess,
       (len(lines) - len(list_distinct(lines))) * 10 < len(lines) * 3 AS keep
FROM l"""

# Training-mix weights for the stratified-sample contract query: a few
# named sources get explicit rates, everything else the default.
MIX_RATES = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0}
MIX_DEFAULT = 0.10


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-source training-mix sampling over documents (one
    scan, zero shuffles, growth-stable — operators/sampling.py)."""
    d = read_documents(spark, sf_dir).select("doc_id", "source")
    out = S.stratified_sample(d, "doc_id", "source", MIX_RATES, MIX_DEFAULT)
    return out.select(
        "doc_id", "source",
        S.sample_bucket(F.col("doc_id")).cast("int").alias("bucket"),
    )


def sql_stratified_sample():
    b = S.sample_bucket_sql("doc_id")
    thr = S.stratified_sample_sql("source", MIX_RATES, MIX_DEFAULT)
    return f"""
SELECT doc_id, source, CAST({b} AS INT) AS bucket
FROM documents WHERE {b} < {thr}"""


CORPUS_FILTER_MAX_BUCKET = 64


def _shadowed_sql(rel: str) -> str:
    """The doc_ids the capped SimHash near-dup pairs over ``rel``'s
    (doc_id, text) rows shadow: the pair SQL with ``rel`` in place of its
    clone-planted docs CTE."""
    pairs = sql_simhash_near_dup(
        3, max_bucket=CORPUS_FILTER_MAX_BUCKET
    ).replace(DOCS_WITH_NEAR_DUPS_CTE,
              f"\ndocs AS (SELECT doc_id, text FROM {rel})")
    return f"SELECT DISTINCT id_b AS doc_id FROM ({pairs})"


def q_corpus_filter(spark, sf_dir):
    """Composed pre-training corpus filter: exact-dedup pre-pass (keep the
    min-id copy of each identical text), then quality >= MIN_QUALITY AND
    lang = 'en' AND not a shadowed near-duplicate (anti-join against the
    SimHash pair set, computed over the exact-dedup survivors with a
    bucket-size cap).

    Scale shape: the exact pre-pass is the standard defense against LSH
    hot buckets — thousands of identical boilerplate docs collapse to one
    representative BEFORE banding, so they can never form a quadratic
    bucket; the cap (mirrored bit-exactly by the oracle) bounds whatever
    near-identical skew remains. One extra hash shuffle + semi-join beyond
    the LSH pipeline's own."""
    d = read_documents(spark, sf_dir)
    q = quality(F.col("text"))
    keepers = DD.exact_dedup(d, "doc_id", "text").select(
        F.col("keeper_id").alias("doc_id")
    )
    survivors = d.join(keepers, "doc_id", "left_semi")
    pairs = DD.simhash_pairs(survivors, "doc_id", "text", max_hamming=3,
                             max_bucket=CORPUS_FILTER_MAX_BUCKET)
    shadowed = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    kept = (
        survivors
        .filter((q.score >= MIN_QUALITY) & (q.stop >= MIN_STOP_RATIO))
        .join(shadowed, "doc_id", "left_anti")
    )
    return kept.select("doc_id", F.round(q.score, 6).alias("quality"))


def sql_corpus_filter():
    q = quality_sql("text", "toks")
    return f"""
WITH survivors AS (
  SELECT doc_id, text FROM ({exact_dedup_sql('documents')})
  WHERE doc_id = keeper
),
shadowed AS ({_shadowed_sql('survivors')}),
scored AS (
  SELECT doc_id, {q.score} AS quality, {q.stop} AS stop_ratio
  FROM (SELECT doc_id, text, {D.lower_terms('text')} AS toks FROM survivors)
)
SELECT doc_id, round(quality, 6) AS quality
FROM scored
WHERE quality >= {MIN_QUALITY} AND stop_ratio >= {MIN_STOP_RATIO}
  AND doc_id NOT IN (SELECT doc_id FROM shadowed)"""


# Gopher repetition threshold for corpus_filter_v2: drop a doc when its
# most frequent bigram covers >= 1/5 of all bigram slots (Gopher's
# published top-2-gram threshold is 0.18; the integer form keeps the
# cross-engine compare float-free: cnt * 5 < word_count - 1). The
# synthetic sf corpus has no doc this repetitive inside the composed
# survivor set (max ratio 0.06 at sf0.01), so the gate's bite is proven by
# a planted-positive test rather than by tuning the threshold into
# unrealism (tests/test_driver_contract.py::test_corpus_filter_v2_rep_gate_bites).
REP_BIGRAM_DEN = 5


def q_corpus_filter_v2(spark, sf_dir):
    """The realistic end-to-end pre-training corpus gate (VERDICT r04 #6):
    corpus_filter's exact-dedup + quality + lang + capped near-dup
    anti-join, composed with the structural Gopher gates and the
    top-bigram repetition rule.

    Scale shape: the three branches each keep their own scan (gopher and
    repetition are per-row/one-agg pipelines; corpus_filter carries the
    dedup machinery); the joins land on the high-cardinality doc_id key,
    and the repetition gate is a LEFT join so bigram-less docs (already
    excluded by the Gopher word-count floor) cannot silently vanish on a
    join miss."""
    base = q_corpus_filter(spark, sf_dir)
    gates = [F.col(g) for g in GOPHER_STRUCTURAL_GATES]
    gq = q_gopher_quality(spark, sf_dir).filter(
        reduce(lambda a, b: a & b, gates)
    ).select("doc_id", "word_count")
    rep = q_rep_top_bigram(spark, sf_dir).select(
        "doc_id", F.col("cnt").alias("top_bigram_cnt")
    )
    rep_ok = F.coalesce(
        F.col("top_bigram_cnt") * REP_BIGRAM_DEN < F.col("word_count") - 1,
        F.lit(True),
    )
    return (
        base.join(gq, "doc_id")
        .join(rep, "doc_id", "left")
        .filter(rep_ok)
        .select("doc_id", "quality", "word_count", "top_bigram_cnt")
    )


def sql_corpus_filter_v2():
    rep_ok = (
        f"coalesce(rep.cnt * {REP_BIGRAM_DEN} < gq.word_count - 1, TRUE)"
    )
    gates = " AND ".join(f"gq.{g}" for g in GOPHER_STRUCTURAL_GATES)
    return f"""
SELECT cf.doc_id, cf.quality, gq.word_count, rep.cnt AS top_bigram_cnt
FROM ({sql_corpus_filter()}) cf
JOIN ({sql_gopher_quality()}) gq ON gq.doc_id = cf.doc_id AND {gates}
LEFT JOIN ({SQL_REP_TOP_BIGRAM}) rep ON rep.doc_id = cf.doc_id
WHERE {rep_ok}"""


def q_corpus_filter_v3(spark, sf_dir):
    """The STAGED production corpus gate (VERDICT r05 #2, PLANS.md round-5
    audit): every text-deterministic per-row check — quality, language,
    the structural Gopher gates, and the top-bigram repetition rule — is
    evaluated in ONE pass over ONE scan, and only the survivors enter the
    dedup topology (exact keeper-window, then capped SimHash near-dup
    shadowing). Semantics deliberately differ from corpus_filter_v2 on
    shadowed-by-filtered-doc cases: here a doc that fails the cheap gate
    can no longer shadow a near-duplicate that passes it (v2 computes
    shadowing over ALL exact-dedup survivors first). Both semantics are
    legitimate; v3 is what a production deployment runs because the
    expensive pairwise machinery sees only gate survivors.

    Scale shape: the repetition count is per-row — sort the bigram array
    and fold the max run length (O(k log k) per doc, no quadratic
    distinct-scan, no explode/groupBy/join branch), so the whole cheap
    gate is one whole-stage-codegen pass. Exact dedup is a min-id window
    over the md5 fingerprint (high-cardinality partition key). Total plan:
    <= 5 scans (v2's composed form carries 12) — locked by
    test_corpus_filter_v3_plan_staged."""
    t = F.col("text")
    q = quality(t)
    words = C.doc_words(t)
    wc = F.size(words)
    gopher_ok = reduce(lambda a, b: a & b, gopher_gates(t, words).values())

    # per-row top-bigram count: sorted-run-length fold. Identical value to
    # q_rep_top_bigram's winner count, without the explode/agg/join branch.
    acc0 = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"), F.lit(0).alias("best"),
    )

    def step(acc, g):
        new_run = F.when(g == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            g.alias("prev"), new_run.alias("run"),
            F.greatest(acc["best"], new_run).alias("best"),
        )

    top_cnt = F.aggregate(F.array_sort(bigrams(words)), acc0, step,
                          lambda acc: acc["best"])
    rep_ok = F.when(
        wc >= 2, top_cnt * REP_BIGRAM_DEN < wc - 1
    ).otherwise(True)

    gated = (
        par(read_documents(spark, sf_dir))
        .filter((q.score >= MIN_QUALITY) & (q.stop >= MIN_STOP_RATIO)
                & gopher_ok & rep_ok)
        .select(
            "doc_id", "text",
            F.round(q.score, 6).alias("quality"),
            wc.alias("word_count"),
            top_cnt.cast("long").alias("top_bigram_cnt"),
        )
    )
    survivors = DD.exact_dedup(gated, "doc_id", "text", keep_rows=True)
    pairs = DD.simhash_pairs(
        survivors.select("doc_id", "text"), "doc_id", "text",
        max_hamming=3, max_bucket=CORPUS_FILTER_MAX_BUCKET,
    )
    shadowed = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    return (
        survivors.join(shadowed, "doc_id", "left_anti")
        .select("doc_id", "quality", "word_count", "top_bigram_cnt")
    )


def sql_corpus_filter_v3():
    """The staged gate as DuckDB CTEs — the v3 semantics (gate BEFORE
    dedup and shadowing) encoded independently of the Spark plan."""
    q = quality_sql("text", "toks")
    gopher_ok = " AND ".join(
        f"({g})" for g in gopher_gates_sql("text", "words", "lines").values()
    )
    return f"""
WITH perrow AS (
  SELECT doc_id, text, words,
         {q.score} AS quality, {q.stop} AS stop_ratio,
         {gopher_ok} AS gopher_ok
  FROM (SELECT doc_id, text, {D.lower_terms('text')} AS toks,
               {GOPHER_COLS_SQL}
        FROM documents)
),
rep AS (
  SELECT doc_id, max(cnt) AS top_cnt FROM (
    SELECT doc_id, gram, count(*) AS cnt FROM (
      SELECT doc_id, unnest({bigrams_sql('words')}) AS gram FROM perrow
    ) GROUP BY doc_id, gram
  ) GROUP BY doc_id
),
gated AS (
  SELECT p.doc_id, p.text, round(p.quality, 6) AS quality,
         CAST(len(p.words) AS INT) AS word_count,
         CAST(coalesce(r.top_cnt, 0) AS BIGINT) AS top_bigram_cnt
  FROM perrow p LEFT JOIN rep r USING (doc_id)
  WHERE p.quality >= {MIN_QUALITY} AND p.stop_ratio >= {MIN_STOP_RATIO} AND p.gopher_ok
    AND coalesce(r.top_cnt * {REP_BIGRAM_DEN} < len(p.words) - 1, TRUE)
),
survivors AS (
  SELECT doc_id, text, quality, word_count, top_bigram_cnt
  FROM ({exact_dedup_sql('gated')}) WHERE doc_id = keeper
),
shadowed AS ({_shadowed_sql('survivors')})
SELECT doc_id, quality, word_count, top_bigram_cnt
FROM survivors
WHERE doc_id NOT IN (SELECT doc_id FROM shadowed)"""


def q_corpus_job_survivors(spark, sf_dir):
    """The staged corpus_job pipeline under the driver oracle (VERDICT
    r06 #4 — previously the only entrypoint whose COMPOSITION never
    reached the driver artifact; graft analog of the reference's
    full-run outputs, run_production.py:88-129): run all three stages
    (gate+dedup survivors → pack → split, with _STAGE_DONE markers and
    summary.txt) against the sf dir into a scratch run directory, then
    return the survivors relation read back from the REAL parquet
    artifact stage 2 and 3 consumed. The oracle is sql_corpus_filter_v3
    joined back to documents — stage 1 is definitionally that query;
    pack/split are already oracle-backed individually over any
    documents-shaped dir.

    Cleanup discipline: each invocation gets its OWN mkdtemp run dir —
    a fixed shared path would let a concurrent invocation (the bench
    sweep racing a driver contract check) rmtree the survivors parquet
    out from under the other's lazily-collected plan. Disk stays
    bounded by sweeping SIBLING run dirs older than an hour whose
    creating process is gone (sources.scratch.sweep); nothing is ever
    removed after building the return value."""
    # corpus_job runs the registry (this module included): import on call
    # to break the import cycle
    from cheque_ocr_project_spark import corpus_job

    scratch.sweep("corpus_job_contract_")
    out = Path(scratch.mkdtemp("corpus_job_contract_"))
    corpus_job.run(spark, sf_dir, str(out))
    return spark.read.parquet(str(out / "survivors" / "documents.parquet"))


def sql_corpus_job_survivors():
    return f"""
WITH v3 AS ({sql_corpus_filter_v3()})
SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
FROM documents d JOIN v3 USING (doc_id)"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    "train_val_split": (q_train_val_split, sql_train_val_split),
    "stratified_sample": (q_stratified_sample, sql_stratified_sample),
    "gopher_quality": (q_gopher_quality, sql_gopher_quality),
    "rep_top_bigram": (q_rep_top_bigram, SQL_REP_TOP_BIGRAM),
    "rep_dup_lines": (q_rep_dup_lines, SQL_REP_DUP_LINES),
    "decontaminate": (q_decontaminate, sql_decontaminate),
    "pack_sequences": (q_pack_sequences, sql_pack_sequences),
    "corpus_filter": (q_corpus_filter, sql_corpus_filter),
    "corpus_filter_v2": (q_corpus_filter_v2, sql_corpus_filter_v2),
    "corpus_filter_v3": (q_corpus_filter_v3, sql_corpus_filter_v3),
    "corpus_job_survivors": (q_corpus_job_survivors, sql_corpus_job_survivors),
}
