"""Near-dup family: exact, MinHash, SimHash, winnowing and containment
dedup as registry queries, with their DuckDB twins.

The twins render the exact hash spec of ``operators/dedup.py`` (31-bit
polynomial rolling hash, seeded permutation constants, banding,
majority-vote SimHash) as pure DuckDB SQL, so the driver recomputes the
MinHash/SimHash pair sets bit-for-bit. Every arithmetic step is
64-bit-integer exact in both engines; the permutation constants are
rendered from the same ``dedup.perm_constants`` arrays the Spark side
broadcasts (single source of truth). Each parameter set a Spark query and
its twin share is one module constant (``MINHASH``, ``MAX_HAMMING``,
``WINNOW``, ...), read by the query and by its registry row.
"""

from __future__ import annotations

import os
import shutil
from functools import partial, reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cheque_ocr_project_spark.functions import ducksql as D
from cheque_ocr_project_spark.operators import dedup as DD
from cheque_ocr_project_spark.operators.extract import par
from cheque_ocr_project_spark.sources import scratch
from cheque_ocr_project_spark.sources.io import (
    drop_table_and_location, read_documents,
)
from cheque_ocr_project_spark.streaming import stream as ST

# ---------------------------------------------------------------------------
# DuckDB twin fragments: the operators/dedup.py hash spec as SQL
# ---------------------------------------------------------------------------

P = DD.POLY_P


def poly_sql(expr: str, init: int) -> str:
    """polyhash(expr, init) as a DuckDB list_reduce over codepoints."""
    codes = (
        f"list_transform(range(1, length({expr}) + 1), "
        f"i -> CAST(unicode({expr}[i:i]) AS BIGINT))"
    )
    return (
        f"list_reduce(list_prepend(CAST({init} AS BIGINT), {codes}), "
        f"(acc, c) -> (acc * 31 + c) % {P})"
    )


# documents ∪ deterministic near-duplicate copies — must mirror
# _docs_with_near_dups below exactly (split on single space, keep
# token 1, drop tokens 2-4, ids offset by 1,000,000; only ids < 2^62 are
# cloned so the offset can never overflow int64 at any legal doc_id).
DOCS_WITH_NEAR_DUPS_CTE = """
dups AS (
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           list_concat(string_split(text, ' ')[1:1],
                       string_split(text, ' ')[5:]), ' ') AS text
  FROM documents WHERE doc_id % 7 = 0 AND doc_id < 4611686018427387904
),
docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT doc_id, text FROM dups
)"""


def sql_minhash_near_dup(num_perm: int = 64, bands: int = 16,
                         shingle_k: int = 5, threshold: float = 0.5,
                         seed: int = DD.DEFAULT_SEED,
                         max_bucket: int | None = None) -> str:
    """``max_bucket`` mirrors dedup.cap_bucket_size: Spark drops buckets by
    band_key = xxhash64(band, slice); the oracle partitions by the slice
    VALUE (band, bandval) — identical semantics up to a 64-bit hash
    collision merging two buckets, negligible at oracle scale."""
    a, b = DD.perm_constants(num_perm, seed)
    rpb = num_perm // bands
    k = shingle_k
    shingles = (
        f"CASE WHEN length(text) < {k} THEN [text] "
        f"ELSE list_transform(range(1, length(text) - {k - 2}), "
        f"i -> text[i:i+{k - 1}]) END"
    )
    mins = ",\n    ".join(
        f"list_min(list_transform(hs, h -> ({int(a[j])} * h + {int(b[j])}) % {P}))"
        for j in range(num_perm)
    )
    return f"""
WITH {DOCS_WITH_NEAR_DUPS_CTE},
hashed AS (
  SELECT doc_id,
         list_transform({shingles}, sh -> {poly_sql('sh', 7)}) AS hs
  FROM docs
),
sigs AS (
  SELECT doc_id, [
    {mins}
  ] AS sig FROM hashed
),
banded AS (
  SELECT doc_id, sig, unnest(range(0, {bands})) AS band FROM sigs
),
keyed AS (
  SELECT doc_id, sig, band,
         list_slice(sig, band * {rpb} + 1, band * {rpb} + {rpb}) AS bandval
  FROM banded{
    f'''
  QUALIFY count(*) OVER (PARTITION BY band, bandval) <= {max_bucket}'''
    if max_bucket is not None else ""}
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                  l.sig AS sig_a, r.sig AS sig_b
  FROM keyed l JOIN keyed r
    ON l.band = r.band AND l.bandval = r.bandval AND l.doc_id < r.doc_id
),
est AS (
  SELECT id_a, id_b,
         len(list_filter(range(1, {num_perm + 1}), i -> sig_a[i] = sig_b[i]))
           * 1.0 / {num_perm} AS est
  FROM cand
)
SELECT id_a, id_b, round(est, 6) AS est_jaccard
FROM est WHERE est >= {threshold}"""


def sql_minhash_incremental(num_perm: int = 64, bands: int = 16,
                            shingle_k: int = 5, threshold: float = 0.5,
                            seed: int = DD.DEFAULT_SEED,
                            probe_min_id: int = 1000000) -> str:
    """Oracle for the persisted-index probe (q_minhash_incremental): the
    full-recompute pair set restricted to cross pairs (probe side = the
    near-dup clones, ids >= probe_min_id), re-oriented to the incremental
    convention id_a = probe id, id_b = corpus/delta id. Identical
    signature machinery — the index layout changes WHERE the join reads,
    never WHAT it computes."""
    return _cross_pairs(
        sql_minhash_near_dup(num_perm, bands, shingle_k, threshold, seed),
        "est_jaccard", probe_min_id)


def _cross_pairs(base: str, metric: str, probe_min_id: int) -> str:
    """``base``'s (id_a < id_b, metric) pairs restricted to cross pairs
    (corpus id < probe_min_id <= probe id), re-oriented to the
    incremental convention id_a = probe id, id_b = corpus/delta id."""
    return f"""SELECT p.id_b AS id_a, p.id_a AS id_b, p.{metric}
FROM ({base}
) p
WHERE p.id_a < {probe_min_id} AND p.id_b >= {probe_min_id}"""


def _winnow_parts(k: int, window: int, src: str) -> tuple[str, str]:
    """(CTE chain, final SELECT) of the winnowing fingerprint relation —
    returned as PARTS so sql_winnow_substring_pairs can compose them
    structurally instead of string-slicing the rendered query (a rename
    of the output column would otherwise silently break the slicing)."""
    shingles = (
        f"CASE WHEN length(text) < {k} THEN [text] "
        f"ELSE list_transform(range(1, length(text) - {k - 2}), "
        f"i -> text[i:i+{k - 1}]) END"
    )
    ctes = f"""hashed AS (
  SELECT doc_id,
         list_transform({shingles}, sh -> {poly_sql('sh', 7)}) AS hs
  FROM {src}
),
win AS (
  SELECT doc_id,
    CASE WHEN len(hs) <= {window} THEN [list_min(hs)]
         ELSE list_distinct(list_transform(range(1, len(hs) - {window} + 2),
              i -> list_min(list_slice(hs, i, i + {window} - 1)))) END AS fps
  FROM hashed
)"""
    final = "SELECT doc_id AS id, unnest(fps) AS fp FROM win"
    return ctes, final


def sql_winnow_fingerprint(k: int = 8, window: int = 8,
                           src: str = "documents") -> str:
    """Winnowing twin of dedup.winnowing_fingerprints over ``src`` (the
    documents view by default; winnow_substring_pairs passes the
    clone-planted ``docs`` CTE)."""
    ctes, final = _winnow_parts(k, window, src)
    return f"""
WITH {ctes}
{final}"""


def sql_overlap_tail(src: str, key: str, maxdf: int, min_ppm: int,
                     shared_col: str, ppm_col: str) -> str:
    """Twin of dedup.overlap_pairs over the DISTINCT (id, ``key``)
    relation ``src``: the kept/tot/shared CTEs and the final SELECT of
    (id_a, id_b, ``shared_col``, ``ppm_col``) — keys held by more than
    ``maxdf`` ids dropped before the self-join, per-id totals on the
    same capped relation, integer ppm vs the smaller total."""
    return f"""kept AS (
  SELECT id, {key} FROM {src}
  QUALIFY count(*) OVER (PARTITION BY {key}) <= {maxdf}
),
tot AS (SELECT id, count(*) AS tot FROM kept GROUP BY id),
shared AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS {shared_col}
  FROM kept a JOIN kept b ON a.{key} = b.{key} AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b, {shared_col}, {ppm_col} FROM (
  SELECT s.id_a, s.id_b, CAST(s.{shared_col} AS BIGINT) AS {shared_col},
         CAST((s.{shared_col} * 1000000) // least(ta.tot, tb.tot) AS BIGINT)
           AS {ppm_col}
  FROM shared s
  JOIN tot ta ON ta.id = s.id_a
  JOIN tot tb ON tb.id = s.id_b
) WHERE {ppm_col} >= {min_ppm}"""


def sql_winnow_substring_pairs(k: int = 8, window: int = 8,
                               maxdf: int = 20,
                               tau_ppm: int = 500000) -> str:
    """Twin of q_winnow_substring_pairs: winnowing fingerprints
    over the clone-planted docs, then the overlap-pairs tail."""
    ctes, final = _winnow_parts(k, window, src="docs")
    return f"""
WITH {DOCS_WITH_NEAR_DUPS_CTE.lstrip()},
{ctes},
fps AS ({final}),
{sql_overlap_tail("fps", "fp", maxdf, tau_ppm, "shared_fps", "overlap_ppm")}"""


def _simhash_components(max_hamming: int) -> str:
    """``WITH RECURSIVE`` CTE chain ending in ``comp(node, component)``:
    the SimHash pair graph over the clone-planted docs, its transitive
    closure, and the min-reachable id per node (exact twin of
    dedup.connected_components' fixpoint). Closure size is fine at
    oracle scale; the Spark side is the scale path."""
    ctes, final = _simhash_parts(max_hamming, None)
    return f"""
WITH RECURSIVE {DOCS_WITH_NEAR_DUPS_CTE},
{ctes},
pairs AS ({final}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(node, m) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.m FROM edges e JOIN reach r ON r.node = e.dst
),
comp AS (SELECT node, min(m) AS component FROM reach GROUP BY node)"""


def sql_near_dup_clusters(max_hamming: int = 3) -> str:
    """Connected components over the SimHash pair graph, one row per
    component with its size and smallest member."""
    return f"""{_simhash_components(max_hamming)}
SELECT component, count(*) AS n_members,
       CAST(min(node) AS BIGINT) AS keeper_id
FROM comp GROUP BY component"""


def sql_simhash_incremental(max_hamming: int = 3,
                            probe_min_id: int = 1000000) -> str:
    """SimHash twin of sql_minhash_incremental: full-recompute pairs
    restricted to cross pairs, probe side = the near-dup clones."""
    return _cross_pairs(sql_simhash_near_dup(max_hamming), "hamming",
                        probe_min_id)


def sql_dedup_survivors(max_hamming: int = 3) -> str:
    """Canonical-selection twin of q_dedup_survivors: SimHash components
    (recursive-CTE closure, as sql_near_dup_clusters) + singleton
    fallback, survivor = longest text then smallest doc_id, in the same
    deterministic two-agg form."""
    return f"""{_simhash_components(max_hamming)},
alldocs AS (
  SELECT doc_id, coalesce(length(text), 0) AS len FROM docs
),
j AS (
  SELECT d.doc_id, d.len, coalesce(c.component, d.doc_id) AS cluster
  FROM alldocs d LEFT JOIN comp c ON c.node = d.doc_id
),
agg AS (
  SELECT cluster, count(*) AS n_members, max(len) AS survivor_len
  FROM j GROUP BY cluster
)
SELECT a.cluster,
       CAST(a.n_members AS BIGINT) AS n_members,
       CAST(min(j.doc_id) AS BIGINT) AS survivor_id,
       CAST(a.survivor_len AS BIGINT) AS survivor_len
FROM j JOIN agg a ON j.cluster = a.cluster AND j.len = a.survivor_len
GROUP BY a.cluster, a.n_members, a.survivor_len"""


def sql_simhash_near_dup(max_hamming: int = 3,
                         max_bucket: int | None = None) -> str:
    """SimHash twin; ``max_bucket`` mirrors dedup.cap_bucket_size exactly
    (drop chunk buckets with more than N members before the self-join)."""
    ctes, final = _simhash_parts(max_hamming, max_bucket)
    return f"""
WITH {DOCS_WITH_NEAR_DUPS_CTE},
{ctes}
{final}"""


def _simhash_parts(max_hamming: int,
                   max_bucket: int | None) -> tuple[str, str]:
    """(CTE chain over ``docs``, final SELECT of (id_a, id_b, hamming)) of
    the SimHash pair relation — PARTS, like _winnow_parts, so the
    component queries compose them without string-slicing the rendered
    query."""
    n_chunks, width = DD.simhash_chunking(max_hamming)
    mask = (1 << width) - 1
    tok_h64 = (
        f"(({poly_sql('t', 7)}) * {DD.SIMHASH_MIX1} % {P}) * {1 << 31} "
        f"+ (({poly_sql('t', 11)}) * {DD.SIMHASH_MIX2} % {P})"
    )
    cap = (
        f"\n  QUALIFY count(*) OVER (PARTITION BY chunk, ck) <= {max_bucket}"
        if max_bucket is not None else ""
    )
    ctes = f"""toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(upper(text), '[ \\t\\n\\x0b\\f\\r]+'), t -> t <> '') AS toks
  FROM docs
),
th AS (
  SELECT doc_id, len(toks) AS n,
         list_transform(toks, t -> {tok_h64}) AS hs
  FROM toks
),
sims AS (
  SELECT doc_id,
    CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
    ELSE CAST(list_sum(list_transform(range(0, {DD.SIMHASH_BITS}), j ->
      CASE WHEN 2 * len(list_filter(hs, h -> (h >> j) & 1 = 1)) > n
           THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)) AS BIGINT)
    END AS simhash
  FROM th
),
chunked AS (
  SELECT doc_id, simhash, unnest(range(0, {n_chunks})) AS chunk FROM sims
),
keyed AS (
  SELECT doc_id, simhash, chunk,
         (simhash >> (chunk * {width})) & {mask} AS ck
  FROM chunked{cap}
),
cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
                  l.simhash AS sa, r.simhash AS sb
  FROM keyed l JOIN keyed r
    ON l.chunk = r.chunk AND l.ck = r.ck AND l.doc_id < r.doc_id
)"""
    final = (
        "SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming\n"
        f"FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}"
    )
    return ctes, final


# ---------------------------------------------------------------------------
# exact dedup: md5 of the whitespace-collapsed, upper-cased text
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf_dir):
    norm = F.trim(F.regexp_replace(F.upper(F.col("text")), r"\s+", " "))
    df = read_documents(spark, sf_dir).withColumn("fingerprint", F.md5(norm))
    return df.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def sql_dedup_exact():
    norm = D.collapse_ws("upper(text)")
    return f"""
SELECT md5({norm}) AS fingerprint, min(doc_id) AS keeper_doc_id,
       count(*) AS n_dups
FROM documents GROUP BY 1"""


# ---------------------------------------------------------------------------
# LSH / SimHash / winnowing / n-gram operators over the clone-planted docs
# ---------------------------------------------------------------------------

def _docs_with_near_dups(spark, sf_dir) -> DataFrame:
    """documents ∪ deterministic near-duplicate copies (every 7th doc, with
    its 2nd..4th whitespace tokens dropped), ids offset by 1,000,000 — gives
    the dedup operators guaranteed, reproducible positives. Only ids below
    2^62 are cloned so the offset can never overflow int64 (large-id fuzz
    sweep territory); real corpora are unaffected."""
    d = read_documents(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    mutated = F.array_join(
        F.concat(F.slice(toks, 1, 1), F.slice(toks, 5, 100000)), " "
    )
    dups = d.filter(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") < (1 << 62))
    ).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        mutated.alias("text"), "lang", "source", "n_chars",
    )
    return d.unionByName(dups)


# The parameters each Spark query and its DuckDB twin share: MinHash LSH
# geometry + Jaccard threshold, SimHash Hamming radius, winnowing k-gram
# and window widths.
MINHASH = dict(num_perm=64, bands=16, shingle_k=5, threshold=0.5)
MAX_HAMMING = 3
WINNOW = dict(k=8, window=8)


def q_minhash_near_dup(spark, sf_dir):
    docs = _docs_with_near_dups(spark, sf_dir)
    return DD.minhash_lsh_pairs(docs, "doc_id", "text", **MINHASH)


# The bucket cap a 100 TB run would actually set: a hot LSH bucket makes
# candidate pairs quadratic in its size, so production caps it (members can
# still pair through their other bands). Small enough to BIND at sf0.01
# (87 pairs vs 105 uncapped — the driver row proves the capped semantics
# change the answer, not just that the cap code ran).
MINHASH_CAP_MAX_BUCKET = 2


def q_minhash_near_dup_capped(spark, sf_dir):
    """minhash_near_dup with the production bucket cap engaged (VERDICT
    r03 #6); oracle mirrors the cap by partitioning on the band VALUE."""
    docs = _docs_with_near_dups(spark, sf_dir)
    return DD.minhash_lsh_pairs(
        docs, "doc_id", "text", **MINHASH, max_bucket=MINHASH_CAP_MAX_BUCKET
    )


def q_simhash_near_dup(spark, sf_dir):
    docs = _docs_with_near_dups(spark, sf_dir)
    return DD.simhash_pairs(docs, "doc_id", "text", max_hamming=MAX_HAMMING)


MINHASH_CONTRACT_TABLE = "minhash_contract_idx"


def _index_split(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(corpus, batch, probe) of the persisted-index queries: even-id
    originals (persisted), odd-id originals (appended as the delta) and
    the near-dup clones (ids >= 1,000,000, probed)."""
    originals = docs.filter(F.col("doc_id") < 1000000)
    return (
        originals.filter(F.col("doc_id") % 2 == 0),
        originals.filter(F.col("doc_id") % 2 == 1),
        docs.filter(F.col("doc_id") >= 1000000),
    )


def q_minhash_incremental(spark, sf_dir):
    """The rolling-ingest index path under the driver oracle (previously
    eq-test only): persist a band_key-bucketed index over the even-id
    originals, APPEND the odd-id originals as a delta batch
    (append_to_minhash_index), then probe with the near-dup clones
    (ids >= 1,000,000) through the delta-aware incremental join. Pairs
    must equal the full recompute restricted to cross pairs — the clones'
    originals sit in BOTH the bucketed index (even) and the delta (odd),
    so a silently unprobed delta or index would drop about half the
    pairs, not zero. Idempotent per invocation: the delta is dropped
    before the append and the index is persisted with overwrite."""
    corpus, batch, probe = _index_split(_docs_with_near_dups(spark, sf_dir))
    t = MINHASH_CONTRACT_TABLE
    drop_table_and_location(spark, t)
    drop_table_and_location(spark, f"{t}__delta")
    DD.persist_minhash_index(corpus, t, "doc_id", "text", n_buckets=8)
    DD.append_to_minhash_index(spark, batch, t, "doc_id", "text")
    return DD.incremental_minhash_pairs(
        spark, probe, t, "doc_id", "text", **MINHASH
    )


MINHASH_COMPACT_TABLE = "minhash_compact_idx"


def q_minhash_compacted(spark, sf_dir):
    """compact_index under the driver oracle: same three-way split as
    q_minhash_incremental, but the delta is FOLDED into the bucketed
    layout (compact_index) before probing — the probe runs entirely
    against the compacted index, no delta join. Compaction is
    semantics-preserving, so the oracle is the SAME cross-pair SQL; a
    compaction that dropped, duplicated, or mis-bucketed rows would
    break the hash match."""
    corpus, batch, probe = _index_split(_docs_with_near_dups(spark, sf_dir))
    t = MINHASH_COMPACT_TABLE
    for suffix in ("", "__delta", "__compact", "__old"):
        drop_table_and_location(spark, f"{t}{suffix}")
    DD.persist_minhash_index(corpus, t, "doc_id", "text", n_buckets=8)
    DD.append_to_minhash_index(spark, batch, t, "doc_id", "text")
    DD.compact_index(spark, t)
    assert not spark.catalog.tableExists(f"{t}__delta")
    return DD.incremental_minhash_pairs(
        spark, probe, t, "doc_id", "text", **MINHASH
    )


SIMHASH_CONTRACT_TABLE = "simhash_contract_idx"


def q_simhash_incremental(spark, sf_dir):
    """SimHash twin of q_minhash_incremental: same three-way split
    (even-id corpus → persisted chunk_key-bucketed index, odd-id batch →
    delta append, clones → delta-aware probe), same both-paths-must-fire
    property. See q_minhash_incremental for the setup discipline."""
    corpus, batch, probe = _index_split(_docs_with_near_dups(spark, sf_dir))
    t = SIMHASH_CONTRACT_TABLE
    drop_table_and_location(spark, t)
    drop_table_and_location(spark, f"{t}__delta")
    DD.persist_simhash_index(corpus, t, "doc_id", "text", n_buckets=8)
    DD.append_to_simhash_index(spark, batch, t, "doc_id", "text")
    return DD.incremental_simhash_pairs(
        spark, probe, t, "doc_id", "text", max_hamming=MAX_HAMMING
    )


MINHASH_NOVELTY_TABLE = "minhash_novelty_idx"
# id-ordered arrival batches for the novelty filter: fixed boundaries so
# the decomposition is deterministic for ANY id distribution (the
# large-id fuzz sweep included — an empty batch is just a no-op probe).
# At the contract SFs this splits originals across two batches and the
# clones into the third, so within-batch pairs, index probes, AND delta
# probes all must fire for the oracle hash to match.
NOVELTY_BATCH_BOUNDS = ((None, 250), (250, 1000000), (1000000, None))


def _novelty_batches(docs: DataFrame) -> list[DataFrame]:
    """``docs`` cut into the id-ordered NOVELTY_BATCH_BOUNDS batches."""
    batches = []
    for lo, hi in NOVELTY_BATCH_BOUNDS:
        b = docs
        if lo is not None:
            b = b.filter(F.col("doc_id") >= lo)
        if hi is not None:
            b = b.filter(F.col("doc_id") < hi)
        batches.append(b)
    return batches


def q_minhash_novelty(spark, sf_dir):
    """Sequential-ingest novelty filter — the rolling-dedup composition
    a 100 TB crawl pipeline actually runs (graft analog of the
    reference's incremental master loop, issuer_processor_v.py:244-258):
    documents arrive in id order in batches; each batch is compared
    against everything seen so far (the persisted LSH index + delta)
    AND against itself, docs with an earlier near-dup are dropped, and
    the whole batch is appended to the index. A doc is NOVEL iff it has
    no LSH near-dup (64/16/5, est_jaccard >= 0.5) with ANY smaller id —
    the same greedy smaller-id-wins rule as semantic_dedup, which is
    exactly what the batched machinery computes when batches are
    id-ordered: within-batch pairs drop the larger id, cross-batch
    pairs drop the probe only when its id exceeds the corpus id (under
    id-ordered arrival that IS "arrived later", and the guard makes the
    rule order-independent and replay-safe — dedup.novelty_ingest_batch
    is the single shared implementation the streaming twin also runs).
    The oracle is the FULL one-shot recompute's survivor set, so a
    probe that missed the delta, an append banded under the wrong
    geometry, or a batch that skipped its own internal pairs all break
    the hash.

    Scale shape: each batch is banded EXACTLY ONCE (materialized to a
    scratch parquet and reused by the self-join, the index probe, and
    the append) + the bucketed index join (exchange-free on the corpus
    side) + the small delta join; the seen-corpus is never re-banded —
    the LSM index amortizes it."""
    docs = _docs_with_near_dups(spark, sf_dir)
    t = MINHASH_NOVELTY_TABLE
    drop_table_and_location(spark, t)
    drop_table_and_location(spark, f"{t}__delta")
    dropped = []
    for b in _novelty_batches(docs):
        if b.isEmpty():
            continue  # same skip the streaming twin's foreachBatch takes
        dropped.append(
            DD.novelty_ingest_batch(
                spark, b, t, "doc_id", "text", **MINHASH, n_buckets=8
            )
        )
    if not dropped:
        return docs.select("doc_id", F.length("text").alias("text_len"))
    all_dropped = reduce(lambda a, c: a.unionByName(c), dropped).distinct()
    return (
        docs.join(all_dropped, "doc_id", "left_anti")
        .select("doc_id", F.length("text").alias("text_len"))
    )


def sql_minhash_novelty():
    pair_sql = sql_minhash_near_dup(**MINHASH)
    return f"""
WITH pairs AS ({pair_sql}),
dropped AS (SELECT DISTINCT id_b AS doc_id FROM pairs),{DOCS_WITH_NEAR_DUPS_CTE.lstrip()}
SELECT d.doc_id, length(d.text) AS text_len
FROM docs d ANTI JOIN dropped ON d.doc_id = dropped.doc_id"""


MINHASH_STREAM_NOVELTY_TABLE = "minhash_stream_novelty_idx"


def q_streaming_novelty(spark, sf_dir):
    """minhash_novelty's STREAMING twin — the rolling crawl-dedup loop
    under Structured Streaming (streaming/stream.stream_novelty): the
    id-ordered batches become one staged file each (mtimes forced
    ascending so the file source's arrival order IS the id order),
    foreachBatch probes the persisted LSH index + delta and itself,
    novel docs land in the real parquet sink, and every batch appends
    to the index. Oracle = the SAME one-shot greedy-survivor SQL the
    batch row uses, proving streaming ingest with external index state
    emits bit-identical novelty verdicts to the batch decomposition.
    The sweep timing for this row is adapter-dominated (staging +
    trigger/poll quantization) — see bench.py ADAPTER_TIMED."""
    # bounded scratch (ADVICE r07): sweep stale staging dirs from prior
    # invocations and remove each part dir as soon as its one file is
    # moved out.
    scratch.sweep("novelty_stream_", "novelty_part")

    docs = _docs_with_near_dups(spark, sf_dir).select("doc_id", "text")
    stage = scratch.mkdtemp("novelty_stream_in_")
    base = 1_600_000_000
    for i, b in enumerate(_novelty_batches(docs)):
        part = scratch.mkdtemp(f"novelty_part{i}_")
        b.coalesce(1).write.mode("overwrite").parquet(part)
        src = next(
            f for f in os.listdir(part)
            if f.endswith(".parquet") and not f.startswith("_")
        )
        dst = os.path.join(stage, f"batch_{i}.parquet")
        os.replace(os.path.join(part, src), dst)
        os.utime(dst, (base + i, base + i))
        shutil.rmtree(part, ignore_errors=True)

    t = MINHASH_STREAM_NOVELTY_TABLE
    drop_table_and_location(spark, t)
    drop_table_and_location(spark, f"{t}__delta")
    out_dir = scratch.mkdtemp("novelty_stream_out_")
    ckpt = scratch.mkdtemp("novelty_stream_ckpt_")
    q = ST.stream_novelty(spark, stage, out_dir, ckpt, t)
    if not q.awaitTermination(240):
        q.stop()
        raise RuntimeError(
            "streaming novelty did not terminate within 240s — refusing "
            "to read a potentially partial sink"
        )
    return spark.read.parquet(out_dir).drop("batch_id")


def q_winnow_fingerprint(spark, sf_dir):
    """Winnowing fingerprints (rolling-hash k-grams → window minima): any
    shared substring of length >= k + w - 1 yields a shared fingerprint —
    the substring-robust document fingerprint the md5 `fingerprint` query
    cannot provide."""
    return DD.winnowing_fingerprints(
        read_documents(spark, sf_dir), "doc_id", "text", **WINNOW
    )


# Exact-substring pair detection knobs: fingerprints carried by more
# than MAXDF docs produce quadratic pairs but no substring signal (the
# cap runs BEFORE the self-join, dedup.overlap_pairs); TAU keeps pairs
# where shared fingerprints cover >= half the smaller doc's (capped)
# fingerprint set.
WINNOW_PAIR_MAXDF = 20
WINNOW_PAIR_TAU_PPM = 500000


def q_winnow_substring_pairs(spark, sf_dir):
    """Exact-substring near-duplicate pairs (the Lee et al. 2022
    'Deduplicating Training Data' family): two docs pair when their
    winnowing fingerprints — which any shared substring of length
    >= k + window - 1 is guaranteed to hit — overlap on >= TAU ppm of
    the smaller doc's fingerprint set. Catches long VERBATIM spans
    (quotes, syndication, boilerplate-wrapped copies) that set-based
    MinHash under-scores when the surrounding text differs.

    Scale shape: dedup.overlap_pairs over the (doc, fingerprint)
    relation — fingerprint doc-frequency capped at MAXDF BEFORE the
    self-join (<= MAXDF^2 pairs per fingerprint)."""
    docs = _docs_with_near_dups(spark, sf_dir)
    fps = DD.winnowing_fingerprints(docs, "doc_id", "text", **WINNOW)
    return DD.overlap_pairs(
        fps, "fp", WINNOW_PAIR_MAXDF, WINNOW_PAIR_TAU_PPM
    ).select("id_a", "id_b", F.col("shared").alias("shared_fps"),
             F.col("ppm").alias("overlap_ppm"))


def q_near_dup_clusters(spark, sf_dir):
    """Duplicate-cluster assignment: connected components over the SimHash
    near-dup pair graph (keep one document per cluster). Iterative
    min-label propagation on the Spark side; recursive-CTE transitive
    closure as the DuckDB oracle."""
    docs = _docs_with_near_dups(spark, sf_dir)
    pairs = DD.simhash_pairs(docs, "doc_id", "text", max_hamming=MAX_HAMMING)
    comp = DD.connected_components(pairs)
    return comp.groupBy("comp").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("node").alias("keeper_id"),
    ).select(F.col("comp").alias("component"), "n_members", "keeper_id")


def q_dedup_survivors(spark, sf_dir):
    """Canonical-document selection — the step a corpus pipeline actually
    runs AFTER near-dup clustering: every document lands in a cluster
    (its SimHash component, or itself as a singleton) and each cluster
    keeps exactly one survivor, chosen by longest text with
    smallest-doc_id tie-break. The argmax is the deterministic two-agg
    form (max length per cluster, then min id among the max-length
    members), NOT max_by over a struct — max_by's tie behavior is
    engine/partition-order dependent, and a window over the cluster key
    would put a whale cluster (every doc identical) in one task. All
    stages are keyed aggregations with map-side combine; the join-back
    on a skewed cluster key rides AQE skew-join like tfidf's term join."""
    docs = _docs_with_near_dups(spark, sf_dir)
    return dedup_survivors_over(docs)


def dedup_survivors_over(docs: DataFrame,
                         max_hamming: int = MAX_HAMMING) -> DataFrame:
    """The composition behind q_dedup_survivors, over any (doc_id, text)
    relation — factored out so the tie-break and plan shape are testable
    on planted inputs."""
    pairs = DD.simhash_pairs(docs, "doc_id", "text", max_hamming=max_hamming)
    comp = DD.connected_components(pairs)
    d = docs.select(
        "doc_id", F.coalesce(F.length("text"), F.lit(0)).alias("len")
    )
    j = d.join(comp, d.doc_id == comp.node, "left").select(
        "doc_id", "len", F.coalesce("comp", "doc_id").alias("cluster")
    )
    agg = j.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("len").alias("survivor_len"),
    )
    return (
        j.join(agg, "cluster")
        .filter(F.col("len") == F.col("survivor_len"))
        .groupBy("cluster", "n_members", "survivor_len")
        .agg(F.min("doc_id").alias("survivor_id"))
        .select(
            "cluster", "n_members", "survivor_id",
            F.col("survivor_len").cast("long").alias("survivor_len"),
        )
    )


def q_ngram_jaccard_pairs(spark, sf_dir):
    # length >= n on both sides: keeps the short-string edge cases (Spark
    # emits one truncated gram for len < n, DuckDB emits none) out of the
    # compared row set — semantics align exactly on the kept rows.
    d = (
        read_documents(spark, sf_dir)
        .filter(F.col("doc_id") < 25)
        .select("doc_id", F.substring("text", 1, 100).alias("t"))
        .filter(F.length("t") >= 3)
    )
    a = d.select(F.col("doc_id").alias("id_a"), F.col("t").alias("t_a"))
    b = d.select(F.col("doc_id").alias("id_b"), F.col("t").alias("t_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a", "id_b",
        DD.ngram_jaccard(F.col("t_a"), F.col("t_b"), 3).alias("jaccard"),
    )


def sql_ngram_jaccard_pairs():
    grams = (
        "list_distinct(list_transform(range(1, greatest(length({t}) - 1, 1)),"
        " i -> {t}[i:i+2]))"
    )
    ga, gb = grams.format(t="t_a"), grams.format(t="t_b")
    return f"""
WITH d AS (SELECT doc_id, text[1:100] AS t FROM documents
           WHERE doc_id < 25 AND length(text[1:100]) >= 3)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect({ga.replace('t_a','a.t')}, {gb.replace('t_b','b.t')})) * 1.0
             / len(list_distinct(list_concat({ga.replace('t_a','a.t')}, {gb.replace('t_b','b.t')}))), 6) AS jaccard
FROM d a JOIN d b ON a.doc_id < b.doc_id"""


CONT_GRAM_W = 3        # word-shingle width
CONT_MAXDF = 20        # drop shingles in more docs (no signal, all cost)
CONT_MIN_PPM = 750_000  # emit pairs covering >= 75% of the smaller set


def q_containment_pairs(spark, sf_dir):
    """Asymmetric near-duplicate detection: pairs where the shared
    word-shingle set covers >= CONT_MIN_PPM of the SMALLER document's
    shingles — the quote-expansion / syndication duplicates symmetric
    Jaccard under-scores (a short article embedded in a longer page has
    low Jaccard but containment ~1). Runs over the same planted
    clone corpus as the MinHash family, so positives are guaranteed
    (106 pairs >= threshold at sf0.01: the 72 clones plus natural
    high-overlap pairs).

    Scale shape: shingles are DISTINCT per doc, then dedup.overlap_pairs
    caps them at CONT_MAXDF docs before the self-join — a shingle in
    more documents than that carries no containment signal but
    quadratic join cost (max MAXDF^2 pairs per shingle)."""
    toks = par(_docs_with_near_dups(spark, sf_dir)).select(
        "doc_id",
        F.regexp_extract_all(
            F.lower(F.col("text")), F.lit("[a-z]+"), F.lit(0)
        ).alias("t"),
    )
    w = CONT_GRAM_W
    sh = (
        toks.filter(F.size("t") >= w)
        .select(
            F.col("doc_id").alias("id"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {w - 1}), "
                    f"i -> array_join(slice(t, i, {w}), ' '))"
                )
            ).alias("gram"),
        )
        .distinct()
    )
    return DD.overlap_pairs(sh, "gram", CONT_MAXDF, CONT_MIN_PPM).select(
        "id_a", "id_b", F.col("shared").alias("shared_grams"),
        F.col("ppm").alias("cont_ppm"),
    )


def sql_containment_pairs():
    w = CONT_GRAM_W
    return f"""
WITH {DOCS_WITH_NEAR_DUPS_CTE},
toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z]+') AS t FROM docs
), sh AS (
  SELECT DISTINCT doc_id AS id, gram FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - {w - 2}),
                  i -> array_to_string(t[i:i+{w - 1}], ' '))) AS gram
    FROM toks WHERE len(t) >= {w})
),
{sql_overlap_tail("sh", "gram", CONT_MAXDF, CONT_MIN_PPM,
                  "shared_grams", "cont_ppm")}"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    "dedup_exact": (q_dedup_exact, sql_dedup_exact),
    "minhash_near_dup": (
        q_minhash_near_dup, partial(sql_minhash_near_dup, **MINHASH)
    ),
    "minhash_near_dup_capped": (
        q_minhash_near_dup_capped,
        partial(sql_minhash_near_dup, **MINHASH,
                max_bucket=MINHASH_CAP_MAX_BUCKET),
    ),
    "simhash_near_dup": (
        q_simhash_near_dup,
        partial(sql_simhash_near_dup, max_hamming=MAX_HAMMING),
    ),
    "minhash_incremental": (
        q_minhash_incremental, partial(sql_minhash_incremental, **MINHASH)
    ),
    "simhash_incremental": (
        q_simhash_incremental,
        partial(sql_simhash_incremental, max_hamming=MAX_HAMMING),
    ),
    "minhash_compacted": (
        q_minhash_compacted, partial(sql_minhash_incremental, **MINHASH)
    ),
    "minhash_novelty": (q_minhash_novelty, sql_minhash_novelty),
    "streaming_novelty": (q_streaming_novelty, sql_minhash_novelty),
    "near_dup_clusters": (
        q_near_dup_clusters,
        partial(sql_near_dup_clusters, max_hamming=MAX_HAMMING),
    ),
    "dedup_survivors": (
        q_dedup_survivors,
        partial(sql_dedup_survivors, max_hamming=MAX_HAMMING),
    ),
    "winnow_fingerprint": (
        q_winnow_fingerprint, partial(sql_winnow_fingerprint, **WINNOW)
    ),
    "winnow_substring_pairs": (
        q_winnow_substring_pairs,
        partial(sql_winnow_substring_pairs, **WINNOW,
                maxdf=WINNOW_PAIR_MAXDF, tau_ppm=WINNOW_PAIR_TAU_PPM),
    ),
    "ngram_jaccard_pairs": (q_ngram_jaccard_pairs, sql_ngram_jaccard_pairs),
    "containment_pairs": (q_containment_pairs, sql_containment_pairs),
}
