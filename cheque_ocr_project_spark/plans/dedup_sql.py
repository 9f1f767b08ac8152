"""DuckDB oracle SQL for the LSH dedup operators.

Renders the exact hash spec of ``operators/dedup.py`` (31-bit polynomial
rolling hash, seeded permutation constants, banding, majority-vote SimHash)
as pure DuckDB SQL, so the driver can recompute MinHash/SimHash pair sets
bit-for-bit. Every arithmetic step is 64-bit-integer exact in both engines;
the permutation constants are rendered from the same
``dedup.perm_constants`` arrays the Spark side broadcasts (single source of
truth)."""

from __future__ import annotations

from cheque_ocr_project_spark.operators import dedup as DD

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
# plans.queries._docs_with_near_dups exactly (split on single space, keep
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
    """Twin of plans.q_winnow_substring_pairs: winnowing fingerprints
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
