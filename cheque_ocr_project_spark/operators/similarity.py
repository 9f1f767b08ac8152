"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce`` — exact baseline: broadcast the query set,
  native zip_with/aggregate dot products (JVM-side), window top-k. Scales
  as |corpus| x |queries|; right when the query set is small.
- ``lsh_topk`` — the scale path: random-hyperplane LSH. Each vector gets a
  ``n_planes``-bit sign signature; vectors are bucketed by signature bands
  and only same-band rows meet the queries (multiprobe via several
  independent bands). Recall is tested against the brute-force baseline.
- ``cosine_near_dup_pairs`` — embedding near-duplicate detection: pairs
  with cosine >= threshold among LSH-band candidates.

Hyperplanes are seeded (deterministic run-to-run).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cheque_ocr_project_spark.operators.extract import par


def _cosine(vec_a, vec_b) -> "F.Column":
    dot = F.aggregate(
        F.zip_with(vec_a, vec_b, lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    na = F.sqrt(F.aggregate(vec_a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(vec_b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.try_divide(dot, na * nb)


def _rank_topk(scored: DataFrame, id_col: str, vec_col: str,
               k: int) -> DataFrame:
    """(query_id, neighbor_id, sim, rn): the k best-scored candidates per
    query of a (query_id, qvec, id_col, vec_col) relation — the tail every
    top-k operator shares. Round-4 precision is proven cross-engine-stable
    by the brute-force ann_topk oracle; ranking uses the rounded value,
    ties broken by id ascending."""
    sim = F.round(_cosine(F.col(vec_col), F.col("qvec")), 4)
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("sim", sim)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", F.col(id_col).alias("neighbor_id"), "sim", "rn")
    )


def cosine_topk_bruteforce(emb: DataFrame, queries: DataFrame, k: int = 5,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """queries(query_id, qvec) x emb → top-k neighbors per query."""
    joined = par(emb).crossJoin(F.broadcast(queries)).filter(
        F.col(id_col) != F.col("query_id")
    )
    return _rank_topk(joined, id_col, vec_col, k)


PLANE_MOD = (1 << 31) - 1
PLANE_MIX = 2654435761


def plane_coeffs(dim: int, n_planes: int, n_bands: int,
                 seed: int = 29) -> np.ndarray:
    """Deterministic integer hyperplane coefficients in {-2..2}.

    ``c(b,p,d) = ((seed*7919 + b*1000003 + p*1009 + d) * 2654435761
                  mod 2^31-1) mod 5 - 2`` — exact 64-bit integer arithmetic,
    so the DuckDB oracle (plans/ann.py) renders the identical
    planes and the LSH candidate sets match bit-for-bit. Sign bits come from
    integer dot products over the quantized vector (floor(x*1000 + 0.5)),
    which are order-independent — no float-summation ambiguity."""
    b = np.arange(n_bands, dtype=np.int64)[:, None, None]
    p = np.arange(n_planes, dtype=np.int64)[None, :, None]
    d = np.arange(dim, dtype=np.int64)[None, None, :]
    x = seed * 7919 + b * 1000003 + p * 1009 + d
    return ((x * PLANE_MIX) % PLANE_MOD) % 5 - 2


def quantize(vecs: np.ndarray) -> np.ndarray:
    """floor(x*1000 + 0.5) as int64 — the shared quantization spec (floor
    of +0.5 rather than round(): numpy round is half-to-even while SQL
    round is half-away, so the spec avoids round() entirely)."""
    return np.floor(vecs.astype(np.float64) * 1000.0 + 0.5).astype(np.int64)


def hyperplane_signatures(spark: SparkSession, df: DataFrame, id_col: str,
                          vec_col: str, dim: int, n_planes: int = 16,
                          n_bands: int = 4, seed: int = 29) -> DataFrame:
    """id → array of band keys (each band = n_planes sign bits from an
    independent integer hyperplane set)."""
    bc = spark.sparkContext.broadcast(plane_coeffs(dim, n_planes, n_bands, seed))

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("bands", T.ArrayType(T.StringType())),
    ])

    def batches(pdf_iter):
        pl = bc.value
        for pdf in pdf_iter:
            vecs = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            q = quantize(vecs)
            keys = []
            # (n_rows, n_bands, n_planes) sign bits -> per-band key string
            proj = np.einsum("rd,bpd->rbp", q, pl) > 0
            weights = (1 << np.arange(pl.shape[1])).astype(np.int64)
            codes = (proj * weights[None, None, :]).sum(axis=2)
            for row in codes:
                keys.append([f"{b}:{int(c)}" for b, c in enumerate(row)])
            yield pd.DataFrame({"id": pdf[id_col].values, "bands": keys})

    return par(df.select(F.col(id_col), F.col(vec_col))).mapInPandas(
        batches, schema)


def lsh_topk(spark: SparkSession, emb: DataFrame, queries: DataFrame,
             dim: int, k: int = 5, n_planes: int = 12, n_bands: int = 6,
             id_col: str = "vec_id", vec_col: str = "embedding",
             seed: int = 29, max_bucket: int | None = None,
             multiprobe: bool = False) -> DataFrame:
    """Approximate top-k: only same-LSH-band (query, corpus) pairs scored.

    ``max_bucket`` caps the CORPUS side of the band join via
    dedup.cap_bucket_size: candidate count per band is |corpus bucket| x
    |query bucket|, so one hot band (millions of near-identical embeddings
    in a crawl) multiplies against every query probing it — the same
    quadratic-blowup shape the MinHash/SimHash joins already cap. A capped
    corpus bucket's vectors can still surface through their other bands;
    recall loss is observable via dedup.oversized_buckets on the exploded
    signature relation.

    ``multiprobe`` additionally probes every Hamming-1 neighbor of each
    QUERY band code (classic multiprobe LSH): a near neighbor that
    disagrees on exactly one sign bit in a band still meets the query
    there. Cost scales the query-side key set by (n_planes + 1) — the
    query relation is the small broadcast side, so the corpus never pays;
    the candidate set is a strict superset, so recall can only rise."""
    from cheque_ocr_project_spark.operators.dedup import cap_bucket_size

    corpus_sig = hyperplane_signatures(
        spark, emb, id_col, vec_col, dim, n_planes, n_bands, seed
    ).select(F.col("id").alias(id_col), F.explode("bands").alias("band_key"))
    corpus_sig = cap_bucket_size(corpus_sig, "band_key", max_bucket)
    query_sig = hyperplane_signatures(
        spark, queries.select(F.col("query_id").alias(id_col), F.col("qvec").alias(vec_col)),
        id_col, vec_col, dim, n_planes, n_bands, seed,
    ).select(F.col("id").alias("query_id"), F.explode("bands").alias("band_key"))
    if multiprobe:
        # 'b:code' -> itself plus every single-bit flip of code (pure JVM
        # string/bit expressions; no extra Arrow stage)
        flips = F.expr(
            f"""transform(sequence(0, {n_planes - 1}), p ->
                  concat(split(band_key, ':')[0], ':',
                         CAST(CAST(split(band_key, ':')[1] AS BIGINT)
                              ^ shiftleft(CAST(1 AS BIGINT), p) AS STRING)))"""
        )
        query_sig = query_sig.select(
            "query_id",
            F.explode(
                F.array_union(F.array(F.col("band_key")), flips)
            ).alias("band_key"),
        )

    cand = (
        corpus_sig.join(F.broadcast(query_sig), "band_key")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
        .dropDuplicates(["query_id", id_col])
    )
    scored = (
        cand.join(emb, id_col)
        .join(F.broadcast(queries), "query_id")
    )
    return _rank_topk(scored, id_col, vec_col, k)


IVF_PIVOT_MIX = 2654435761
IVF_PIVOT_MOD = (1 << 31) - 1


def ivf_pivots(emb: DataFrame, n_pivots: int = 16, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Deterministic pivot selection: the ``n_pivots`` vectors with the
    smallest ``((id mod P) * mix) mod P`` — a seeded data sample with no
    iterative clustering, so the DuckDB oracle selects the identical set.
    (A Lloyd refinement would improve cell balance but is intentionally
    omitted to keep the index exactly recomputable; this is IVF-flat with
    hash-sampled centroids.)

    Scale notes: ``orderBy(...).limit(n)`` plans as a distributed
    TakeOrderedAndProject (per-partition top-n, then a tiny merge on the
    driver) — no single-partition window, so the full table never funnels
    through one task. The id is reduced mod P *before* the multiply so the
    64-bit product cannot overflow (max (P-1)*mix < 2^62.3); ids are assumed
    non-negative (the DuckDB oracle uses ``%``, which differs from pmod on
    negatives)."""
    rank_key = F.pmod(
        F.pmod(F.col(id_col), F.lit(IVF_PIVOT_MOD)) * IVF_PIVOT_MIX,
        F.lit(IVF_PIVOT_MOD),
    )
    return (
        emb.select(F.col(id_col).alias("pivot_id"),
                   F.col(vec_col).alias("pvec"),
                   rank_key.alias("__rk"))
        .orderBy(F.col("__rk").asc(), F.col("pivot_id").asc())
        .limit(n_pivots)
        .select("pivot_id", "pvec")
    )


def _nearest_pivots(df: DataFrame, pivots: DataFrame, id_col: str,
                    vec_col: str, n: int) -> DataFrame:
    """(id, pivot_id) for each row's n highest-cosine pivots (round-4 with
    pivot-id tiebreak — cross-engine-stable ranking)."""
    joined = par(df).crossJoin(F.broadcast(pivots))
    sim = F.round(_cosine(F.col(vec_col), F.col("pvec")), 4)
    w = Window.partitionBy(id_col).orderBy(
        F.col("psim").desc(), F.col("pivot_id").asc()
    )
    return (
        joined.withColumn("psim", sim)
        .withColumn("__pr", F.row_number().over(w))
        .filter(F.col("__pr") <= n)
        .select(id_col, "pivot_id")
    )


def ivf_topk(spark: SparkSession, emb: DataFrame, queries: DataFrame,
             k: int = 5, n_pivots: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors are assigned to their
    nearest pivot cell; each query probes its ``nprobe`` nearest cells and
    scores only those cells' members. The only shuffles are the two
    argmax windows and the cell equi-join — at 100 TB the cell join is the
    classic IVF fan-in and the pivot table stays broadcast-size."""
    pivots = ivf_pivots(emb, n_pivots, id_col, vec_col)
    assign = _nearest_pivots(emb, pivots, id_col, vec_col, 1)
    probes = _nearest_pivots(
        queries.select(F.col("query_id").alias(id_col),
                       F.col("qvec").alias(vec_col)),
        pivots, id_col, vec_col, nprobe,
    ).select(F.col(id_col).alias("query_id"), "pivot_id")

    cand = (
        assign.join(probes, "pivot_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col)
        .dropDuplicates(["query_id", id_col])
    )
    scored = cand.join(emb, id_col).join(F.broadcast(queries), "query_id")
    return _rank_topk(scored, id_col, vec_col, k)


def cosine_near_dup_pairs(spark: SparkSession, emb: DataFrame, dim: int,
                          threshold: float = 0.9, n_planes: int = 12,
                          n_bands: int = 6, id_col: str = "vec_id",
                          vec_col: str = "embedding", seed: int = 29,
                          max_bucket: int | None = None) -> DataFrame:
    """Embedding near-duplicates: cosine >= threshold among band-mates.

    ``max_bucket`` (off by default) drops hot LSH bands before the
    self-join — candidate pairs are QUADRATIC in bucket size, so this is
    the same production guard the MinHash path carries
    (dedup.cap_bucket_size); members of a dropped band can still pair
    through their other bands, and dedup.oversized_buckets over the
    exploded signatures is the observability twin."""
    from cheque_ocr_project_spark.operators.dedup import band_pairs

    sigs = hyperplane_signatures(
        spark, emb, id_col, vec_col, dim, n_planes, n_bands, seed
    ).select(F.col("id"), F.explode("bands").alias("band_key"))
    cand = (
        band_pairs(sigs, "band_key", max_bucket=max_bucket)
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    ea = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    eb = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    pairs = cand.join(ea, "id_a").join(eb, "id_b")
    sim = F.round(_cosine(F.col("vec_a"), F.col("vec_b")), 4)
    return (
        pairs.withColumn("cosine", sim)
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# One-step Lloyd refinement over hash-sampled pivots
# ---------------------------------------------------------------------------

KM_OFFSET = 1 << 24  # micros offset making centroid numerators non-negative
                     # (covers |component| < 16.7 embedding units)


def seed_assignment(emb: DataFrame, n_pivots: int = 8,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """(id, cluster0): each vector's nearest hash-sampled pivot by exact
    integer-micros squared-L2 — the shared clustering scaffold of
    kmeans_refine (its seed step) and semantic_dedup (its cell key), so
    the two operators can never disagree about what a cluster is. Ties
    break on the smaller pivot id (built into the struct order). Scale
    shape: k-row broadcast cross join + a min(struct) agg — map-side
    combinable, NO window."""
    # integer diffs in the zip_with, squaring in the aggregate lambda:
    # Catalyst does not CSE inside higher-order-function lambdas, so
    # writing the squared diff inline would pay the float->double
    # multiply+floor+cast four times per (vector, pivot, dim) in the
    # hottest n*k*dim stage instead of two
    dist0 = F.expr(
        f"""aggregate(
          zip_with({vec_col}, pvec, (x, y) ->
            CAST(floor(x * 1000000.0) AS BIGINT)
            - CAST(floor(y * 1000000.0) AS BIGINT)),
          CAST(0 AS BIGINT), (acc, d) -> acc + d * d)"""
    )
    pivots = ivf_pivots(emb, n_pivots, id_col, vec_col)
    return (
        par(emb).crossJoin(F.broadcast(pivots))
        .select(id_col, "pivot_id", dist0.alias("dist"))
        .groupBy(id_col)
        .agg(F.min(F.struct("dist", "pivot_id")).alias("m"))
        .select(id_col, F.col("m.pivot_id").alias("cluster0"))
    )


def spark_round4(x: float) -> float:
    """Spark's ``round(x, 4)`` on a double: HALF_UP on the shortest decimal
    that reads back as ``x`` (Scala's ``BigDecimal(double)`` goes through
    ``Double.toString``), not on the double's exact binary expansion — the
    double nearest 0.29995 rounds to 0.3, not 0.2999."""
    return float(Decimal(repr(float(x))).quantize(Decimal("0.0001"),
                                                  rounding=ROUND_HALF_UP))


def semantic_dedup(emb: DataFrame, n_pivots: int = 8,
                   threshold: float = 0.3, id_col: str = "vec_id",
                   vec_col: str = "embedding") -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): assign
    every vector to its nearest hash-sampled pivot cell
    (seed_assignment), compare pairs ONLY within a cell, and drop any
    vector that has a smaller-id cell-mate with cosine >= threshold.
    Returns the survivors as ``(vec_id, cluster)``.

    The greedy smaller-id-wins rule (not connected components) is the
    paper's shape: one pass, deterministic, and a duplicate CHAIN keeps
    exactly its smallest id even when the chain crosses dropped
    members — a vector is dropped for having ANY kept-or-dropped
    smaller similar neighbor, which is well-defined without iteration.

    Scale shape: the pairwise compare is quadratic WITHIN a cell by
    design — the scale knob is k itself (choose n_pivots ~ n/cell so
    cells stay bounded; the paper runs k in the tens of thousands at
    web scale), unlike the LSH ops where bucket sizes are
    data-dependent and need a cap. The cell equi-join is the only
    corpus x corpus shuffle and it is key-bounded by construction;
    the drop set is a broadcast-size anti-join in expectation
    (duplicates are rare past the gate)."""
    assign = seed_assignment(emb, n_pivots, id_col, vec_col).select(
        F.col(id_col).alias("id"), F.col("cluster0").alias("cluster")
    )
    vecs = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    sides = assign.join(vecs, "id")
    # r08: the within-cell pairwise compare runs as ONE Arrow kernel per
    # cell (applyInPandas) instead of a cell equi-join + interpreted
    # higher-order-function cosine per pair (the join materialized ~25M
    # 1 KB pair rows at sf1.0 and the HOF dot cost ~7us/pair — 114s;
    # this kernel runs the identical arithmetic in ~2s). Exactness is
    # bit-for-bit, not approximate: Spark's fold multiplies the float32
    # components in FLOAT and accumulates in DOUBLE in dim order, so the
    # kernel does exactly that (f32 products upcast into a f64
    # accumulator, one dim at a time — verified bitwise on all pairs of
    # a 60-vector sample: dot, denominator, and rounded cosine all
    # equal), and Spark's round(x, 4) is spark_round4, applied to the few
    # candidates within 1e-3 of the threshold (rounding moves a value by
    # < 5.1e-5, so the margin cannot lose a pair). try_divide's NULL-on-zero
    # divisor is the den > 0 mask. One cell = one task — the SemDeDup
    # scale knob is n_pivots itself (cells stay bounded by CHOICE of k),
    # so a cell kernel is the paper's own execution shape.
    def _cell_dropped(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["id"].to_numpy(), kind="stable")
        ids = pdf["id"].to_numpy()[order]
        m32 = np.stack(pdf["v"].to_numpy()[order]).astype(
            np.float32, copy=False)
        n, d = m32.shape
        # f64 accumulator += f32 product: the ufunc upcasts the float32
        # operand losslessly per element — bit-identical to an explicit
        # astype copy, without materializing the copy
        nrm_acc = np.zeros(n, dtype=np.float64)
        for k in range(d):
            nrm_acc += m32[:, k] * m32[:, k]
        nrm = np.sqrt(nrm_acc)
        dropped = np.zeros(n, dtype=bool)
        blk = 512
        for s0 in range(0, n, blk):
            s1 = min(s0 + blk, n)
            # only columns j > s0 can be upper-triangle partners of this
            # row block — halves the rectangle on average
            c0 = s0 + 1
            if c0 >= n:
                break
            acc = np.zeros((s1 - s0, n - c0), dtype=np.float64)
            for k in range(d):
                acc += np.multiply.outer(m32[s0:s1, k], m32[c0:, k])
            den = np.multiply.outer(nrm[s0:s1], nrm[c0:])
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = acc / den
            upper = (np.arange(c0, n)[None, :]
                     > (s0 + np.arange(s1 - s0))[:, None])
            cand = upper & (den > 0) & (raw >= threshold - 1e-3)
            for r, jj in zip(*np.nonzero(cand)):
                j = c0 + jj
                if dropped[j]:
                    continue
                if spark_round4(raw[r, jj]) >= threshold:
                    dropped[j] = True
        return pd.DataFrame({"id": ids[dropped]})

    dropped = sides.groupBy("cluster").applyInPandas(
        _cell_dropped, schema="id long")
    return (
        assign.join(dropped, "id", "left_anti")
        .select(F.col("id").alias(id_col), "cluster")
    )


def kmeans_refine(emb: DataFrame, n_pivots: int = 8, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """One deterministic Lloyd iteration over ``ivf_pivots``' hash-sampled
    seeds — the cell-balance refinement ivf_pivots' docstring
    intentionally omits from the IVF index, surfaced as its own operator
    (k-means corpus clustering is the standard scaffold for
    diversity-stratified training-data sampling). Returns
    ``(vec_id, cluster0, cluster1, moved)``: the seed assignment, the
    assignment after recomputing centroids, and whether the vector moved.

    Exactness: every distance and centroid is computed in integer
    micros. Float centroid means would be partition-order dependent
    (summation order); integer sums are exact, and the floor-divided
    mean is computed in offset space — ``(sum + cnt*OFF) div cnt - OFF``
    with a non-negative numerator — the one form on which Spark's
    truncating ``div`` and DuckDB's flooring ``//`` agree for negative
    sums. The non-negativity precondition (every component micros
    >= -KM_OFFSET) is ENFORCED at runtime: min(pm) rides the centroid
    agg and raise_error fires if any embedding falls below -16.78 units,
    instead of silently mis-clustering. ``cnt * OFF`` bounds the exact
    path at ~5.5e11 members per cluster; past that, average
    per-partition partials first. Ties
    break on the smaller cluster id on both sides. Empty refined
    clusters (a seed that attracts no members) simply field no
    candidates in the re-assignment, exactly as in both engines.

    Scale shape: seed assignment is a broadcast cross join (k rows) +
    a min(struct) agg — map-side combinable, no window; the assignment
    joins back to the corpus BEFORE the dim explode so the shuffle
    carries n rows, not n*64; centroid agg is map-side combined down to
    k*dim rows and broadcasts back; re-assignment cost n*dim*k is the
    inherent Lloyd work, re-combined map-side twice (per (vec,cluster),
    then argmin per vec)."""
    assign0 = seed_assignment(emb, n_pivots, id_col, vec_col)
    dims = (
        emb.join(assign0, id_col)
        .select(id_col, "cluster0", F.posexplode(vec_col).alias("dim", "val"))
        .select(
            id_col, "cluster0", "dim",
            F.floor(F.col("val") * F.lit(1000000.0)).cast("long").alias("pm"),
        )
    )
    # the offset floor-div identity needs s + cnt*OFF >= 0, guaranteed by
    # min(pm) >= -OFF; out-of-range embeddings (< -16.78 units) would
    # otherwise mis-cluster SILENTLY (truncating div != floor on a
    # negative numerator). min(pm) rides the existing agg (no extra
    # pass) and raise_error fires lazily, executor-side, only on
    # violation — the guard costs one comparison per k*dim centroid row.
    cent = (
        dims.groupBy("cluster0", "dim")
        .agg(F.sum("pm").alias("s"), F.count(F.lit(1)).alias("cnt"),
             F.min("pm").alias("mn"))
        .select(
            F.col("cluster0").alias("cluster"), "dim",
            F.expr(
                f"CASE WHEN mn < {-KM_OFFSET} THEN CAST(raise_error("
                f"concat('kmeans_refine: embedding component ', "
                f"CAST(mn AS STRING), ' micros is below -KM_OFFSET "
                f"(-{KM_OFFSET}); the offset floor-div centroid identity "
                f"no longer holds — raise KM_OFFSET or rescale the "
                f"embeddings')) AS BIGINT) "
                f"ELSE (s + cnt * {KM_OFFSET}) div cnt - {KM_OFFSET} END"
            ).alias("cm"),
        )
    )
    assign1 = (
        dims.join(F.broadcast(cent), "dim")
        .select(
            id_col, "cluster",
            F.expr("(pm - cm) * (pm - cm)").alias("sq"),
        )
        .groupBy(id_col, "cluster")
        .agg(F.sum("sq").alias("dist"))
        .groupBy(id_col)
        .agg(F.min(F.struct("dist", "cluster")).alias("m"))
        .select(id_col, F.col("m.cluster").alias("cluster1"))
    )
    return assign0.join(assign1, id_col).select(
        id_col, "cluster0", "cluster1",
        (F.col("cluster0") != F.col("cluster1")).alias("moved"),
    )
