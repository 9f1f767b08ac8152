"""Deduplication operators for large-scale training-data pipelines.

Five families, each designed for the 100 TB shape:

- ``exact``        — hash-groupBy on a normalized fingerprint (1 shuffle)
- ``minhash_lsh``  — shingle → vectorized MinHash signature (Arrow UDF,
  numpy over the whole batch) → band → bucket self-join → signature-
  estimated Jaccard. Only same-band rows ever meet in the join, so the
  candidate set is tiny relative to the n² cross space.
- ``simhash``      — 62-bit SimHash, banded by 16-bit chunks (pigeonhole:
  any pair within Hamming distance 3 shares at least one of 4 chunks) →
  exact Hamming verify.
- ``winnow/overlap`` — winnowing fingerprints (or any distinct per-doc
  key set, e.g. word shingles) → overlap_pairs: keys held by too many
  docs are capped, pairs whose shared keys cover enough of the smaller
  doc's set are kept, in exact integer parts per million.
- ``ngram_jaccard``— exact char-n-gram Jaccard as a native expression
  (array_intersect/array_union), used standalone on bounded candidate sets
  or as the verifier behind the LSH candidates.

One bucket-pair join serves them all (and the embedding-LSH operators in
similarity.py): ``band_pairs`` caps hot buckets (cap_bucket_size) and
self-joins a banded relation into ``id_a < id_b`` candidates carrying the
caller's columns per side; ``probe_index`` joins a banded batch against
a persisted bucketed index plus its delta side table; ``overlap_pairs``
is band_pairs plus the shared-key count and its ratio.

Hash spec (shared with the DuckDB oracle SQL in plans/near_dup.py — every
step is exact 64-bit integer arithmetic, so numpy and DuckDB compute
bit-identical signatures):

- ``polyhash(s, init)`` = fold over unicode codepoints:
  ``acc = (acc*31 + code) mod P`` with ``P = 2^31 - 1``
- MinHash: shingle hash = polyhash(k-gram, 7); permutation j is
  ``(a_j * h + b_j) mod P`` with seeded constants ``1 <= a_j < P``,
  ``0 <= b_j < P``; texts shorter than k hash the whole text as the single
  shingle. Products stay < 2^62 (no overflow in either engine).
- SimHash: token hash = ``mix(polyhash(tok,7)) * 2^31 + mix2(polyhash(
  tok,11))`` where ``mix(x) = x*2654435761 mod P`` / ``mix2(x) =
  x*1566083941 mod P`` — the multiplicative finalizers spread the bits of
  short tokens (a raw polyhash of a 1-char token occupies only the low
  bits, which biases the per-bit majority votes, collapses the banding
  buckets, and explodes the candidate join). 62 usable bits; bit j of the
  signature is set iff the majority of tokens have bit j set. Signatures
  are non-negative (< 2^62).

All randomness is seeded/deterministic so results are reproducible
run-to-run, resumable, and recomputable by the correctness oracle.
"""

from __future__ import annotations

import re as _re
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cheque_ocr_project_spark.operators.extract import par

POLY_P = (1 << 31) - 1       # 2147483647, Mersenne prime
POLY_MULT = 31
SIMHASH_BITS = 62            # h1*2^31 + h2 < 2^62 — never negative in int64
SIMHASH_MIX1 = 2654435761    # Knuth multiplicative finalizers: spread the
SIMHASH_MIX2 = 1566083941    # low-entropy short-token polyhashes over 31 bits
# Java-\s tokenizer set: keeps the SimHash tokenizer bit-aligned with its
# RE2 SQL twin on control characters (str.split() also splits on \x1c-\x1f)
_WS_RE = _re.compile(r"[ \t\n\x0b\f\r]+")
DEFAULT_SEED = 13


def perm_constants(num_perm: int, seed: int = DEFAULT_SEED
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (a, b) constants < P for the MinHash permutations; the DuckDB
    oracle renders these same literals (plans/near_dup.py)."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, POLY_P, size=num_perm).astype(np.int64)
    b = rng.randint(0, POLY_P, size=num_perm).astype(np.int64)
    return a, b


def _codepoints(text: str) -> np.ndarray:
    return np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)


def _mod_p(x: np.ndarray) -> np.ndarray:
    """x mod POLY_P for non-negative int64 x, via Mersenne-prime folding
    (P = 2^31 - 1, so x ≡ (x & P) + (x >> 31) mod P): two folds bring any
    x < 2^63 under P + 4, one conditional subtract finishes. Exactly
    equal to ``x % POLY_P`` (pinned by tests/test_hash_spec.py) at ~3
    cheap vector ops instead of the hardware divide — the signature
    stage runs this 64x per shingle hash (r08, guide §1.2 per-task
    work)."""
    x = (x & POLY_P) + (x >> 31)
    x = (x & POLY_P) + (x >> 31)
    return np.where(x >= POLY_P, x - POLY_P, x)


def polyhash(text: str, init: int = 7) -> int:
    """Reference scalar implementation (tests + short-text fallback)."""
    acc = init
    for c in text:
        acc = (acc * POLY_MULT + ord(c)) % POLY_P
    return acc


def batch_polyhash(strs: list[str], init: int = 7) -> np.ndarray:
    """polyhash of every string, vectorized across the batch: one masked
    update pass per character position (max_len vector ops total)."""
    if not strs:
        return np.empty(0, dtype=np.int64)
    strs = [(s if isinstance(s, str) else "") for s in strs]
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=len(strs))
    codes = _codepoints("".join(strs))
    offs = np.concatenate(([0], np.cumsum(lens)[:-1]))
    acc = np.full(len(strs), init, dtype=np.int64)
    for j in range(int(lens.max(initial=0))):
        live = lens > j
        acc[live] = _mod_p(acc[live] * POLY_MULT + codes[offs[live] + j])
    return acc


def _batch_shingle_hashes(texts: list[str], k: int
                          ) -> tuple[np.ndarray, np.ndarray]:
    """All shingle hashes for a batch, fully vectorized across rows.

    Returns (hashes, row_lengths) where ``hashes`` concatenates each row's
    shingle hashes and ``row_lengths[i]`` is row i's shingle count (>= 1:
    rows shorter than k contribute one whole-text hash)."""
    texts = [(t if isinstance(t, str) else "") for t in texts]
    joined = "".join(texts)
    codes = _codepoints(joined)
    lens = np.fromiter((len(t) for t in texts), dtype=np.int64, count=len(texts))
    offsets = np.concatenate(([0], np.cumsum(lens)[:-1]))

    long_mask = lens >= k
    n_shingles = np.where(long_mask, lens - k + 1, 0)
    starts = np.repeat(offsets[long_mask], n_shingles[long_mask])
    within = np.concatenate(
        [np.arange(n) for n in n_shingles[long_mask]]
    ) if long_mask.any() else np.empty(0, dtype=np.int64)
    pos = starts + within
    acc = np.full(pos.shape, 7, dtype=np.int64)
    for j in range(k):
        acc = _mod_p(acc * POLY_MULT + codes[pos + j])

    # short rows: one whole-text shingle each (rare; scalar fallback)
    short_hashes = {
        i: polyhash(texts[i]) for i in np.nonzero(~long_mask)[0]
    }
    if not short_hashes:
        return acc, n_shingles
    out_lens = np.where(long_mask, n_shingles, 1)
    pieces, cursor = [], 0
    for i, t in enumerate(texts):
        if long_mask[i]:
            pieces.append(acc[cursor:cursor + n_shingles[i]])
            cursor += n_shingles[i]
        else:
            pieces.append(np.array([short_hashes[i]], dtype=np.int64))
    return np.concatenate(pieces), out_lens


def normalize_text(col: Column) -> Column:
    """Shared normalization for dedup fingerprints: upper + ws collapse."""
    return F.trim(F.regexp_replace(F.upper(col), r"\s+", " "))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(fingerprint, keeper_id, n_dups): keep min-id per identical text."""
    fp = F.md5(normalize_text(F.col(text_col)))
    return (
        df.withColumn("fingerprint", fp)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 64, shingle_k: int = 5,
                       seed: int = DEFAULT_SEED) -> DataFrame:
    """id → array<long> MinHash signature (numpy over the whole batch).

    Also emits the 4-bit-per-position sketch (``sk0``..``sk3``: bit j of
    sk_i is a hash bit of sig[j], packed for j < 64) that backs the
    codegen-native candidate prefilter in _est_filtered_pairs — computed
    here in numpy where it costs four vectorized passes, instead of per
    candidate pair in the join. Four planes because the small-vocab
    corpus's band candidates genuinely share 15-25 of 64 positions
    (their minima come from the same common-shingle pool): with 2 bits
    a non-matching position agrees with p=1/4 and m=25 pairs still
    cleared the need=32 bound ~23% of the time; at p=1/16 the expected
    agreement for m=25 is 27 < 32 and the survivor set collapses to
    the genuinely near-threshold pairs."""
    a, b = perm_constants(num_perm, seed)

    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("sig", T.ArrayType(T.LongType())),
        T.StructField("sk0", T.LongType()),
        T.StructField("sk1", T.LongType()),
        T.StructField("sk2", T.LongType()),
        T.StructField("sk3", T.LongType()),
    ])
    n_pack = min(num_perm, 64)
    weights = (np.uint64(1) << np.arange(n_pack, dtype=np.uint64))

    def batches(pdf_iter):
        for pdf in pdf_iter:
            texts = list(pdf[text_col])
            hashes, row_lens = _batch_shingle_hashes(texts, shingle_k)
            seg = np.concatenate(([0], np.cumsum(row_lens)[:-1]))
            sig = np.empty((num_perm, len(texts)), dtype=np.int64)
            for j in range(num_perm):  # 1 full-vector pass + segmented min
                vals = _mod_p(a[j] * hashes + b[j])
                sig[j] = np.minimum.reduceat(vals, seg)
            # sketch bits come from the TOP bits of a multiplicative hash
            # of each minhash value, not its raw low bits: the min values
            # concentrate on a corpus's most common shingles, so raw bits
            # of UNEQUAL values still collide far above 1/4 (measured 24%
            # survivor rate at sf1.0 vs ~0.3% with mixed bits) — mixing
            # restores the independence the prefilter's selectivity
            # argument needs. Any deterministic function of the value
            # keeps the filter sound (equal values => equal bits).
            packed = sig[:n_pack].astype(np.uint64)  # (n_pack, n_rows)
            mixed = packed * np.uint64(0x9E3779B97F4A7C15)  # mod 2^64
            sks = [
                (((mixed >> np.uint64(63 - i)) & np.uint64(1))
                 * weights[:, None]).sum(axis=0, dtype=np.uint64)
                .view(np.int64)
                for i in range(4)
            ]
            yield pd.DataFrame({
                "id": pdf[id_col].values,
                "sig": list(sig.T),
                "sk0": sks[0],
                "sk1": sks[1],
                "sk2": sks[2],
                "sk3": sks[3],
            })

    src = par(df.select(F.col(id_col), F.col(text_col)))
    return src.mapInPandas(batches, schema=schema)


def cap_bucket_size(banded: DataFrame, key_col: str,
                    max_bucket: int | None) -> DataFrame:
    """Drop LSH buckets with more than ``max_bucket`` members before the
    self-join: candidate pairs are QUADRATIC in bucket size, so one hot
    bucket (thousands of identical boilerplate docs) can dominate the whole
    job — the classic 100 TB LSH failure mode. Exact-dedup first (see
    corpus_filter) removes identical docs; this cap bounds whatever skew
    remains. One count-aggregate + one broadcast-able anti-join; a dropped
    bucket's members can still pair through their other bands.

    No silent caps: callers that enable this should surface
    ``oversized_buckets(banded, key_col, max_bucket)`` (tiny aggregate) as
    a logged metric alongside the result.

    Exchange-sharing note (r08): the banded relation is repartitioned by
    the bucket key FIRST, so the count-aggregate, and afterwards BOTH
    sides of the caller's self-join (which needs exactly this hash
    distribution), all read ONE shared exchange instead of three
    lineages each recomputing the Arrow signature stage — q_corpus_filter
    measured 4 MapInPandas stages in one plan before this. Same rows,
    same key space; purely a physical-plan change."""
    if max_bucket is None:
        return banded
    banded = banded.repartition(F.col(key_col))
    big = (
        banded.groupBy(key_col).count()
        .filter(F.col("count") > max_bucket)
        .select(key_col)
    )
    return banded.join(F.broadcast(big), key_col, "left_anti")


def oversized_buckets(banded: DataFrame, key_col: str,
                      max_bucket: int) -> DataFrame:
    """(bucket key, size) of buckets over the cap — the observability twin
    of cap_bucket_size."""
    return banded.groupBy(key_col).count().filter(F.col("count") > max_bucket)


def _pair_side(banded: DataFrame, key: str, carry, s: str) -> DataFrame:
    """(key, id_s, c_s for c in carry) — one side of a bucket-pair join."""
    return banded.select(
        key, F.col("id").alias(f"id_{s}"),
        *[F.col(c).alias(f"{c}_{s}") for c in carry],
    )


def band_pairs(banded: DataFrame, key: str, carry=(),
               max_bucket: int | None = None) -> DataFrame:
    """The bucket self-join every near-dup operator runs: cap hot buckets
    (cap_bucket_size — the cap always runs BEFORE the quadratic join),
    then pair same-bucket rows with ``id_a < id_b``. ``banded`` has an
    ``id`` column, the bucket ``key`` and the ``carry`` columns; the
    result is (key, id_a, c_a..., id_b, c_b...), one row per shared
    bucket — callers that need one row per pair dedup after their own
    map-side filter (see _est_filtered_pairs)."""
    banded = cap_bucket_size(banded, key, max_bucket)
    return (
        _pair_side(banded, key, carry, "a")
        .join(_pair_side(banded, key, carry, "b"), key)
        .filter(F.col("id_a") < F.col("id_b"))
    )


def overlap_pairs(rel: DataFrame, key: str, maxdf: int,
                  min_ppm: int) -> DataFrame:
    """(id_a, id_b, shared, ppm) over a DISTINCT (id, key) relation: pairs
    whose shared keys cover >= ``min_ppm`` parts per million of the
    smaller member's key set. Keys held by more than ``maxdf`` ids carry
    no pair signal but quadratic join cost, so they are capped BEFORE the
    self-join; per-id totals are counted on the SAME capped relation so
    the ratio is consistent. The pair count and both total aggregates are
    map-side combinable; the ppm is exact integer arithmetic (shared *
    1e6 never overflows a long)."""
    kept = cap_bucket_size(rel, key, maxdf)
    tot = kept.groupBy("id").agg(F.count(F.lit(1)).alias("tot"))
    shared = (
        band_pairs(kept, key)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared
        .join(tot.select(F.col("id").alias("id_a"),
                         F.col("tot").alias("tot_a")), "id_a")
        .join(tot.select(F.col("id").alias("id_b"),
                         F.col("tot").alias("tot_b")), "id_b")
        .select(
            "id_a", "id_b",
            F.col("shared").cast("long").alias("shared"),
            F.expr("CAST((shared * 1000000) div least(tot_a, tot_b) "
                   "AS BIGINT)").alias("ppm"),
        )
        .filter(F.col("ppm") >= min_ppm)
    )


# the columns a MinHash candidate pair carries into _est_filtered_pairs
_MINHASH_CARRY = ("sig", "sk0", "sk1", "sk2", "sk3")


def minhash_banded(df: DataFrame, id_col: str, text_col: str,
                   num_perm: int = 64, bands: int = 16, shingle_k: int = 5,
                   seed: int = DEFAULT_SEED) -> DataFrame:
    """(id, sig, band, band_key): the banded MinHash signature relation —
    the join-ready LSH index. Shared by the one-shot self-join
    (minhash_lsh_pairs) and the persisted incremental index
    (persist_minhash_index / incremental_minhash_pairs)."""
    assert num_perm % bands == 0
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_k, seed)
    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    return sigs.select("id", "sig", "sk0", "sk1", "sk2", "sk3",
                       band_idx).withColumn(
        "band_key",
        F.xxhash64(
            F.col("band"),
            F.slice(F.col("sig"), F.col("band") * rows_per_band + 1, rows_per_band),
        ),
    ).withColumn(
        # MinHash values are < P = 2^31 - 1 by construction, so the carried
        # copy fits int32 losslessly — halves the banded exchange payload
        # and the join-output row width (r08, guide §2.3 "narrower types").
        # band_key is computed ABOVE from the int64 form so the candidate
        # key space (and hence the oracle-matched pair set) is bit-
        # identical to r07; est equality over int32 equals int64 equality.
        "sig", F.col("sig").cast("array<int>")
    )


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_perm: int = 64, bands: int = 16,
                      shingle_k: int = 5, threshold: float = 0.7,
                      seed: int = DEFAULT_SEED,
                      max_bucket: int | None = None) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, est_jaccard >= threshold).

    est_jaccard = fraction of equal MinHash values across the full
    signature — an unbiased Jaccard estimator. Banding: signatures split
    into ``bands`` rows-per-band groups; pairs agreeing on any whole band
    become candidates (classic LSH S-curve).

    Shuffle-payload note (round-3 measured trade-off): carrying both
    signatures through the band join costs 2x the shuffle bytes but lets
    ReuseExchange compute the signature stage ONCE (both join sides are the
    identical subplan). The id-only variant suggested by the r02 review was
    implemented and benchmarked: re-fetching sig_b per candidate breaks
    exchange reuse, so the Arrow signature stage ran 3x and the query went
    3.3s -> 8-16s at sf0.1 — reverted. ``max_bucket`` (off by default — the
    contract oracle recomputes the uncapped semantics) bounds hot-bucket
    pair blowup via cap_bucket_size."""
    banded = minhash_banded(df, id_col, text_col, num_perm, bands,
                            shingle_k, seed)
    cand = band_pairs(banded, "band_key", _MINHASH_CARRY, max_bucket)
    return _est_filtered_pairs(cand, threshold, num_perm)


def _est_jaccard(num_perm: int | None = None) -> Column:
    """Unbiased Jaccard estimator over the two carried signatures.

    Form note (r08 measured): the zip_with/filter/size form IS the fast
    one — an unrolled flat sum of 64 F.get comparisons was tried and ran
    8x SLOWER (the 64-term null-propagating Add chain defeats codegen),
    so don't "optimize" this into a fold. num_perm is accepted for parity
    with the callers' geometry but the dynamic form works for any
    length."""
    return (
        F.size(
            F.filter(
                F.zip_with(F.col("sig_a"), F.col("sig_b"),
                           lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.size(F.col("sig_a"))
    )


def _est_filtered_pairs(cand: DataFrame, threshold: float,
                        num_perm: int | None = None) -> DataFrame:
    """Estimate, threshold-filter, THEN dedup the (id_a, id_b) pair key.

    Ordering rationale (r08 measurement, guide §2.3 "shuffle fewer
    bytes"): the band self-join emits one candidate row PER SHARED BAND,
    each carrying both full signatures (2 x num_perm longs ~ 1 KB). A
    hot band (sf1.0: max bucket 1823 members -> 21.7M candidate rows)
    made the old dedup-first order shuffle ~20 GB of signature payload
    through the dropDuplicates exchange. est_jaccard is a pure function
    of (sig_a, sig_b), which are themselves functional in (id_a, id_b),
    so every duplicate copy of a pair carries the SAME estimate —
    filter∘dedup ≡ dedup∘filter — and the estimator+filter run map-side
    in the join stage. The dedup exchange then carries only the
    surviving (id_a, id_b, est) triples.

    Sketch prefilter (r08, guide §2.5 — the hot-band straggler fix):
    when the candidate relation carries the packed 4-bit sketches
    (sk0..sk3 from minhash_signatures) and num_perm <= 64, a SOUND
    necessary condition runs first: position j can only have
    sig_a[j] = sig_b[j] if all four sketch bits agree there, so
    agreements := num_perm - bit_count((sk0_a^sk0_b) | (sk1_a^sk1_b)
    | (sk2_a^sk2_b) | (sk3_a^sk3_b)) >= true match count m.
    est >= threshold needs m >= need (the smallest integer with
    m/num_perm >= threshold under the same double division the
    estimator uses), so agreements < need proves est <
    threshold and the pair is dropped WITHOUT touching the arrays.
    bit_count/xor are codegen-native (~ns) while the exact zip_with
    estimator is interpreted (~7us/pair measured) — at sf1.0 this cuts
    the 21.4M-candidate est stage from 153 CPU-s to the ~0.3% of pairs
    whose random sketch agreement clears the bound (a non-matching
    position agrees with p = 1/16). No false negatives: the result set
    is bit-identical, the exact estimator still decides survivors."""
    pre = cand
    if (num_perm is not None and num_perm <= 64
            and "sk0_a" in cand.columns):
        need = next(
            (m for m in range(num_perm + 1) if m / num_perm >= threshold),
            num_perm + 1,
        )
        disagree = reduce(
            lambda x, y: x.bitwiseOR(y),
            [F.col(f"sk{i}_a").bitwiseXOR(F.col(f"sk{i}_b"))
             for i in range(4)],
        )
        agreements = F.lit(num_perm) - F.bit_count(disagree)
        pre = cand.filter(agreements >= F.lit(need))
    return (
        pre.withColumn("est_jaccard", _est_jaccard(num_perm))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
        .dropDuplicates(["id_a", "id_b"])
    )


def persist_minhash_index(df: DataFrame, table: str, id_col: str,
                          text_col: str, num_perm: int = 64, bands: int = 16,
                          shingle_k: int = 5, seed: int = DEFAULT_SEED,
                          n_buckets: int = 64) -> None:
    """Persist the banded signature relation as a table BUCKETED BY
    band_key — the layout a 100 TB rolling-ingest dedup actually runs
    against: the corpus-side shuffle for every future incremental near-dup
    join is paid ONCE here at write time. Each new-docs batch then joins
    with zero exchange on the corpus side (only the small new side
    shuffles to the bucket partitioning); re-banding the whole corpus per
    batch — the reference's per-batch master re-read pattern
    (issuer_processor_v.py:244-258) — is amortized into the layout."""
    banded = minhash_banded(df, id_col, text_col, num_perm, bands,
                            shingle_k, seed)
    _persist_banded(banded, table, "band_key", dict(
        num_perm=num_perm, bands=bands, shingle_k=shingle_k, seed=seed,
    ), n_buckets)


def _persist_banded(banded: DataFrame, table: str, key: str, params: dict,
                    n_buckets: int) -> None:
    """Write an ALREADY-BANDED relation as the index bucketed by ``key``
    and stamp its geometry — the banded-level half of persist_*_index,
    shared with novelty_ingest_batch (which bands once and reuses the
    relation)."""
    from cheque_ocr_project_spark.sources.io import write_bucketed

    write_bucketed(banded, table, [key], n_buckets=n_buckets)
    _set_index_params(banded.sparkSession, table, params)


def _set_index_params(spark, table: str, params: dict) -> None:
    """Persist the banding parameters AS TABLE PROPERTIES: a probe with
    different parameters would band into a different key geometry and the
    join would silently return near-empty results — the mismatch must be
    loud, not empty."""
    kv = ", ".join(f"'lsh.{k}'='{v}'" for k, v in params.items())
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ({kv})")


def _check_index_params(spark, table: str, params: dict) -> None:
    """Every expected ``lsh.*`` property must be PRESENT and EQUAL. A
    missing property is as loud as a mismatched one (ADVICE r05): a table
    that never had its parameters stamped — ALTER TABLE failed, or it was
    written via write_bucketed directly — gives no evidence its geometry
    matches the probe, and a silent pass there is exactly the
    silently-near-empty join the stamp exists to prevent."""
    rows = spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    stored = {r["key"]: r["value"] for r in rows}
    missing = [k for k in params if f"lsh.{k}" not in stored]
    if missing:
        raise ValueError(
            f"index {table} has no stored 'lsh.*' parameters for "
            f"{missing} — the table was never stamped by "
            "persist_minhash_index/_set_index_params, so its banding "
            "geometry cannot be verified; re-persist the index through "
            "persist_*_index"
        )
    bad = {
        k: (stored[f"lsh.{k}"], str(v))
        for k, v in params.items()
        if stored[f"lsh.{k}"] != str(v)
    }
    if bad:
        raise ValueError(
            f"index {table} was persisted with different LSH parameters "
            f"than this probe (stored vs probe): {bad} — re-persist the "
            "index or probe with the stored parameters"
        )


def _delta_table(table: str) -> str:
    """Side relation holding banded rows of batches appended since the
    last compaction (the LSM-ish 'memtable' of the persisted index)."""
    return f"{table}__delta"


def incremental_minhash_candidates(spark, new_docs: DataFrame, table: str,
                                   id_col: str, text_col: str,
                                   num_perm: int = 64, bands: int = 16,
                                   shingle_k: int = 5,
                                   seed: int = DEFAULT_SEED) -> DataFrame:
    """(id_a=new, id_b=corpus, sig_a, sig_b, sketches) band-mate
    candidates of a new batch against the persisted index (see
    probe_index)."""
    _check_index_params(spark, table, dict(
        num_perm=num_perm, bands=bands, shingle_k=shingle_k, seed=seed))
    new_banded = minhash_banded(
        new_docs, id_col, text_col, num_perm, bands, shingle_k, seed
    )
    return probe_index(spark, new_banded, table, "band_key", _MINHASH_CARRY)


def _index_tables(spark, table: str, banded: DataFrame) -> list[str]:
    """The relations of a persisted index — the bucketed base, plus the
    delta side table when batches were appended since the last
    compaction — each checked on its own against ``banded``'s columns:
    the schema IS the index format, so a relation written by an older
    format (e.g. before the MinHash sketch columns) fails here with a
    re-persist instruction instead of a raw analysis error in the join."""
    delta = _delta_table(table)
    tables = [table] + ([delta] if spark.catalog.tableExists(delta) else [])
    want = {(f.name, f.dataType.simpleString()) for f in banded.schema}
    for t in tables:
        have = {(f.name, f.dataType.simpleString())
                for f in spark.table(t).schema}
        if have != want:
            raise ValueError(
                f"index table {t} has a different format than this batch "
                f"(missing {sorted(want - have)}, unexpected "
                f"{sorted(have - want)}) — re-persist the index through "
                "persist_*_index"
            )
    return tables


def probe_index(spark, probe_banded: DataFrame, table: str, key: str,
                carry) -> DataFrame:
    """(key, id_a, c_a..., id_b, c_b...) band-mate candidates of an
    ALREADY-BANDED probe relation against a persisted index: id_a = probe
    id, id_b = indexed id, ``carry`` columns suffixed per side. The index
    scan reads bucket-aligned, so the sort-merge join needs NO exchange
    on the index side. Parameter checking is the caller's job (the
    banded relation carries no geometry to verify); the format check is
    done here (_index_tables).

    If un-compacted appended batches exist (the delta side table), the
    probe ALSO joins the delta — as a SECOND join unioned after, never a
    union below the join: a union's output partitioning is unknown, so
    unioning the relations first would force an index-side exchange and
    destroy exactly the zero-exchange property the bucketed layout paid
    for. The delta is small by contract (compact_index folds it in)."""
    tables = _index_tables(spark, table, probe_banded)
    probe = _pair_side(probe_banded, key, carry, "a")
    return reduce(DataFrame.unionByName, [
        probe.join(_pair_side(spark.table(t), key, carry, "b"), key)
        .filter(F.col("id_a") != F.col("id_b"))
        for t in tables
    ])


def incremental_minhash_pairs(spark, new_docs: DataFrame, table: str,
                              id_col: str, text_col: str,
                              num_perm: int = 64, bands: int = 16,
                              shingle_k: int = 5, threshold: float = 0.7,
                              seed: int = DEFAULT_SEED) -> DataFrame:
    """Near-dup pairs (new batch x persisted corpus index) — the
    incremental form of minhash_lsh_pairs for rolling ingest. Same
    estimator, same threshold semantics; pair identity is (new id,
    corpus id)."""
    cand = incremental_minhash_candidates(
        spark, new_docs, table, id_col, text_col, num_perm, bands,
        shingle_k, seed,
    )
    return _est_filtered_pairs(cand, threshold, num_perm)


# ---------------------------------------------------------------------------
# Rolling-ingest index maintenance (VERDICT r05 #5). write_bucketed
# correctly refuses append (a second file per bucket breaks the
# sort-elision invariant, SPARK-28632), and LSH band keys are
# hash-uniform, so ANY batch touches essentially every bucket — a
# "rewrite only touched buckets" append degenerates to a full rewrite.
# The scale-honest design is therefore LSM-shaped: appended batches land
# in an unbucketed DELTA side table (cheap, append-only); probes join the
# bucketed index exchange-free AND the small delta; compact_index
# periodically folds the delta back into the bucketed layout in one
# corpus-wide shuffle, amortized over the batches in between. Reference
# analog: the per-batch master re-read + re-group of
# issuer_processor_v.py:244-258, amortized into a layout.
# ---------------------------------------------------------------------------


def append_to_minhash_index(spark, new_docs: DataFrame, table: str,
                            id_col: str, text_col: str, num_perm: int = 64,
                            bands: int = 16, shingle_k: int = 5,
                            seed: int = DEFAULT_SEED) -> None:
    """Band a new batch with the INDEX's parameters (guard is as loud as
    the probe's — appending rows banded under a different geometry would
    poison the index silently) and append it to the delta side table.
    Caller contract: ids not already in the index (same contract as the
    probe's pair identity). Runs crash recovery first so an append never
    lands in a delta that a crashed compaction already folded (the
    roll-forward would otherwise drop the fresh rows with the stale
    ones)."""
    _recover_crashed_compaction(spark, table)
    _check_index_params(spark, table, dict(
        num_perm=num_perm, bands=bands, shingle_k=shingle_k, seed=seed))
    banded = minhash_banded(new_docs, id_col, text_col, num_perm, bands,
                            shingle_k, seed)
    _append_banded(spark, banded, table)


def _append_banded(spark, banded: DataFrame, table: str) -> None:
    """Append an ALREADY-BANDED relation to the delta side table —
    shared by both append_to_*_index and novelty_ingest_batch (recovery
    + geometry checks are the caller's job at the banded level; the
    base's and an existing delta's format are checked here)."""
    _index_tables(spark, table, banded)
    banded.write.format("parquet").mode("append").saveAsTable(
        _delta_table(table))


def novelty_ingest_batch(spark, batch_df: DataFrame, table: str,
                         id_col: str, text_col: str, num_perm: int = 64,
                         bands: int = 16, shingle_k: int = 5,
                         threshold: float = 0.5, seed: int = DEFAULT_SEED,
                         n_buckets: int = 8) -> DataFrame:
    """ONE ingest step of the sequential novelty filter — the single
    shared implementation behind the batch (plans.q_minhash_novelty)
    and streaming (streaming.stream_novelty) twins, so the drop rule
    cannot drift between them. Bands the batch EXACTLY ONCE (the
    banded relation is materialized to a scratch parquet and reused by
    the self-join, the index probe, and the index append — the round-3
    measurement in minhash_lsh_pairs' docstring showed re-running the
    Arrow signature stage 3x triples the cost), folds the batch into
    the index (persisting the bucketed layout on the first batch), and
    returns the batch's DROPPED-id relation (one column, ``id_col``);
    the caller anti-joins for the novel rows.

    Drop rule — order-independent and replay-safe by construction:
    - a batch doc drops when a band-mate with est_jaccard >= threshold
      has a SMALLER id (within-batch self-join: drop id_b);
    - a batch doc drops when the index/delta probe finds a smaller-id
      match (cross: drop id_a ONLY when id_a > id_b).
    Because the batch is appended BEFORE the returned plan is
    materialized, the probe sees the batch's own rows — self-pairs
    have equal ids (no drop) and mirror pairs reduce to the
    within-batch rule; rows from batches appended LATER (larger ids)
    can never drop earlier docs through the guard. The same property
    makes an at-least-once REPLAY (foreachBatch redelivery after a
    crash between the append and the checkpoint commit) emit
    bit-identical verdicts: duplicate index rows are harmless to pair
    identity (the candidate join dedups on (id_a, id_b))."""
    from cheque_ocr_project_spark.sources import scratch

    params = dict(num_perm=num_perm, bands=bands, shingle_k=shingle_k,
                  seed=seed)
    _recover_crashed_compaction(spark, table)
    # bounded scratch: sweep stale banded stages from prior runs
    scratch.sweep("novelty_banded_")
    stage = scratch.mkdtemp("novelty_banded_")
    minhash_banded(
        batch_df, id_col, text_col, num_perm, bands, shingle_k, seed
    ).write.mode("overwrite").parquet(stage)      # THE one banding action
    bd = spark.read.parquet(stage)

    within_cand = band_pairs(bd, "band_key", _MINHASH_CARRY)
    dropped = _est_filtered_pairs(within_cand, threshold, num_perm).select(
        F.col("id_b").alias(id_col)
    )
    if spark.catalog.tableExists(table):
        _check_index_params(spark, table, params)
        cross_cand = probe_index(spark, bd, table, "band_key",
                                 _MINHASH_CARRY)
        cross = _est_filtered_pairs(cross_cand, threshold, num_perm)
        dropped = dropped.unionByName(
            cross.filter(F.col("id_a") > F.col("id_b"))
            .select(F.col("id_a").alias(id_col))
        )
        _append_banded(spark, bd, table)
    else:
        _persist_banded(bd, table, "band_key", params, n_buckets)
    return dropped.distinct()


def append_to_simhash_index(spark, new_docs: DataFrame, table: str,
                            id_col: str, text_col: str,
                            max_hamming: int = 3) -> None:
    """SimHash twin of append_to_minhash_index."""
    _recover_crashed_compaction(spark, table)
    _check_index_params(spark, table, dict(max_hamming=max_hamming))
    _append_banded(spark, simhash_banded(new_docs, id_col, text_col,
                                         max_hamming), table)


def _table_bucket_spec(spark, table: str) -> tuple[list[str], int]:
    """(bucket columns, bucket count) from the catalog — the metadata is
    authoritative; a stamped copy could drift from the actual layout."""
    import re as _re

    rows = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect()
    }
    cols_raw = rows.get("Bucket Columns", "")
    keys = _re.findall(r"`([^`]+)`", cols_raw)
    n = rows.get("Num Buckets", "")
    if not keys or not n.strip().isdigit():
        raise ValueError(
            f"{table} is not a bucketed table (Bucket Columns={cols_raw!r}, "
            f"Num Buckets={n!r}); compact_index only maintains indexes "
            "persisted through persist_*_index"
        )
    return keys, int(n)


def _recover_crashed_compaction(spark, table: str) -> None:
    """Entry-time recovery for a compaction that died mid-swap. The swap
    is RENAME table→old; RENAME tmp→table, with tmp fully written and
    stamped beforehand, so every crash point is distinguishable from the
    catalog:

    - ``old`` exists AND ``table`` missing → crash BETWEEN the renames:
      roll BACK (old→table). The pre-compaction state (table + delta) is
      intact, so the rerun simply folds again — no duplicate rows.
    - ``old`` exists AND ``table`` exists → crash AFTER the swap, before
      cleanup: the delta was already folded into the live table, so
      finish the roll-forward by dropping the (now duplicated) delta and
      the old layout.
    - Stray ``__compact``/``__old`` warehouse DIRECTORIES with no catalog
      entry (a dead SESSION's leftovers — the in-memory catalog forgets,
      the filesystem doesn't) are cleared through the Hadoop FS API;
      plain DROP TABLE IF EXISTS would leave them to wedge the next
      write_bucketed/RENAME with LOCATION_ALREADY_EXISTS."""
    from cheque_ocr_project_spark.sources.io import drop_table_and_location

    tmp, old = f"{table}__compact", f"{table}__old"
    if spark.catalog.tableExists(old):
        if spark.catalog.tableExists(table):
            drop_table_and_location(spark, _delta_table(table))
            drop_table_and_location(spark, old)
        else:
            # ADVICE r07: an orphaned BASE-table warehouse directory (a
            # dead session's leftover — filesystem exists, catalog does
            # not) would wedge this rename with LOCATION_ALREADY_EXISTS.
            # The catalog has no entry for `table` on this branch, so
            # clearing the directory is safe and uses the same Hadoop-FS
            # path as drop_table_and_location.
            wh = spark.conf.get("spark.sql.warehouse.dir")
            jvm = spark._jvm
            path = jvm.org.apache.hadoop.fs.Path(wh, table.lower())
            fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
            if fs.exists(path):
                fs.delete(path, True)
            spark.sql(f"ALTER TABLE {old} RENAME TO {table}")
    # clear stray catalog entries AND orphaned directories (no-ops when
    # neither exists; old's directory has MOVED if the roll-back ran)
    drop_table_and_location(spark, tmp)
    drop_table_and_location(spark, old)


def compact_index(spark, table: str) -> None:
    """Fold the delta side table back into the bucketed index: ONE
    corpus-wide shuffle (the same cost persist paid once), after which
    probes are exchange-free on the whole corpus again. Works for any
    persist_*_index table — bucket spec comes from the catalog, LSH
    parameters are carried over from the stored table properties.
    Crash-safe: the new layout is fully written and stamped under a temp
    name before the swap, and _recover_crashed_compaction rolls a prior
    crashed run back (swap incomplete) or forward (swap complete, cleanup
    unfinished) on entry, clearing orphaned tmp/old locations."""
    _recover_crashed_compaction(spark, table)
    stored = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    params = {k[4:]: v for k, v in stored.items() if k.startswith("lsh.")}
    if not params:
        raise ValueError(
            f"index {table} has no stored 'lsh.*' parameters — it was "
            "never persisted through persist_*_index; refusing to compact "
            "an unverifiable layout"
        )
    keys, n_buckets = _table_bucket_spec(spark, table)
    delta = _delta_table(table)
    if not spark.catalog.tableExists(delta):
        return  # nothing appended since the last compaction
    from cheque_ocr_project_spark.sources.io import (
        drop_table_and_location, write_bucketed,
    )

    cols = spark.table(table).columns
    merged = spark.table(table).select(cols).unionByName(
        spark.table(delta).select(cols)
    )
    tmp, old = f"{table}__compact", f"{table}__old"
    write_bucketed(merged, tmp, keys, n_buckets=n_buckets)
    _set_index_params(spark, tmp, params)
    spark.sql(f"ALTER TABLE {table} RENAME TO {old}")
    spark.sql(f"ALTER TABLE {tmp} RENAME TO {table}")
    # delta BEFORE old: if we die between these, recovery sees table+old
    # and knows the swap completed (delta may or may not remain — both
    # drops are idempotent there)
    drop_table_and_location(spark, delta)
    drop_table_and_location(spark, old)


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """id → 62-bit SimHash over whitespace tokens (numpy over the batch)."""
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ])

    def batches(pdf_iter):
        bit_idx = np.arange(SIMHASH_BITS, dtype=np.uint64)
        bit_weights = (np.uint64(1) << bit_idx).astype(np.int64)
        for pdf in pdf_iter:
            row_tokens = [
                [w for w in _WS_RE.split(
                    (t if isinstance(t, str) else "").upper()) if w]
                for t in pdf[text_col]
            ]
            counts = np.fromiter(
                (len(ts) for ts in row_tokens), dtype=np.int64,
                count=len(row_tokens),
            )
            flat = [tok for ts in row_tokens for tok in ts]
            if flat:
                h1 = _mod_p(batch_polyhash(flat, 7) * SIMHASH_MIX1)
                h2 = _mod_p(batch_polyhash(flat, 11) * SIMHASH_MIX2)
                h64 = (h1 << np.int64(31)) + h2
                bits = ((h64[:, None].astype(np.uint64) >> bit_idx[None, :])
                        & np.uint64(1)).astype(np.int64)
                seg = np.concatenate(([0], np.cumsum(counts)[:-1]))
                # segmented sum; empty rows occupy no token rows, so the
                # nonzero rows' segments stay contiguous and reduceat over
                # their start offsets is exact
                nz = counts > 0
                ones = np.zeros((len(row_tokens), SIMHASH_BITS), dtype=np.int64)
                if nz.any():
                    ones[nz] = np.add.reduceat(bits, seg[nz], axis=0)
                # majority vote: 2*ones > n_tokens  (empty rows stay all-zero)
                majority = (2 * ones) > counts[:, None]
                sims = (majority * bit_weights[None, :]).sum(axis=1)
            else:
                sims = np.zeros(len(row_tokens), dtype=np.int64)
            yield pd.DataFrame({"id": pdf[id_col].values, "simhash": sims})

    src = par(df.select(F.col(id_col), F.col(text_col)))
    return src.mapInPandas(batches, schema=schema)


def simhash_chunking(max_hamming: int) -> tuple[int, int]:
    """(n_chunks, chunk_width_bits) for the pigeonhole banding: chunks must
    cover all SIMHASH_BITS and outnumber the allowed bit flips."""
    assert max_hamming >= 0
    n_chunks = max_hamming + 1
    width = -(-SIMHASH_BITS // n_chunks)  # ceil
    return n_chunks, width


def simhash_banded(df: DataFrame, id_col: str, text_col: str,
                   max_hamming: int = 3) -> DataFrame:
    """(id, simhash, chunk, chunk_key): the chunk-banded SimHash relation
    — shared by the one-shot self-join (simhash_pairs) and the persisted
    incremental index (persist_simhash_index)."""
    n_chunks, width = simhash_chunking(max_hamming)
    mask = (1 << width) - 1
    sigs = simhash_signatures(df, id_col, text_col)
    chunk = F.explode(F.sequence(F.lit(0), F.lit(n_chunks - 1))).alias("chunk")
    return sigs.select("id", "simhash", chunk).withColumn(
        "chunk_key",
        F.concat_ws(
            ":",
            F.col("chunk"),
            F.expr(f"shiftrightunsigned(simhash, chunk * {width}) & {mask}"),
        ),
    )


def persist_simhash_index(df: DataFrame, table: str, id_col: str,
                          text_col: str, max_hamming: int = 3,
                          n_buckets: int = 64) -> None:
    """SimHash twin of persist_minhash_index: the chunk-banded signature
    relation bucketed by chunk_key, so every future incremental batch
    joins the corpus with zero corpus-side exchange. The index is bound
    to its max_hamming (chunk widths derive from it) — probe with the
    same value."""
    _persist_banded(simhash_banded(df, id_col, text_col, max_hamming),
                    table, "chunk_key", dict(max_hamming=max_hamming),
                    n_buckets)


def incremental_simhash_pairs(spark, new_docs: DataFrame, table: str,
                              id_col: str, text_col: str,
                              max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs (new batch x persisted SimHash index): id_a = new
    id, id_b = corpus id, Hamming <= max_hamming. The probe's
    max_hamming must equal the persisted index's (chunk widths derive
    from it) — validated against the stored table properties, because a
    mismatch would band into a different key geometry and silently
    return near-empty results."""
    _check_index_params(spark, table, dict(max_hamming=max_hamming))
    new_banded = simhash_banded(new_docs, id_col, text_col, max_hamming)
    return _hamming_filtered_pairs(
        probe_index(spark, new_banded, table, "chunk_key", ("simhash",)),
        max_hamming)


def _hamming_filtered_pairs(cand: DataFrame, max_hamming: int) -> DataFrame:
    """Hamming-filter THEN dedup the pair key — same ordering argument as
    _est_filtered_pairs: hamming is a pure function of (simhash_a,
    simhash_b), functional in (id_a, id_b), so the filter commutes with
    the dedup and the dropDuplicates exchange carries only surviving
    pairs instead of one row per shared chunk."""
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  max_hamming: int = 3,
                  max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming.

    Banding by bit chunks: ``n_chunks = max_hamming + 1`` chunks of
    ``ceil(62 / n_chunks)`` bits cover the signature, so any pair within
    the distance bound agrees on at least one whole chunk (pigeonhole) and
    the join only meets same-chunk rows. The chunk width is DERIVED from
    max_hamming — the recall guarantee can never silently break.
    ``max_bucket`` (off by default) bounds hot-chunk pair blowup via
    cap_bucket_size; the 8-byte signature rides both join sides (unlike
    MinHash there is no wide payload to trim)."""
    cand = band_pairs(simhash_banded(df, id_col, text_col, max_hamming),
                      "chunk_key", ("simhash",), max_bucket)
    return _hamming_filtered_pairs(cand, max_hamming)


def winnowing_fingerprints(df: DataFrame, id_col: str, text_col: str,
                           k: int = 8, window: int = 8) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken MOSS
    scheme, value-dedup variant): polyhash every k-gram, slide a window of
    ``window`` consecutive hashes, keep each window's minimum, emit the
    document's DISTINCT selected hashes as (id, fp) rows. Guarantees any
    shared substring of length >= k + window - 1 produces a shared
    fingerprint. Exact integer spec — the DuckDB oracle recomputes it."""
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("fp", T.LongType()),
    ])

    def batches(pdf_iter):
        for pdf in pdf_iter:
            texts = list(pdf[text_col])
            hashes, row_lens = _batch_shingle_hashes(texts, k)
            seg = np.concatenate(([0], np.cumsum(row_lens)[:-1]))
            ids, fps = [], []
            for i, rid in enumerate(pdf[id_col]):
                h = hashes[seg[i]:seg[i] + row_lens[i]]
                if len(h) <= window:
                    sel = {int(h.min())}
                else:
                    m = h.copy()
                    for j in range(1, window):  # sliding min: w vector ops
                        m = np.minimum(m[:-1], h[j:j + len(m) - 1])
                    sel = set(map(int, np.unique(m)))
                ids.extend([rid] * len(sel))
                fps.extend(sorted(sel))
            yield pd.DataFrame({"id": ids, "fp": fps})

    src = par(df.select(F.col(id_col), F.col(text_col)))
    return src.mapInPandas(batches, schema=schema)


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b", max_iter: int = 25,
                         checkpoint_dir: str | None = None) -> DataFrame:
    """(node, component) over the near-dup pair graph; component = min
    reachable node id — the canonical "keep one document per duplicate
    cluster" primitive.

    Iterative min-label propagation (GraphX-style) with POINTER DOUBLING:
    each round joins labels to the symmetric edge list, takes the per-node
    min, then shortcuts every label through its own target
    (comp := min(comp, comp[comp]); the Shiloach-Vishkin trick), so a
    component of diameter D converges in O(log D) rounds instead of D —
    chain-shaped near-dup clusters (doc -> copy -> copy-of-copy ...)
    otherwise force one round per hop (measured: 17 rounds -> 5 on the
    sf0.1 corpus, 7.1s -> ~2.5s). Lineage is truncated per round so the
    plan does not grow with the iteration count — with
    ``checkpoint_dir`` set, via RELIABLE ``df.checkpoint()`` to that
    directory (survives executor loss — the right mode on a cluster);
    otherwise via ``localCheckpoint`` (executor-lifetime blocks; fine on
    local mode, lost executors mean lost lineage on a real cluster).
    Deterministic: the fixpoint is min-reachable-id regardless of the
    iteration schedule; raises if max_iter rounds do not converge."""
    if checkpoint_dir is not None:
        pairs.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges = pairs.select(
        F.col(id_a).alias("src"), F.col(id_b).alias("dst")
    )
    edges = _truncate(
        edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates(["src", "dst"])
    )

    labels = _truncate(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    for _ in range(max_iter):
        prop = edges.join(
            labels, edges["src"] == labels["node"]
        ).select(F.col("dst").alias("node"), F.col("comp"))
        hop = (
            prop.unionByName(labels)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # pointer doubling: comp := min(comp, comp[comp]). comp is always a
        # node id within the same component, so the self-join below always
        # finds its row and the min-reachable-id fixpoint is unchanged.
        # (renamed columns, not aliases: a self-join of the same complex
        # lineage with .alias() hits ambiguous attribute rewriting)
        target = hop.select(
            F.col("node").alias("t_node"), F.col("comp").alias("t_comp")
        )
        new_labels = _truncate(
            hop.join(target, hop["comp"] == target["t_node"]).select(
                "node",
                F.least(F.col("comp"), F.col("t_comp")).alias("comp"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def char_ngrams(col: Column, n: int = 3) -> Column:
    """Distinct character n-grams as a native array expression."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(col) - (n - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.substr(col, i, F.lit(n)))
    )


def ngram_jaccard(col_a: Column, col_b: Column, n: int = 3) -> Column:
    """Exact Jaccard over distinct char n-grams, as native expressions."""
    ga, gb = char_ngrams(col_a, n), char_ngrams(col_b, n)
    inter = F.size(F.array_intersect(ga, gb))
    union = F.size(F.array_union(ga, gb))
    return F.round(F.try_divide(inter, union), 6)
