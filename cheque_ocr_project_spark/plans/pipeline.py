"""Flagship extraction, plus the native Column builders the registry
queries share.

``extract_pipeline`` maps transcripts(conv_id, turn_idx, role, text, tool,
ts) to one extraction record per turn in one Arrow-batched ``mapInPandas``
pass over the Python oracle (operators/extract.py).

The Catalyst builders below (plain main-content strip, officer
designation, government-entity rules, payee section and payee grammar)
are imported by the registry queries in plans/queries.py and
plans/queries_v3.py; each cites the oracle function it must equal.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cheque_ocr_project_spark.functions import columns as C
from cheque_ocr_project_spark.operators import extract as X
from cheque_ocr_project_spark.oracle import issuer as oracle_issuer
from cheque_ocr_project_spark.oracle import vocab

# --------------------------------------------------------------------------
# native column builders (oracle parity; imported by the registry queries)
# --------------------------------------------------------------------------

_COLLAPSE = lambda c: F.trim(F.regexp_replace(c, r"\s+", " "))  # noqa: E731

# Python str.strip() strips ALL whitespace; Spark trim() strips spaces only.
_PYSTRIP = lambda c: F.regexp_replace(c, r"^\s+|\s+$", "")  # noqa: E731


def _plain_main(text: Column) -> Column:
    """= oracle.boilerplate.extract_plain."""
    lines = F.filter(F.transform(F.split(text, "\n"), _COLLAPSE), lambda x: x != "")
    return F.array_join(lines, "\n")


def _designation_literal(u: Column) -> Column:
    """Rule-engine designation: literal list scanned in order
    (= oracle.govrules.extract_officer_designation)."""
    chain = None
    for d in vocab.OFFICER_DESIGNATIONS:
        chain = (
            F.when(u.contains(d), F.lit(d))
            if chain is None
            else chain.when(u.contains(d), F.lit(d))
        )
    return chain.otherwise(F.lit(None).cast("string"))


# Boolean-equivalent cheap forms of GOVT_PAYEE_PATTERNS (r08, guide §1.2
# per-task work): the hit is consumed ONLY as a boolean, so each
# `[A-Z\s]+WORD` pattern — whose greedy class prefix backtracks at every
# position — reduces to `[A-Z\s]WORD` (a match of either form contains a
# match of the other: the char immediately before WORD is in the class),
# and every pattern gets a literal contains() guard that short-circuits
# the regex for the vast majority of rows that lack the anchor word.
# Guards are pure prefilters (a regex match implies its literals occur);
# the regex stays authoritative.
_GOVT_PAYEE_BOOL_PATTERNS: tuple = (
    (("PAY", "GOVT"), r"PAY[:\s]*GOVT"),
    (("PAY", "GOVERNMENT"), r"PAY[:\s]*GOVERNMENT"),
    (("FAVOUR", "GOVT"), r"FAVOUR[:\s]*GOVT"),
    (("FAVOUR", "GOVERNMENT"), r"FAVOUR[:\s]*GOVERNMENT"),
    (("TO", "DEPARTMENT"), r"TO\s+THE\s+[A-Z\s]+DEPARTMENT"),
    (("BOARD",), r"[A-Z\s]BOARD"),
    (("MUNICIPALITY",), r"[A-Z\s]MUNICIPALITY"),
    (("COMMITTEE",), r"[A-Z\s]COMMITTEE"),
    (("AUTHORITY",), r"[A-Z\s]AUTHORITY"),
    (("TRUST",), r"[A-Z\s]TRUST"),
    (("CORPORATION",), r"[A-Z\s]CORPORATION"),
)


def _is_government_entity(x: Column) -> Column:
    """= oracle.govrules.is_government_entity (null/empty → False)."""
    u = F.upper(F.coalesce(x, F.lit("")))
    words = F.filter(F.split(u, r"\s+"), lambda w: w != "")
    pattern_hit = F.coalesce(
        reduce(
            lambda a, b: a | b,
            [C.any_term(u, guards) & u.rlike(rx)
             for guards, rx in _GOVT_PAYEE_BOOL_PATTERNS],
        ),
        F.lit(False),
    )
    # indicator contains-chain BEFORE the word-count split: & short-
    # circuits left-to-right, so rows without any indicator never pay the
    # split/filter/size allocation (same boolean).
    return (F.length(u) > 0) & (
        C.any_term(u, vocab.GOVT_ENTITIES)
        | pattern_hit
        | (C.any_term(u, vocab.GOVT_INDICATORS) & (F.size(words) <= 4))
    )


def _payee_section(u: Column) -> Column:
    """= oracle.grammars.extract_payee_section (first indicator, 200 chars)."""
    chain = None
    for ind in vocab.PAYEE_SECTION_INDICATORS:
        sect = F.substr(u, F.instr(u, ind) + len(ind), F.lit(200))
        chain = (
            F.when(u.contains(ind), sect)
            if chain is None
            else chain.when(u.contains(ind), sect)
        )
    return chain.otherwise(F.lit(None).cast("string"))


# Literal-prefix guard per PAYEE_PATTERN (pure prefilter, regex stays
# authoritative): every match of pattern i necessarily contains the literal,
# and contains() is ~10x cheaper than letting the backtracking scan run on
# rows that cannot match. None = no cheap guard (pattern 10 is ^-anchored —
# it fails on the first non-[A-Z\s.] char, no scan).
_PAYEE_GUARDS: tuple = (
    ("PAY",), ("ORDER",), ("PAY",), ("BEARER",), ("BEARER",),
    ("FAVOUR",), ("FAVOR",), ("BENEFICIARY",), ("RUPEES", "RS"), None,
)


def _payee_raw_col(u: Column) -> Column:
    """= oracle.grammars.extract_payee: 10 ordered patterns, first whose
    candidate is not bank/metadata wins.

    Array-HOF form, not a when-chain: the candidates go into one array and
    the bank/metadata gate lives in a single `filter` lambda, so its ~40-term
    tree is generated ONCE instead of once per pattern (10x smaller codegen
    method — the when-chain form was a janino 64KB-limit contributor)."""
    def hit(p: str, guards) -> Column:
        rx = u.rlike(p)
        if not guards:
            return rx
        g = C.any_term(u, guards)
        return g & rx

    cands = F.array(*[
        F.when(hit(p, g), _PYSTRIP(F.regexp_extract(u, p, 1)))
        for p, g in zip(vocab.PAYEE_PATTERNS, _PAYEE_GUARDS)
    ])
    sel = F.filter(cands, lambda c: c.isNotNull() & ~C.is_bank_or_metadata(c))
    return F.get(sel, 0)


# --------------------------------------------------------------------------
# flagship extraction
# --------------------------------------------------------------------------

def salted_repartition(df: DataFrame, num_partitions: int | None = None,
                       salt_buckets: int = 64) -> DataFrame:
    """Salted-hash repartition on conv_id: (conv_id, turn_idx % buckets).

    Long agent sessions (heavy-tailed conv sizes) split across up to
    ``salt_buckets`` tasks instead of pinning one; extraction is per-turn
    stateless so correctness is unaffected (SURVEY.md §4 item 1)."""
    salt = F.pmod(F.coalesce(F.col("turn_idx"), F.lit(0)), F.lit(salt_buckets))
    if num_partitions:
        return df.repartition(num_partitions, F.col("conv_id"), salt)
    return df.repartition(F.col("conv_id"), salt)


def extract_pipeline(spark: SparkSession, transcripts: DataFrame,
                     drawer_dict: list[str],
                     threshold: float = oracle_issuer.DEFAULT_THRESHOLD_V1,
                     salt_buckets: int | None = None,
                     engine: str = "arrow") -> DataFrame:
    """transcripts(conv_id, turn_idx, role, text, tool, ts) → extraction
    records (operators.extract.RESULT_SCHEMA), one row per turn.

    One Arrow-batched mapInPandas pass runs the oracle per record inside
    the batch, with a per-task fuzzy memo cache: the branchy reference
    grammars short-circuit per row, which per-row CPython exploits better
    than full-column evaluation. ``engine`` accepts only ``"arrow"``.
    Tested for per-turn equality against the pure-Python oracle
    (tests/test_pipeline_equality.py).
    """
    if engine != "arrow":
        raise ValueError(f"unknown engine {engine!r}: expected 'arrow'")
    if salt_buckets:
        transcripts = salted_repartition(transcripts, salt_buckets=salt_buckets)
    return X.extract_turns_udf(spark, transcripts, drawer_dict, threshold)


def ordered(df: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering via window-over-partition sort —
    row_number per conversation, NOT a global orderBy (north rule W3)."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("turn_rank", F.row_number().over(w))
