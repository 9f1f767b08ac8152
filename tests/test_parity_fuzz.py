"""Parity fuzz: oracle (Python re) vs native Column builders (Java regex)
on adversarial generated strings — the proof that promoting grammars to
native expressions preserved semantics beyond the curated fixture."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cheque_ocr_project_spark.functions import columns as C
from cheque_ocr_project_spark.oracle import cleaning, grammars, predicates

_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    " .,&/-|!@#$%^*()[]{}<>?;:'\"\\\n\t_+=~`"
)
_WORDS = [
    "PAY", "TO", "ORDER", "OF", "BEARER", "RUPEES", "RS.", "FOR", "F/O",
    "PROP", "M/S", "DR", "SHRI", "BANK", "HDFC", "SIGN", "AUTHORISED",
    "SIGNATORY", "GOVERNMENT", "ACCOUNT", "NOT", "TRANSFERABLE", "DDO",
    "PAO", "SELF", "DEMAND", "DRAFT", "A/C", "NO:", "CROSSED", "KUMAR",
    "SHARMA", "ENTERPRISES", "PVT", "LTD", "OOOO", "IIII", "Date:",
    "23.02.2026", "1,25,000.00/-", "123456789", "987654321", "400259",
    "NOTOVER", "XXX", "STEELNDUSTRIES", "&", "+", "@",
]


def _gen_strings(n: int, seed: int) -> list:
    rng = random.Random(seed)
    out = []
    for i in range(n):
        mode = i % 4
        if mode == 0:  # word salad from grammar-relevant tokens
            out.append(" ".join(rng.choices(_WORDS, k=rng.randint(1, 12))))
        elif mode == 1:  # raw char noise
            out.append("".join(rng.choices(_CHARS, k=rng.randint(0, 60))))
        elif mode == 2:  # mixed
            s = " ".join(rng.choices(_WORDS, k=rng.randint(1, 6)))
            pos = rng.randint(0, len(s))
            noise = "".join(rng.choices(_CHARS, k=rng.randint(1, 10)))
            out.append(s[:pos] + noise + s[pos:])
        else:  # multi-line
            out.append("\n".join(
                " ".join(rng.choices(_WORDS, k=rng.randint(1, 8)))
                for _ in range(rng.randint(1, 5))
            ))
    out += ["", " ", None, "XXX", "M/S", "A" * 200, "5HARMA 5TEEL"]
    return out


CASES = _gen_strings(400, seed=20260816)


@pytest.fixture(scope="module")
def fuzz_sdf(spark):
    pdf = pd.DataFrame({"i": range(len(CASES)), "s": CASES})
    return spark.createDataFrame(pdf).cache()


def _compare(spark_vals, oracle_vals, tag):
    bad = [
        (i, a, b)
        for i, (a, b) in enumerate(zip(spark_vals, oracle_vals))
        if not ((a is None and b is None) or (pd.isna(a) and b is None) or a == b)
    ]
    assert not bad, (
        f"{tag}: {len(bad)} divergences; first: case {bad[0][0]} "
        f"input={CASES[bad[0][0]]!r} spark={bad[0][1]!r} oracle={bad[0][2]!r}"
    )


def _spark_col(fuzz_sdf, col):
    return [
        r.v for r in fuzz_sdf.select(col.alias("v")).orderBy("i").collect()
    ]


def test_clean_text_v1_parity(fuzz_sdf):
    got = _spark_col(fuzz_sdf, C.clean_text_v1(F.col("s")))
    exp = [cleaning.clean_text_v1(s) for s in CASES]
    _compare(got, exp, "clean_text_v1")


def test_clean_text_v3_parity(fuzz_sdf):
    got = _spark_col(fuzz_sdf, C.clean_text_v3(F.col("s")))
    exp = [cleaning.clean_text_v3(s) for s in CASES]
    _compare(got, exp, "clean_text_v3")


def test_clean_payee_parity(fuzz_sdf):
    got = _spark_col(fuzz_sdf, C.clean_payee(F.col("s")))
    exp = [cleaning.clean_payee(s) for s in CASES]
    _compare(got, exp, "clean_payee")


def test_junk_garbage_parity(fuzz_sdf):
    got_junk = _spark_col(fuzz_sdf, C.is_junk_v1(F.col("s")))
    exp_junk = [predicates.is_junk_v1(s) for s in CASES]
    _compare(got_junk, exp_junk, "is_junk_v1")
    got_garb = _spark_col(fuzz_sdf, C.is_garbage(F.col("s")))
    exp_garb = [predicates.is_garbage(s) for s in CASES]
    _compare(got_garb, exp_garb, "is_garbage")


def test_payee_extract_parity(fuzz_sdf):
    from cheque_ocr_project_spark.plans.pipeline import _payee_raw_col

    got = _spark_col(fuzz_sdf, _payee_raw_col(F.upper(F.coalesce(F.col("s"), F.lit("")))))
    exp = [grammars.extract_payee(s) for s in CASES]
    _compare(got, exp, "payee_extract")


def test_classify_parity(fuzz_sdf):
    from cheque_ocr_project_spark.plans import pipeline as P

    pdf = pd.DataFrame({
        "conv_id": [str(i) for i in range(len(CASES))],
        "turn_idx": range(len(CASES)),
        "role": ["user"] * len(CASES),
        "text": CASES,
        "tool": [None] * len(CASES),
    })
    spark = fuzz_sdf.sparkSession
    sdf = spark.createDataFrame(pdf).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    out = (
        P.extract_pipeline(spark, sdf, [])
        .select("turn_idx", "cheque_type", "payee_rule")
        .orderBy("turn_idx")
        .collect()
    )
    from cheque_ocr_project_spark.oracle import payee

    for row in out:
        s = CASES[row.turn_idx]
        content = s or ""
        rec = payee.process_turn_payee(content)
        assert row.cheque_type == rec["cheque_type"], (
            f"classify diverged on {s!r}: {row.cheque_type} vs {rec['cheque_type']}"
        )
        assert row.payee_rule == rec["payee_rule"], f"payee_rule diverged on {s!r}"


# ---------------------------------------------------------------------------
# vectorized-engine Series twins vs oracle (pure pandas — no Spark needed)
# ---------------------------------------------------------------------------

def test_vectorized_series_twins_fuzz():
    """The pandas-Series predicate/cleaning twins used by engine='vectorized'
    must equal the oracle element-wise on the adversarial fuzz corpus —
    including the byte-level counting paths (unicode inputs go through
    clean_text_v1 first, matching the engine's usage contract)."""
    import pandas as pd

    from cheque_ocr_project_spark.operators import vectorized as V

    raw = pd.Series([c for c in CASES if c is not None] + [
        "FOR RÉSUMÉ TRADERS",   # unicode uppercase beyond ASCII
        "PAY TO ıSTANBUL CO",        # dotless i (unicode upper edge)
        "  NBSP LEADING", "TAB\tSEP", "A.B.C.D",
    ])

    # clean_text_v1 twin on RAW (possibly unicode) input
    got = V.clean_v1_series(raw)
    want = raw.map(lambda t: cleaning.clean_text_v1(t))
    for i, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"clean_v1[{i}]: {g!r} != {w!r} for {raw.iloc[i]!r}"

    cleaned = want  # engine contract: these twins run on cleaned text

    got = V.is_valid_drawer_v1_series(cleaned)
    want_v = cleaned.map(predicates.is_valid_drawer_v1)
    for i, (g, w) in enumerate(zip(got, want_v)):
        assert bool(g) == bool(w), (
            f"is_valid[{i}]: {g} != {w} for {cleaned.iloc[i]!r}"
        )

    got = V.is_garbage_series(cleaned)
    want_g = cleaned.map(predicates.is_garbage)
    for i, (g, w) in enumerate(zip(got, want_g)):
        assert bool(g) == bool(w), (
            f"garbage[{i}]: {g} != {w} for {cleaned.iloc[i]!r}"
        )

    got = V.looks_like_real_name_series(cleaned)
    want_l = cleaned.map(predicates.looks_like_real_name)
    for i, (g, w) in enumerate(zip(got, want_l)):
        assert bool(g) == bool(w), (
            f"looks[{i}]: {g} != {w} for {cleaned.iloc[i]!r}"
        )

    got = V.clean_payee_series(cleaned)
    want_p = cleaned.map(cleaning.clean_payee)
    for i, (g, w) in enumerate(zip(got, want_p)):
        assert g == w, f"clean_payee[{i}]: {g!r} != {w!r} for {cleaned.iloc[i]!r}"

    # payee extraction twin over UPPER full text (raw upper — the engine
    # applies it to ftu which may contain any charset)
    ftu = raw.fillna("").str.upper()
    got = V.payee_raw_series(ftu)
    want_x = ftu.map(grammars.extract_payee)
    for i, (g, w) in enumerate(zip(got, want_x)):
        ok = (pd.isna(g) and w is None) or g == w
        assert ok, f"payee[{i}]: {g!r} != {w!r} for {ftu.iloc[i]!r}"

    govt = V.is_government_entity_series(cleaned)
    from cheque_ocr_project_spark.oracle import govrules
    want_e = cleaned.map(govrules.is_government_entity)
    for i, (g, w) in enumerate(zip(govt, want_e)):
        assert bool(g) == bool(w), (
            f"govt[{i}]: {g} != {w} for {cleaned.iloc[i]!r}"
        )
