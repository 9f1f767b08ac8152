"""Parity fuzz: oracle (Python re) vs native Column builders (Java regex)
on adversarial generated strings — the proof that promoting grammars to
native expressions preserved semantics beyond the curated fixture — and
the whole extraction pipeline vs oracle.turn on the same strings."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cheque_ocr_project_spark.functions import columns as C
from cheque_ocr_project_spark.oracle import cleaning, grammars, predicates
from tests.conftest import assert_frames_equal, oracle_frame

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
    from cheque_ocr_project_spark.plans.grammar import _payee_raw_col

    got = _spark_col(fuzz_sdf, _payee_raw_col(F.upper(F.coalesce(F.col("s"), F.lit("")))))
    exp = [grammars.extract_payee(s) for s in CASES]
    _compare(got, exp, "payee_extract")


# Unicode / whitespace edges beyond the ASCII fuzz alphabet.
UNICODE_CASES = [
    "FOR R\u00c9SUM\u00c9 TRADERS",   # unicode uppercase beyond ASCII
    "PAY TO \u0131STANBUL CO",         # dotless i (unicode upper edge)
    "\u00a0 NBSP LEADING", "TAB\tSEP", "A.B.C.D",
]

# role='tool' payloads (FIXTURES.md section 1): HTML main content wrapped in
# nav/script/footer boilerplate of varying link density, and PDF blobs with
# repeated page headers and page numbers.
_NAV = ('<div class="nav"><a href="/home">Home</a> '
        '<a href="/about">About</a></div>')
TOOL_CASES = [
    ("web_fetch", "\n".join([
        _NAV, "<script>var t = init();</script>",
        "<p>PAY TO : M/S SHARMA STEEL INDUSTRIES PVT LTD for the invoice "
        "settled this quarter</p>",
        "<p>FOR GUPTA TRADERS AUTHORISED SIGNATORY as per the mandate on "
        "record</p>",
        '<footer><a href="/terms">Terms</a> | <a href="/p">Privacy</a></footer>',
    ])),
    ("web_fetch", "\n".join([
        "<style>.x { color: #888; }</style>",
        '<p>Read <a href="/a">the full cheque scan archive listing</a> '
        "here</p>",
        "<div>DEMAND DRAFT PAYABLE AT PAR Rs. 1,25,000.00/- Date: "
        "23.02.2026</div>",
    ])),
    (None, "<p>GOVERNMENT ACCOUNT NOT TRANSFERABLE PAY AND ACCOUNTS "
           "OFFICE DDO</p>\n<p>ORDER OF KUMAR ENTERPRISES</p>"),
    ("pdf_extract", "\n".join([
        "QUARTERLY ACCOUNT STATEMENT",
        "FAVOUR OF 5HARMA 5TEEL 1NDUSTRIES as recorded in the ledger",
        "Page 1", "QUARTERLY ACCOUNT STATEMENT",
        "F/O AGGARWAL TRADING CO A/C No: 50200101786768",
        "Page 2", "QUARTERLY ACCOUNT STATEMENT",
        "123456789 987654321 400259",
    ])),
    ("pdf_extract", "HEADER\x0cHEADER\x0cHEADER\nBENEFICIARY: SHRI RAMESH "
                    "KUMAR\nPage 3"),
    ("pdf_extract", ""),
]


def test_classify_parity(fuzz_sdf):
    """Every RESULT_SCHEMA column of the extraction pipeline equals
    oracle.turn.extract_turn on the fuzz corpus, the unicode edges and the
    tool payloads, with the default dictionary so the fuzzy top-1 runs."""
    from cheque_ocr_project_spark.plans import pipeline as P
    from cheque_ocr_project_spark.sources.synth import default_drawer_dict

    rows = [("user", s, None) for s in CASES + UNICODE_CASES]
    rows += [("tool", text, tool) for tool, text in TOOL_CASES]
    pdf = pd.DataFrame({
        "conv_id": [str(i) for i in range(len(rows))],
        "turn_idx": range(len(rows)),
        "role": [r[0] for r in rows],
        "text": [r[1] for r in rows],
        "tool": [r[2] for r in rows],
    })
    spark = fuzz_sdf.sparkSession
    sdf = spark.createDataFrame(pdf).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    dd = default_drawer_dict()
    out = P.extract_pipeline(spark, sdf, dd).toPandas()
    assert_frames_equal(out, oracle_frame(pdf, dd), "fuzz")
