"""Parity over the reference's own golden output corpus.

The reference repo ships real production outputs
(F_23022026_010/summary_updated_results.txt: 873 filename→issuer rows,
ISSUER_NAMES_FINAL.txt: final cleaned names). We cannot replay the images
(no OCR here), but these strings are the real text distribution the
grammars face — so every oracle↔Spark pair is additionally proven equal
over them (realistic casing, OCR damage, bank noise, length extremes)."""

from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from cheque_ocr_project_spark.functions import columns as C
from cheque_ocr_project_spark.oracle import cleaning, grammars, predicates

GOLDEN = Path("/root/reference/F_23022026_010/summary_updated_results.txt")
FINAL = Path("/root/reference/F_23022026_010/ISSUER_NAMES_FINAL.txt")


def _load_corpus() -> list:
    out = []
    for path in (GOLDEN, FINAL):
        if not path.exists():
            continue
        for line in path.read_text(errors="replace").splitlines():
            if "\t" in line:
                name = line.split("\t", 1)[1]
                if name.strip():
                    out.append(name)
    return out


CORPUS = _load_corpus()
pytestmark = pytest.mark.skipif(not CORPUS, reason="reference corpus absent")


@pytest.fixture(scope="module")
def corpus_sdf(spark):
    pdf = pd.DataFrame({"i": range(len(CORPUS)), "s": CORPUS})
    return spark.createDataFrame(pdf).cache()


def _spark_vals(sdf, col):
    return [r.v for r in sdf.select(col.alias("v")).orderBy("i").collect()]


def _check(got, exp, tag):
    bad = [
        (i, a, b) for i, (a, b) in enumerate(zip(got, exp))
        if not ((a is None and b is None) or a == b)
    ]
    assert not bad, (
        f"{tag}: {len(bad)} divergences on the golden corpus; first: "
        f"input={CORPUS[bad[0][0]]!r} spark={bad[0][1]!r} oracle={bad[0][2]!r}"
    )


def test_corpus_loaded():
    assert len(CORPUS) > 800


def test_clean_text_v1_on_corpus(corpus_sdf):
    _check(
        _spark_vals(corpus_sdf, C.clean_text_v1(F.col("s"))),
        [cleaning.clean_text_v1(s) for s in CORPUS],
        "clean_text_v1",
    )


def test_clean_payee_on_corpus(corpus_sdf):
    _check(
        _spark_vals(corpus_sdf, C.clean_payee(F.col("s"))),
        [cleaning.clean_payee(s) for s in CORPUS],
        "clean_payee",
    )


def test_predicates_on_corpus(corpus_sdf):
    _check(
        _spark_vals(corpus_sdf, C.is_junk_v1(F.col("s"))),
        [predicates.is_junk_v1(s) for s in CORPUS],
        "is_junk_v1",
    )


def test_payee_grammar_on_corpus(corpus_sdf):
    from cheque_ocr_project_spark.plans.grammar import _payee_raw_col

    _check(
        _spark_vals(
            corpus_sdf, _payee_raw_col(F.upper(F.coalesce(F.col("s"), F.lit(""))))
        ),
        [grammars.extract_payee(s) for s in CORPUS],
        "payee_extract",
    )


def test_issuer_ai_oracle_runs_on_corpus():
    # per-string smoke of the staged grammar over the real distribution
    outs = [grammars.extract_issuer_text_ai(s) for s in CORPUS]
    named = [o for o in outs if o and o != "UNKNOWN"]
    assert len(named) > len(CORPUS) * 0.3
