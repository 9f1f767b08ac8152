"""W2/P11 try-all-keep-best: Spark greatest-over-structs == Python oracle."""

import pandas as pd

from cheque_ocr_project_spark.oracle import variants as V

CASES = [
    "PAY TO : GUPTA TRADERS\nRUPEES FIVE HUNDRED",
    "<div>PAY TO : <b>MEHTA STORES</b></div>\n<a href='x'>link</a>",
    "plain low\tsignal 123  text",
    "ALLCAPS LINE WITH NAME KUMAR",
    "",
    None,
    "a\n\nb\n  \nc",
    "<script>var x=1;</script>PAY : SHARMA BROTHERS",
]


def test_keep_best_variant_oracle_properties():
    r = V.keep_best_variant("PAY TO : GUPTA TRADERS")
    assert r["best_variant"] in V.VARIANT_NAMES
    assert 0.0 <= r["best_conf"] <= 1.0
    # empty text: no lines anywhere -> plain variant at 0.0, no payee
    r0 = V.keep_best_variant("")
    assert r0 == {"best_variant": "plain", "best_conf": 0.0, "payee_raw": None}


def test_spark_matches_oracle(spark, tmp_path):
    from cheque_ocr_project_spark.plans import flagship

    docs = spark.createDataFrame(
        [(i, t if t is not None else None, "en", "conv-x", len(t or ""))
         for i, t in enumerate(CASES)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "docs")
    docs.write.parquet(f"{path}/documents.parquet")
    got = {
        r.doc_id: r
        for r in flagship.q_variant_keep_best(spark, path).collect()
    }
    for i, t in enumerate(CASES):
        exp = V.keep_best_variant(t)
        assert got[i].best_variant == exp["best_variant"], (i, t)
        assert got[i].best_conf == exp["best_conf"], (i, t)
        assert got[i].payee_raw == exp["payee_raw"], (i, t)


def test_early_exit_prefers_first_high_conf_variant():
    # pure-alpha single line: conf = 1.0 >= 0.95 for every variant ->
    # the FIRST (plain) must win even though later variants tie
    r = V.keep_best_variant("PURELETTERS")
    assert r["best_variant"] == "plain"
    assert r["best_conf"] == 1.0
