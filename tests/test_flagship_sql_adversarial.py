"""The flagship SQL twins vs the Python oracle on the ADVERSARIAL synthetic
corpus (the driver-provided testdata is lorem-like and exercises almost no
government/MICR/payee/FOR branches — this test pushes the same cheque-like
texts used by the Spark equality suite through the DuckDB statements).

No Spark involved: synth texts → a documents-shaped DuckDB view → the
generated SQL → per-turn comparison against oracle.turn.extract_turn /
extract_turn_v3 under the documents_as_transcripts role/tool mapping
(doc_id mod 3 / mod 2)."""

import duckdb
import pandas as pd
import pytest

from cheque_ocr_project_spark.oracle import turn as oracle_turn
from cheque_ocr_project_spark.plans import flagship
from cheque_ocr_project_spark.sources import synth


@pytest.fixture(scope="module")
def corpus():
    transcripts = synth.generate_transcripts(n_convs=40, seed=11)
    texts = [t for t in transcripts.text.tolist() if t is not None]
    docs = pd.DataFrame({
        "doc_id": range(len(texts)),
        "text": texts,
        "source": [f"conv-{i % 17}" for i in range(len(texts))],
    })
    con = duckdb.connect()
    con.register("documents", docs)
    return con, docs


def _oracle_frame(docs: pd.DataFrame, fn, threshold) -> pd.DataFrame:
    rows = []
    for r in docs.itertuples():
        role = ["user", "assistant", "tool"][r.doc_id % 3]
        tool = None
        if r.doc_id % 3 == 2:
            tool = "web_fetch" if r.doc_id % 2 == 0 else "pdf_extract"
        rec = fn(r.text, role, tool, [], threshold)
        # injective id split of documents_as_transcripts: high bits into
        # conv_id, low 31 into turn_idx (round-4 large-id fix)
        rec["conv_id"] = f"{r.source}-{r.doc_id // (1 << 31)}"
        rec["turn_idx"] = int(r.doc_id % (1 << 31))
        rows.append(rec)
    return pd.DataFrame(rows)


def _compare(ddf: pd.DataFrame, odf: pd.DataFrame, drop=()):
    ddf = ddf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    odf = odf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(ddf) == len(odf)
    for c in ddf.columns:
        if c in drop:
            continue
        for i, (x, y) in enumerate(zip(ddf[c], odf[c])):
            ok = (pd.isna(x) and (y is None or pd.isna(y))) or x == y
            assert ok, f"{c}[{i}]: sql={x!r} oracle={y!r}"


def test_flagship_nofuzzy_sql_adversarial(corpus):
    con, docs = corpus
    ddf = con.execute(flagship.sql_flagship_nofuzzy()).df()
    odf = _oracle_frame(docs, oracle_turn.extract_turn, 0.90).drop(
        columns=["main_text"]
    )
    # the corpus must actually exercise the interesting branches
    assert (ddf.issuer != "XXX").sum() > 200
    assert ddf.is_government.sum() > 100
    assert ddf.payee_raw.notna().sum() > 300
    assert ddf.micr_city.notna().sum() > 50
    assert ddf.cheque_type.nunique() >= 5
    _compare(ddf, odf)


def test_flagship_v3_nofuzzy_sql_adversarial(corpus):
    con, docs = corpus
    ddf = con.execute(flagship.sql_flagship_v3_nofuzzy()).df()
    odf = _oracle_frame(docs, oracle_turn.extract_turn_v3, 0.85)
    assert (ddf.issuer_v3 != "NO_VALID_TEXT").sum() > 20
    assert ddf.status_v3.nunique() >= 3
    _compare(ddf, odf)
