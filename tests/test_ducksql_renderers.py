"""Each functions/ducksql.py renderer vs its oracle function on the
ADVERSARIAL synthetic corpus (cheque-like texts rich in government, payee,
FOR and MICR branches — the driver testdata is lorem-like), plus the
parity-fuzz strings (grammar-token salad and raw character noise).

No Spark involved: the corpus texts and their non-blank lines, prepared
with the input preconditions the SQL twins apply (upper-cased, cleaned,
stripped), go into a DuckDB table; each renderer runs over it and must
equal the oracle per row."""

from collections.abc import Hashable

import duckdb
import pandas as pd
import pytest

from cheque_ocr_project_spark.functions import ducksql as D
from cheque_ocr_project_spark.oracle import (
    classify, cleaning, govrules, grammars, issuer, predicates, vocab,
)
from cheque_ocr_project_spark.sources import synth
from tests.test_parity_fuzz import CASES as FUZZ


@pytest.fixture(scope="module")
def inputs():
    transcripts = synth.generate_transcripts(n_convs=40, seed=11)
    texts = [t for t in transcripts.text.tolist() + FUZZ if t is not None]
    lines = [ln for t in texts for ln, _ in issuer.split_lines(t)]
    stripped = [ln.strip() for ln in lines]
    cleaned_v1 = [cleaning.clean_text_v1(ln) for ln in stripped]
    cleaned_v3 = [c for c in map(cleaning.clean_text_v3, stripped) if c]
    # every literal vocab term alone and inside a name, so each term of a
    # contains-chain is exercised (the corpora miss some, e.g. 'SGN')
    vocab_terms = sorted({
        *vocab.JUNK_TERMS_V1, "SIGN", "SGN", "BEARER", "ORDER",
        *vocab.BANK_TERMS, *vocab.LOCATION_KEYWORDS,
        *vocab.SUSPICIOUS_NAME_TERMS, *vocab.JUNK_VARIATIONS_V3,
        *vocab.BANK_NAMES_V3, *vocab.PAYEE_BANK_TERMS,
        *vocab.PAYEE_METADATA_TERMS, *vocab.GOVT_ENTITIES,
        *vocab.GOVT_INDICATORS, *vocab.OFFICER_DESIGNATIONS,
    })
    terms = vocab_terms + [f"SHARMA {t} TRADERS" for t in vocab_terms]
    return {
        "texts": texts,
        "lines": lines,
        "stripped": stripped,
        "upper": [t.upper() for t in texts + stripped],
        "cleaned_v1": cleaned_v1,
        "cleaned_v3": cleaned_v3,
        "words": [w for c in cleaned_v1 for w in c.split()],
        "terms": terms,
    }


def _render(values, render):
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(values)), "x": values}))
    return [r[0] for r in
            con.execute(f"SELECT {render('x')} FROM t ORDER BY i").fetchall()]


def split(text):
    """The oracle's word split, str.split()."""
    return text.split()


def common_name_parts(text):
    """The common-name-part count of predicates.score_name."""
    return sum(1 for w in text.split() if w.upper() in vocab.COMMON_NAME_PARTS)


def fields_and_micr(text):
    """grammars.extract_fields' date/amount/account, then extract_micr."""
    f = grammars.extract_fields(text)
    return [f.get("date"), f.get("amount"), f.get("account"),
            *(grammars.extract_micr(text) or (None,) * 3)]


def cheque_class(text):
    """classify.classify's outputs that the twins render."""
    c = classify.classify(text)
    return {"t": c["type"], "c": c["confidence"], "r": c["payee_rule"],
            "g": c["government_category"], "gov": c["is_government"]}


def _field_grammars(x):
    return f"[{', '.join(D.field_grammars(x))}]"


def _cheque_outputs(x):
    o = D.cheque_outputs(D.cheque_classes(f"upper({x})"))
    return (f"struct_pack(t := {o.cheque_type}, "
            f"c := CAST({o.type_conf} AS DOUBLE), r := {o.payee_rule}, "
            f"g := {o.govt_category}, gov := {o.is_government})")


CASES = [
    # (renderer, oracle function, input sets)
    (D.words_of, split, ("texts", "upper", "cleaned_v1")),
    (lambda x: D.common_name_part_count(D.words_of(x)), common_name_parts,
     ("stripped", "cleaned_v1", "terms")),
    (_field_grammars, fields_and_micr, ("texts", "lines")),
    (_cheque_outputs, cheque_class, ("texts", "lines", "terms")),
    (D.is_garbage, predicates.is_garbage, ("upper", "cleaned_v1", "words")),
    (D.is_junk_v1, predicates.is_junk_v1, ("upper", "cleaned_v1", "terms")),
    (D.is_valid_drawer_v1, predicates.is_valid_drawer_v1,
     ("cleaned_v1", "terms")),
    (D.looks_like_real_name, predicates.looks_like_real_name,
     ("stripped", "cleaned_v1", "terms")),
    (D.is_junk_v3, predicates.is_junk_v3, ("upper", "cleaned_v3", "terms")),
    (D.is_valid_business_v3, predicates.is_valid_business_name_v3,
     ("upper", "cleaned_v3", "terms")),
    (D.is_valid_drawer_v3, predicates.is_valid_drawer_v3,
     ("upper", "cleaned_v3", "terms")),
    (D.is_bank_or_metadata, predicates.is_bank_or_metadata,
     ("upper", "terms")),
    (D.is_government_entity, govrules.is_government_entity,
     ("texts", "stripped", "terms")),
    (lambda x: D.designation_literal(f"upper({x})"),
     govrules.extract_officer_designation, ("texts", "stripped", "terms")),
    (lambda x: D.payee_raw(f"upper({x})"), grammars.extract_payee,
     ("texts", "lines")),
    (D.clean_text_v1, cleaning.clean_text_v1, ("texts", "stripped")),
    (D.clean_text_v3, cleaning.clean_text_v3, ("texts", "stripped")),
    (D.remove_prefixes_v3, cleaning.remove_prefixes_v3, ("cleaned_v3",)),
    (D.clean_payee, cleaning.clean_payee, ("stripped", "upper")),
    (D.line_conf, issuer.line_confidence, ("lines",)),
]


@pytest.mark.parametrize(
    "render,oracle,sets", CASES,
    ids=[oracle.__name__ for _, oracle, _ in CASES],
)
def test_renderer_matches_oracle(inputs, render, oracle, sets):
    for name in sets:
        values = inputs[name]
        got = _render(values, render)
        bad = [(v, g, oracle(v)) for v, g in zip(values, got) if g != oracle(v)]
        assert not bad, f"{name}: {len(bad)} of {len(values)} differ, e.g. {bad[:3]}"


def test_corpus_exercises_both_outcomes(inputs):
    """Each boolean predicate sees both True and False on the corpus, so
    the comparisons above are not vacuous (list and record outputs are
    not predicates)."""
    for render, oracle, sets in CASES:
        outs = [oracle(v) for name in sets for v in inputs[name]]
        if all(isinstance(o, Hashable) for o in outs) and set(outs) <= {True, False}:
            assert set(outs) == {True, False}, oracle.__name__
