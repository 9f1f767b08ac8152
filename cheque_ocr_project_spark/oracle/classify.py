"""Cheque-type classification cascade (cheque_classifier.py:122-270 parity).

The classification result is a plain dict (the Spark pipeline emits the same
fields as columns):

    {type, subtype, confidence, is_government, government_category,
     payee_rule, validation_notes}

Its type, confidence, payee rule and government category are those of the
first CHEQUE_CLASSES row, in cascade order (cheque_classifier.py:122-170),
whose condition holds.
"""

from __future__ import annotations

import re
from collections import namedtuple
from typing import NamedTuple

from cheque_ocr_project_spark.oracle import vocab

_CROSSED_RES = tuple(re.compile(p) for p in vocab.CROSSED_PATTERNS)
_DESIGNATION_RES = tuple(re.compile(p) for p in vocab.OFFICER_DESIGNATION_PATTERNS)

# ChequeType enum values (cheque_classifier.py:21-45)
T_ORDER = "ORDER"
T_CROSSED = "CROSSED"
T_SELF = "SELF"
T_GOVT_NEGOTIABLE = "GOVT_NEGOTIABLE"
T_GOVT_NON_TRANSFERABLE = "GOVT_NON_TRANSFERABLE"
T_GOVT_GOVT_ACCOUNT = "GOVT_GOVT_ACCOUNT"
T_DEMAND_DRAFT = "DEMAND_DRAFT"
T_MANAGERS_CHEQUE = "MANAGERS_CHEQUE"


def detect_government(text_upper: str) -> tuple[bool, str | None]:
    """(is_government, category) — cheque_classifier.py:172-194."""
    if "GOVERNMENT ACCOUNT" in text_upper or "GOVT ACCOUNT" in text_upper:
        return True, "III"
    if "NOT TRANSFERABLE" in text_upper and any(
        g in text_upper for g in vocab.GOVT_NOT_TRANSFERABLE_TERMS
    ):
        return True, "II"
    for marker in vocab.GOVT_MARKERS_HIGH:
        if marker in text_upper:
            return True, "I"
    for marker in vocab.GOVT_MARKERS_MEDIUM:
        if marker in text_upper:
            return True, "I"
    return False, None


def extract_officer_designation_rx(text_upper: str) -> str | None:
    """Regex-list designation extraction (cheque_classifier.py:253-270).
    Returns the full matched phrase."""
    for rx in _DESIGNATION_RES:
        m = rx.search(text_upper)
        if m:
            return m.group(0).strip()
    return None


class ChequeClass(NamedTuple):
    """One outcome of the cascade: the condition that selects it (a
    ChequeClasses field of the Catalyst and DuckDB twins), and its type,
    confidence, payee rule and government category."""
    condition: str | None
    type: str
    confidence: float
    payee_rule: str
    category: str | None


# The classification outputs in cascade order (the first true condition
# wins); ORDER when none holds. classify() and both twins read them here.
CHEQUE_CLASSES = (
    ChequeClass("cat3", T_GOVT_GOVT_ACCOUNT, 0.98, "government_account", "III"),
    ChequeClass("cat2", T_GOVT_NON_TRANSFERABLE, 0.95, "government_officer", "II"),
    ChequeClass("cat1", T_GOVT_NEGOTIABLE, 0.92, "government_contractor", "I"),
    ChequeClass("dd", T_DEMAND_DRAFT, 0.95, "dd_standard", None),
    ChequeClass("mc", T_MANAGERS_CHEQUE, 0.95, "mc_standard", None),
    ChequeClass("crossed", T_CROSSED, 0.85, "account_payee", None),
    ChequeClass("is_self", T_SELF, 0.8, "self", None),
)
ORDER = ChequeClass(None, T_ORDER, 0.7, "standard", None)
# The twins' cascade conditions (Catalyst Columns or SQL fragments), one per
# CHEQUE_CLASSES row, and the outputs their cheque_outputs render from them.
ChequeClasses = namedtuple("ChequeClasses", [c.condition for c in CHEQUE_CLASSES])
ChequeOutputs = namedtuple(
    "ChequeOutputs", "cheque_type type_conf payee_rule govt_category is_government")
_CAT3, _CAT2, _CAT1, _DD, _MC, _CROSSED, _SELF = CHEQUE_CLASSES


def _classed(c: ChequeClass, note: str, subtype=None) -> dict:
    return {
        "type": c.type,
        "subtype": subtype,
        "confidence": c.confidence,
        "is_government": c.category is not None,
        "government_category": c.category,
        "payee_rule": c.payee_rule,
        "validation_notes": [note],
    }


def classify(ocr_text: str) -> dict:
    u = (ocr_text or "").upper()

    is_govt, category = detect_government(u)
    if is_govt:
        if category == "III":
            return _classed(
                _CAT3, "Category III - Inter-departmental/Government Account")
        if category == "II":
            return _classed(
                _CAT2, "Category II - Non-Transferable - Salary/Office expenses",
                subtype=extract_officer_designation_rx(u),
            )
        return _classed(_CAT1, "Category I - Negotiable - Contractors/Suppliers")

    if any(marker in u for marker in vocab.DD_MARKERS):
        return _classed(_DD, "Demand Draft - Nationwide clearance")

    if any(marker in u for marker in vocab.MC_MARKERS):
        return _classed(_MC, "Manager's Cheque - Local clearance only")

    # literal prefilter (pure optimization; the regexes are authoritative)
    if "PAYEE" in u or "CROSSED" in u or "NEGOTIABLE" in u:
        for rx in _CROSSED_RES:
            if rx.search(u):
                return _classed(_CROSSED, "Crossed/Account Payee cheque detected")

    if "SELF" in u and len(u.split()) < 15:
        return _classed(_SELF, "Self cheque for cash withdrawal")

    return _classed(ORDER, "Standard order cheque - default classification")
