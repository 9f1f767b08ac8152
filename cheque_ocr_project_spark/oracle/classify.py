"""Cheque-type classification cascade (cheque_classifier.py:122-270 parity).

The classification result is a plain dict (the Spark pipeline emits the same
fields as columns):

    {type, subtype, confidence, is_government, government_category,
     payee_rule, validation_notes}

Priority order (cheque_classifier.py:122-170): government (cat III > II > I)
→ demand draft → manager's cheque → crossed → self → default ORDER.
"""

from __future__ import annotations

import re

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


def _result(type_, confidence, payee_rule, notes, is_government=False,
            government_category=None, subtype=None) -> dict:
    return {
        "type": type_,
        "subtype": subtype,
        "confidence": confidence,
        "is_government": is_government,
        "government_category": government_category,
        "payee_rule": payee_rule,
        "validation_notes": list(notes),
    }


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


def classify(ocr_text: str) -> dict:
    u = (ocr_text or "").upper()

    is_govt, category = detect_government(u)
    if is_govt:
        if category == "III":
            return _result(
                T_GOVT_GOVT_ACCOUNT, 0.98, "government_account",
                ["Category III - Inter-departmental/Government Account"],
                is_government=True, government_category="III",
            )
        if category == "II":
            return _result(
                T_GOVT_NON_TRANSFERABLE, 0.95, "government_officer",
                ["Category II - Non-Transferable - Salary/Office expenses"],
                is_government=True, government_category="II",
                subtype=extract_officer_designation_rx(u),
            )
        return _result(
            T_GOVT_NEGOTIABLE, 0.92, "government_contractor",
            ["Category I - Negotiable - Contractors/Suppliers"],
            is_government=True, government_category="I",
        )

    if any(marker in u for marker in vocab.DD_MARKERS):
        return _result(T_DEMAND_DRAFT, 0.95, "dd_standard",
                       ["Demand Draft - Nationwide clearance"])

    if any(marker in u for marker in vocab.MC_MARKERS):
        return _result(T_MANAGERS_CHEQUE, 0.95, "mc_standard",
                       ["Manager's Cheque - Local clearance only"])

    # literal prefilter (pure optimization; the regexes are authoritative)
    if "PAYEE" in u or "CROSSED" in u or "NEGOTIABLE" in u:
        for rx in _CROSSED_RES:
            if rx.search(u):
                return _result(T_CROSSED, 0.85, "account_payee",
                               ["Crossed/Account Payee cheque detected"])

    if "SELF" in u and len(u.split()) < 15:
        return _result(T_SELF, 0.8, "self",
                       ["Self cheque for cash withdrawal"])

    return _result(T_ORDER, 0.7, "standard",
                   ["Standard order cheque - default classification"])
