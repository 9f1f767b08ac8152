"""Structured-field parsing grammars (reference parity).

- ``extract_payee``        — payee_cleaner.py:147-185 (10 ordered patterns,
                             first non-bank match wins)
- ``extract_fields``       — payee_cleaner.py:186-210 (date/amount/account/payee)
- ``extract_micr``         — cheque_classifier.py:120 (9-9-6..9 digit triplet)
- ``extract_issuer_text_ai`` — dbf_processor.py:69-115 (FOR split → auth-sig
                             grammar → account grammar → last-10-lines scan)
- ``extract_issuer_simple``  — parallel_processor.py:46-93
- ``extract_payee_section``  — government_payee_rules.py:223-235
- ``filename_fields``        — custom_csv.py:24-46
"""

from __future__ import annotations

import re
from collections import namedtuple

from cheque_ocr_project_spark.oracle import cleaning, predicates, vocab

_PAYEE_RES = tuple(re.compile(p) for p in vocab.PAYEE_PATTERNS)
_DATE_RE = re.compile(vocab.DATE_PATTERN)
_AMOUNT_RE = re.compile(vocab.AMOUNT_PATTERN)
_ACCOUNT_RE = re.compile(vocab.ACCOUNT_NO_PATTERN)
_FIELD_PAYEE_RE = re.compile(r"PAY\s+([A-Z\s]+?)(?=\s+RUPEE|\s+Rs|\s+₹|$)")
_MICR_RE = re.compile(vocab.MICR_PATTERN)
_AUTH_RES = tuple(re.compile(p) for p in vocab.AUTH_SIGNATORY_PATTERNS)
_ACCT_RES = tuple(re.compile(p) for p in vocab.ACCOUNT_PATTERNS)
_FNAME_AMOUNT_RE = re.compile(vocab.FNAME_AMOUNT_PATTERN)
_FNAME_NUM_RE = re.compile(r"\d+")
_FNAME_DATE_RE = re.compile(vocab.FNAME_DATE_PATTERN)
_NON_WORD_OR_SPACE = re.compile(vocab.NON_WORD_OR_SPACE)


def extract_payee(text: str | None) -> str | None:
    """First pattern whose captured candidate is not bank/metadata."""
    if not text:
        return None
    u = text.upper()
    for rx, guard in zip(_PAYEE_RES, vocab.PAYEE_GUARDS):
        if guard is not None:
            for g in guard:
                if g in u:
                    break
            else:
                continue
        m = rx.search(u)
        if m:
            candidate = m.group(1).strip()
            if not predicates.is_bank_or_metadata(candidate):
                return candidate
    return None


# the twins' field_grammars: extract_fields' fields, then extract_micr's
FieldGrammars = namedtuple(
    "FieldGrammars",
    "field_date field_amount field_account micr_city micr_bank micr_serial")


def extract_fields(text: str) -> dict:
    """date (DDMMYYYY concat) / amount (comma-stripped) / account / payee."""
    fields: dict = {}
    m = _DATE_RE.search(text)
    if m:
        fields["date"] = f"{m.group(1)}{m.group(2)}{m.group(3)}"
    m = _AMOUNT_RE.search(text)
    if m:
        fields["amount"] = m.group(1).replace(",", "")
    m = _ACCOUNT_RE.search(text)
    if m:
        fields["account"] = m.group(1)
    m = _FIELD_PAYEE_RE.search(text)
    if m:
        fields["payee"] = m.group(1).strip()
    return fields


def extract_micr(text: str) -> tuple[str, str, str] | None:
    m = _MICR_RE.search(text)
    if m:
        return m.group(1), m.group(2), m.group(3)
    return None


def extract_issuer_text_ai(text: str | None) -> str | None:
    """Four-stage issuer grammar over the full turn text (upper-cased)."""
    if not text:
        return None
    u = text.upper()
    # Stage 1: suffix after the first 'FOR', truncated at end markers.
    if "FOR" in u:
        parts = u.split("FOR")
        if len(parts) > 1:
            candidate = parts[1].strip()
            for marker in vocab.AI_END_MARKERS:
                if marker in candidate:
                    candidate = candidate.split(marker)[0]
            candidate = candidate.split("\n")[0]
            if len(candidate) > 3:
                return cleaning.correct_spelling_ai(candidate)
    # Stage 2: name before an auth-signatory phrase.
    for rx in _AUTH_RES:
        m = rx.search(u)
        if m:
            return cleaning.correct_spelling_ai(m.group(1))
    # Stage 3: name before an account number.
    for rx in _ACCT_RES:
        m = rx.search(u)
        if m:
            return cleaning.correct_spelling_ai(m.group(1))
    # Stage 4: last-10-lines scan for a clean all-caps line.
    lines = u.split("\n")
    for line in reversed(lines[-10:]):
        line = line.strip()
        if len(line) > 5 and line.isupper() and not any(
            g in line for g in vocab.GARBAGE_WORDS
        ):
            return cleaning.correct_spelling_ai(line)
    return None


def extract_issuer_simple(text: str | None) -> str:
    """Bank-name direct match → FOR suffix → business-identifier line →
    last-3-lines scan (parallel_processor.py:46-93)."""
    if not text or len(text) < 20:
        return "UNKNOWN"
    u = text.upper()
    for bank in vocab.SIMPLE_BANK_NAMES:
        if bank in u:
            return bank
    if "FOR" in u:
        parts = u.split("FOR")
        if len(parts) > 1:
            candidate = parts[-1].strip()
            for delim in vocab.SIMPLE_FOR_DELIMITERS:
                if delim in candidate:
                    candidate = candidate.split(delim)[0]
            words = candidate.split()
            if 1 <= len(words) <= 5:
                cleaned = cleaning.clean_name_simple(" ".join(words))
                if cleaned != "UNKNOWN":
                    return cleaned
    lines = u.split("\n")
    for line in lines:
        line = line.strip()
        if len(line) > 15:
            for ident in vocab.SIMPLE_BUSINESS_IDENTIFIERS:
                if ident in line:
                    cleaned = cleaning.clean_name_simple(line)
                    if cleaned != "UNKNOWN":
                        return cleaned
    valid_lines = [ln.strip() for ln in lines if len(ln.strip()) > 10]
    for line in valid_lines[-3:]:
        if line.isupper() and " " in line:
            if not any(w in line for w in vocab.SIMPLE_IGNORE_WORDS):
                cleaned = cleaning.clean_name_simple(line)
                if cleaned != "UNKNOWN":
                    return cleaned
    return "UNKNOWN"


_FAST_PAYEE_RES = tuple(re.compile(p) for p in vocab.FAST_PAYEE_PATTERNS)
_FAST_ISSUER_RES = tuple(re.compile(p) for p in vocab.FAST_ISSUER_PATTERNS)


def clean_name_fast(name: str | None) -> str:
    """fast_ai_processor.py:146-161: contains-gated replace chain, punct to
    space, collapse, title-case, UNKNOWN under 3 chars."""
    if not name:
        return "UNKNOWN"
    u = name.upper()
    for wrong, right in vocab.FAST_SPELLING_CORRECTIONS:
        if wrong in u:
            u = u.replace(wrong, right)
    u = _NON_WORD_OR_SPACE.sub(" ", u)
    u = " ".join(u.split())
    return u.title() if len(u) >= 3 else "UNKNOWN"


def extract_fast_patterns(text: str) -> dict:
    """fast_ai_processor.py:108-143: first-match payee + issuer patterns,
    both cleaned via clean_name_fast; fixed 0.6 confidence."""
    u = (text or "").upper()
    result = {"payee": None, "issuer": None, "confidence": 0.6}
    for rx in _FAST_PAYEE_RES:
        m = rx.search(u)
        if m:
            result["payee"] = clean_name_fast(m.group(1))
            break
    for rx in _FAST_ISSUER_RES:
        m = rx.search(u)
        if m:
            result["issuer"] = clean_name_fast(m.group(1))
            break
    return result


def extract_for_first3(text: str | None) -> str:
    """extract_issuer.py:37-43: naive grammar — first 3 whitespace tokens of
    the segment between the first and second 'FOR'."""
    if not text:
        return "UNKNOWN"
    u = text.upper()
    if "FOR" not in u:
        return "UNKNOWN"
    parts = u.split("FOR")
    if len(parts) <= 1:
        return "UNKNOWN"
    return " ".join(parts[1].strip().split()[0:3])


def extract_payee_section(text: str) -> str | None:
    """Substring (<=200 chars) after the first payee indicator."""
    for indicator in vocab.PAYEE_SECTION_INDICATORS:
        if indicator in text:
            parts = text.split(indicator, 1)
            if len(parts) > 1:
                return parts[1][:200]
    return None


def filename_fields(filename: str) -> dict:
    """amount / account / date parsed out of a filename-like key."""
    out = {"amount": "0.00", "account": "0", "date": None}
    m = _FNAME_AMOUNT_RE.search(filename)
    if m:
        out["amount"] = m.group(1)
    nums = _FNAME_NUM_RE.findall(filename)
    if nums:
        out["account"] = nums[0]
    dates = _FNAME_DATE_RE.findall(filename)
    if dates:
        out["date"] = dates[0]
    return out
