"""Text normalization stages (reference parity).

Reference semantics reproduced here:
- ``clean_text_v1``  — issuer_processor_v.py:208-218
- ``clean_text_v3``  — IssuerBatchProcessorV3.py:170-198
- ``remove_prefixes_v3`` — IssuerBatchProcessorV3.py:260-285
- ``clean_payee``    — payee_cleaner.py:101-145 (titles → specials → suffixes
                       → whitespace/charset → XXX fallback, order-sensitive)
- ``correct_spelling_ai`` — dbf_processor.py:117-128 (ordered literal map +
                       garbage-word deletion + charset + title-case)
- ``clean_name_simple``   — parallel_processor.py:95-106
"""

from __future__ import annotations

import re

from cheque_ocr_project_spark.oracle import vocab

_NON_CHARSET_V1 = re.compile(vocab.NON_CHARSET_V1)
_NON_CHARSET_V3 = re.compile(vocab.NON_CHARSET_V3)
_TITLE_RES = tuple(re.compile(p, re.IGNORECASE) for p in vocab.TITLE_PATTERNS)
_SUFFIX_RES = tuple(re.compile(p, re.IGNORECASE) for p in vocab.COMPANY_SUFFIX_PATTERNS)
_PREFIX_RES_V3 = tuple(re.compile(p, re.IGNORECASE) for p in vocab.PREFIX_PATTERNS_V3)
_WS = re.compile(r"\s+")
_NON_WORDISH = re.compile(vocab.NON_WORDISH)
_NON_ALPHA_SPACE = re.compile(vocab.NON_ALPHA_SPACE)
_NON_WORD_OR_SPACE = re.compile(vocab.NON_WORD_OR_SPACE)


# one-pass form of the four sequential confusion replaces: the rules map
# distinct single chars and no output char (O/I/S) is an input char
# (0/1/|/5), so simultaneous translation == the ordered replace chain
_V1_CONFUSION = str.maketrans({"0": "O", "1": "I", "|": "I", "5": "S"})


def clean_text_v1(text: str | None) -> str:
    """OCR-confusion normalize, charset strip, whitespace collapse.

    Empty/None input yields the sentinel "XXX" (issuer_processor_v.py:209-210).
    """
    if not text:
        return "XXX"
    s = text.upper().translate(_V1_CONFUSION)
    s = _NON_CHARSET_V1.sub(" ", s)
    return " ".join(s.split()).strip()


def clean_text_v2(text: str | None) -> str:
    """V2 variant: v1 + 6->G, 8->B mappings (issuer_processor_v2.py:104-122)."""
    if not text:
        return "XXX"
    s = text.upper()
    s = s.replace("0", "O").replace("1", "I").replace("|", "I")
    s = s.replace("5", "S").replace("6", "G").replace("8", "B")
    s = _NON_CHARSET_V1.sub(" ", s)
    return " ".join(s.split()).strip()


# Applied in this order after upper(); the 'l'->'I' mapping is inert post-upper
# but kept for fidelity with IssuerBatchProcessorV3.py:178-186.
_V3_CHAR_MAP = (("|", "I"), ("!", "I"), ("l", "I"), ("0", "O"), ("1", "I"),
                ("5", "S"), ("8", "B"))


def clean_text_v3(text: str | None) -> str:
    """V3 variant: more confusion mappings, empty input yields ""."""
    if not text:
        return ""
    s = text.upper()
    for bad, good in _V3_CHAR_MAP:
        s = s.replace(bad, good)
    s = _NON_CHARSET_V3.sub(" ", s)
    return " ".join(s.split()).strip()


def remove_prefixes_v3(text: str | None) -> str | None:
    """Strip FOR / M/S / honorific prefixes, pattern list applied in order."""
    if not text:
        return text
    s = text.upper()
    for rx in _PREFIX_RES_V3:
        s = rx.sub("", s)
    return s.strip()


# One-scan guards for the ordered strip chains (r08): if NO pattern in a
# chain matches the CURRENT string, every sub in that chain is a no-op and
# the chain can be skipped wholesale — exact, because the guard is checked
# against the same string the chain would receive. Alternation order
# doesn't matter for a boolean search.
_TITLE_ANY = re.compile(
    "|".join(f"(?:{p})" for p in vocab.TITLE_PATTERNS), re.IGNORECASE
)
_SUFFIX_ANY = re.compile(
    "|".join(f"(?:{p})" for p in vocab.COMPANY_SUFFIX_PATTERNS), re.IGNORECASE
)


def clean_payee(raw: str | None) -> str:
    """Full payee cleaning chain with XXX fallback (payee_cleaner.py:101-145)."""
    if not raw:
        return "XXX"
    s = raw.upper().strip()
    if _TITLE_ANY.search(s):
        for rx in _TITLE_RES:
            s = rx.sub("", s)
    for ch, repl in vocab.SPECIAL_CHAR_MAP:
        if ch in s:
            s = s.replace(ch, repl)
    if _SUFFIX_ANY.search(s):
        for rx in _SUFFIX_RES:
            s = rx.sub("", s)
    s = _WS.sub(" ", s).strip()
    s = _NON_WORDISH.sub("", s)
    if not s or len(s) < 2:
        return "XXX"
    return s


def correct_spelling_ai(name: str | None) -> str:
    """Ordered literal correction map + garbage deletion (dbf_processor.py:117-128)."""
    if not name:
        return "UNKNOWN"
    s = name.upper()
    for wrong, right in vocab.SPELLING_CORRECTIONS:
        s = s.replace(wrong, right)
    for word in vocab.GARBAGE_WORDS:
        s = s.replace(word, "")
    s = " ".join(s.split())
    s = _NON_ALPHA_SPACE.sub("", s)
    return s.title() if len(s) >= 3 else "UNKNOWN"


def clean_name_simple(name: str | None) -> str:
    """Punctuation strip + title-case, UNKNOWN under 5 chars
    (parallel_processor.py:95-106)."""
    if not name:
        return "UNKNOWN"
    s = _NON_WORD_OR_SPACE.sub(" ", name)
    s = " ".join(s.split())
    if len(s) < 5:
        return "UNKNOWN"
    return s.title()
