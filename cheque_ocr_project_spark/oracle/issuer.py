"""Issuer (drawer-name) extraction over a turn's line relation.

Graft mapping: one reference image ≙ one transcript turn; the OCR line list
≙ the turn's ``text`` split on newlines, each line paired with a
deterministic confidence (see ``line_confidence``). The per-line stages are:

- ``extract_issuer_v1``  — issuer_processor_v.py:378-447: clean → FOR-grammar
  boost path → validity → fuzzy dict match → feature scoring → top-1
- ``issuer_for_scan``    — issuer_processor_v.py:467-481: raw-text FOR scan
  that short-circuits the candidate pipeline
- ``process_turn_issuer_v1`` — issuer_processor_v.py:450-496: the full gate
  cascade (threshold + looks_like_real_name) with XXX fallbacks
- ``extract_issuer_v3``  — IssuerBatchProcessorV3.py:319-356 + status cascade
  (IssuerBatchProcessorV3.py:439-473)
"""

from __future__ import annotations

import re

from cheque_ocr_project_spark.oracle import cleaning, fuzzy, predicates, vocab

_NON_ALPHA_RE = re.compile(vocab.NON_ALPHA)

DEFAULT_THRESHOLD_V1 = 0.90
DEFAULT_THRESHOLD_V3 = 0.85


def line_confidence(line: str) -> float:
    """Deterministic per-line confidence (graft analog of OCR confidence).

    Defined as ``0.6 + 0.4 * alpha_ratio`` over the raw line — expressible
    natively in Spark as
    ``0.6 + 0.4 * length(regexp_replace(line,'[^A-Za-z]',''))/length(line)``
    so both the DataFrame plan and this oracle compute identical floats.
    Empty lines score 0.0.
    """
    if not line:
        return 0.0
    alpha = len(_NON_ALPHA_RE.sub("", line))
    return 0.6 + 0.4 * (alpha / len(line))


def split_lines(text: str | None) -> list[tuple[str, float]]:
    """Turn text → ordered (line, confidence) relation; blank lines dropped
    (OCR emits no empty detections)."""
    if not text:
        return []
    out = []
    for raw in text.split("\n"):
        if raw.strip():
            out.append((raw, line_confidence(raw)))
    return out


def extract_issuer_v1(lines: list[tuple[str, float]],
                      drawer_dict: list[str],
                      cache: dict | None = None) -> tuple[str, float, float]:
    """Candidate generation + scoring + stable top-1.

    Returns (best_text, best_conf, best_score); ("XXX", 0.0, -1.0) when no
    candidate survives. Tie-break: Python's stable sort keeps the earliest
    line among equal scores — the Spark window orders by (score desc,
    line_idx asc) to match.
    """
    if not lines:
        return "XXX", 0.0, -1.0

    candidates: list[tuple[float, float, str]] = []
    for raw_text, conf in lines:
        text = cleaning.clean_text_v1(raw_text.strip())

        for_line = False
        for m in vocab.FOR_LINE_MARKERS:
            if m in text:
                for_line = True
                break
        if for_line:
            for marker in vocab.FOR_MARKERS:
                if marker in text:
                    parts = text.split(marker, 1)
                    if len(parts) > 1:
                        potential = parts[1].strip()
                        if predicates.is_valid_drawer_v1(potential):
                            candidates.append((conf + 0.3, conf, potential))
                            break
            continue

        if not predicates.is_valid_drawer_v1(text):
            continue

        matched, similarity = fuzzy.match_name_v1(text, drawer_dict, cache)
        final_text = matched if matched else text
        score = conf
        if matched:
            score += 0.20 + (0.25 * similarity)
        words = final_text.split()
        if 2 <= len(words) <= 4:
            score += 0.15
        common = sum(1 for w in words if w.upper() in vocab.COMMON_NAME_PARTS)
        if common > 0:
            score += 0.1 * common
        if any(s in final_text for s in vocab.SUSPICIOUS_SCORE_TERMS):
            score -= 0.40
        candidates.append((score, conf, final_text))

    if not candidates:
        return "XXX", 0.0, -1.0

    candidates.sort(reverse=True, key=lambda c: c[0])
    best_score, best_conf, best_text = candidates[0]
    return best_text, best_conf, best_score


def issuer_for_scan(lines: list[tuple[str, float]],
                    threshold: float) -> tuple[str, float] | None:
    """Raw-text FOR-marker scan that bypasses candidate scoring.

    Works on the ORIGINAL (uncleaned, case-preserved) line text; the first
    marker hit whose suffix passes looks_like_real_name at >= threshold
    confidence wins (issuer_processor_v.py:467-481).
    """
    for raw, conf in lines:
        text = raw.strip()
        u = text.upper()
        for marker in vocab.FOR_MARKERS:
            if marker in u:
                candidate = text[u.find(marker) + len(marker):].strip()
                if predicates.looks_like_real_name(candidate) and conf >= threshold:
                    return candidate, conf
    return None


def process_turn_issuer_v1(text: str | None, drawer_dict: list[str],
                           threshold: float = DEFAULT_THRESHOLD_V1,
                           cache: dict | None = None,
                           lines: list[tuple[str, float]] | None = None
                           ) -> tuple[str, float]:
    """Full V1 issuer path for one turn: FOR scan → candidates → gates.

    ``lines`` = optional precomputed split_lines(text) (see
    process_turn_payee) — pure memoization."""
    if lines is None:
        lines = split_lines(text)
    if not lines:
        return "XXX", 0.0

    hit = issuer_for_scan(lines, threshold)
    if hit is not None:
        return hit

    best_text, best_conf, _best_score = extract_issuer_v1(lines, drawer_dict, cache)
    if best_text == "XXX":
        return "XXX", 0.0
    if best_conf < threshold:
        return "XXX", 0.0
    if not predicates.looks_like_real_name(best_text):
        return "XXX", 0.0
    return best_text, best_conf


def extract_issuer_v3(lines: list[tuple[str, float]], drawer_dict: list[str],
                      cache: dict | None = None
                      ) -> tuple[str, float, str | None]:
    """V3: clean_v3 → junk/validity filter → conf-sorted top-1 → dict match
    or prefix-strip. Returns (issuer, confidence, matched_name)."""
    if not lines:
        return "NO_VALID_TEXT", 0.0, None

    candidates: list[tuple[float, str, str]] = []
    for raw, conf in lines:
        cleaned = cleaning.clean_text_v3(raw.strip())
        if not cleaned or predicates.is_junk_v3(cleaned):
            continue
        if predicates.is_valid_drawer_v3(cleaned):
            candidates.append((conf, cleaned, raw))

    if not candidates:
        return "NO_VALID_TEXT", 0.0, None

    candidates.sort(reverse=True, key=lambda c: c[0])
    best_conf, best_cleaned, _best_raw = candidates[0]

    matched = fuzzy.match_name_v3(best_cleaned, drawer_dict, cache)
    if matched:
        return matched, best_conf, matched
    return cleaning.remove_prefixes_v3(best_cleaned), best_conf, None


def status_v3(issuer: str, confidence: float, matched: str | None,
              threshold: float = DEFAULT_THRESHOLD_V3,
              update_succeeds: bool = True) -> str:
    """V3 run() status cascade (IssuerBatchProcessorV3.py:447-473)."""
    if issuer != "NO_VALID_TEXT" and predicates.is_junk_v3(issuer):
        return "JUNK-FILTERED"
    if confidence >= threshold and issuer and issuer != "NO_VALID_TEXT":
        if predicates.is_valid_drawer_v3(issuer):
            if (len(issuer) <= 4 and issuer.isalpha()
                    and issuer not in vocab.SHORT_REVIEW_OK_V3):
                return "REVIEW-SHORT"
            return "AUTO-UPDATED" if update_succeeds else "MATCHED-NO-UPDATE"
        return "INVALID-TEXT"
    if issuer and issuer != "NO_VALID_TEXT" and predicates.is_valid_drawer_v3(issuer):
        return "REVIEW"
    return "NO-TEXT"
