"""W2/P11: preprocessing-variant try-all-keep-best (reference parity).

The reference OCRs several preprocessed versions of the image and keeps the
highest-confidence result, short-circuiting at >= 0.95
(issuer_processor_v2.py:296-330 — grayscale/equalizeHist/adaptive variants;
IssuerBatchProcessorV3.py:374-393 — best-across-ROIs with early exit). The
graft's variants are payload normalizations of the turn text:

  0. plain         — the text as-is
  1. dom_stripped  — all <...> tags removed
  2. ws_norm       — whitespace-normalized to one line

Each variant is scored with the pipeline's line-confidence mean; the first
variant scoring >= early_exit wins immediately (the reference's early
return), otherwise the max-confidence variant with first-wins ties. The
Spark twin expresses this with the `greatest`-over-structs idiom (SURVEY
W2) and is proven equal in tests/test_variants.py; the DuckDB oracle
recomputes it exactly (driver query `variant_keep_best`)."""

from __future__ import annotations

import re

from cheque_ocr_project_spark.oracle import grammars, issuer, vocab

VARIANT_NAMES = ("plain", "dom_stripped", "ws_norm")
EARLY_EXIT = 0.95

_TAG_RE = re.compile(vocab.TAG_PATTERN)
_WS_RE = re.compile(r"\s+")


def parse_variants(text: str | None) -> tuple[str, str, str]:
    t = text or ""
    dom = _TAG_RE.sub("", t)
    ws = _WS_RE.sub(" ", t).strip()
    return t, dom, ws


def variant_confidence(vtext: str) -> float:
    """Mean line confidence over the variant's nonblank lines (0.0 none)."""
    lines = issuer.split_lines(vtext)
    if not lines:
        return 0.0
    return sum(conf for _ln, conf in lines) / len(lines)


def keep_best_variant(text: str | None,
                      early_exit: float = EARLY_EXIT) -> dict:
    """(variant name, confidence, payee extracted from the winning variant).

    First variant reaching ``early_exit`` returns immediately (reference
    early exit); otherwise argmax confidence, earliest variant on ties."""
    variants = parse_variants(text)
    confs = [variant_confidence(v) for v in variants]
    best_idx = None
    for i, c in enumerate(confs):
        if c >= early_exit:
            best_idx = i
            break
    if best_idx is None:
        best_idx = max(range(len(confs)), key=lambda i: (confs[i], -i))
    vtext = variants[best_idx]
    full_text = " ".join(raw for raw, _c in issuer.split_lines(vtext))
    return {
        "best_variant": VARIANT_NAMES[best_idx],
        "best_conf": confs[best_idx],
        "payee_raw": grammars.extract_payee(full_text) if full_text else None,
    }
