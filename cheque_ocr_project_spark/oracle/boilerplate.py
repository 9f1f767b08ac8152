"""Main-content extraction for embedded tool payloads (graft stage).

The reference's analog stages are its visual-region heuristics: ROI cropping
(issuer_processor_v.py:458), the handwriting contour score
(issuer_processor_v.py:71-113) and the junk-term boilerplate strip
(issuer_processor_v.py:18-24, IssuerBatchProcessorV3.py:65-129). In the
transcripts graft those become *line-density heuristics* over HTML fragments
and PDF-extracted blobs carried in `role='tool'` turns.

The rules below are the graft's own deterministic definition (there is no
text-payload equivalent in the reference to match bit-for-bit); they are the
single source of truth for both the Arrow-batched extraction UDF and the
tests.

Heuristic (per physical line of the payload):
  HTML path (tool == 'web_fetch' or the text contains a tag):
    - drop <script>/<style> lines outright
    - visible      = line with all <...> tags removed, whitespace-collapsed
    - tag_density  = (len(line) - len(tags-stripped line)) / len(line)
    - link_density = total <a>...</a> inner-text length / len(visible)
    - keep iff len(visible) >= 25 and tag_density < 0.6 and link_density < 0.34
  PDF path (tool == 'pdf_extract'):
    - split form-feed page breaks into lines
    - drop bare page-number lines and lines repeated >= 3 times in the turn
      (running headers/footers)
  other text: whitespace-collapse per line, drop blanks.
"""

from __future__ import annotations

import re
from collections import Counter

from cheque_ocr_project_spark.oracle import vocab

_TAG_RE = re.compile(vocab.TAG_PATTERN)
_ANCHOR_RE = re.compile(vocab.ANCHOR_PATTERN, re.IGNORECASE)
_SCRIPT_HINT_RE = re.compile(vocab.SCRIPT_HINT_PATTERN, re.IGNORECASE)
_PAGE_NO_RE = re.compile(vocab.PAGE_NO_PATTERN, re.IGNORECASE)
_WS = re.compile(r"\s+")

MIN_VISIBLE_LEN = 25
MAX_TAG_DENSITY = 0.6
MAX_LINK_DENSITY = 0.34
HEADER_REPEAT_THRESHOLD = 3


def _collapse(s: str) -> str:
    return _WS.sub(" ", s).strip()


def html_line_stats(line: str) -> tuple[str, float, float]:
    """(visible_text, tag_density, link_density) for one payload line."""
    if not line:
        return "", 0.0, 0.0
    stripped = _TAG_RE.sub("", line)
    visible = _collapse(stripped)
    tag_density = (len(line) - len(stripped)) / len(line)
    anchor_len = sum(len(_TAG_RE.sub("", m)) for m in _ANCHOR_RE.findall(line))
    link_density = anchor_len / len(visible) if visible else 1.0
    return visible, tag_density, link_density


def extract_html_main(text: str) -> str:
    kept: list[str] = []
    for line in text.split("\n"):
        if _SCRIPT_HINT_RE.search(line):
            continue
        visible, tag_density, link_density = html_line_stats(line)
        if (
            len(visible) >= MIN_VISIBLE_LEN
            and tag_density < MAX_TAG_DENSITY
            and link_density < MAX_LINK_DENSITY
        ):
            kept.append(visible)
    return "\n".join(kept)


def extract_pdf_main(text: str) -> str:
    lines = [_collapse(ln) for ln in text.replace("\x0c", "\n").split("\n")]
    lines = [ln for ln in lines if ln]
    counts = Counter(lines)
    kept = [
        ln for ln in lines
        if not _PAGE_NO_RE.match(ln) and counts[ln] < HEADER_REPEAT_THRESHOLD
    ]
    return "\n".join(kept)


def extract_plain(text: str) -> str:
    return "\n".join(_collapse(ln) for ln in text.split("\n") if _collapse(ln))


def main_content(text: str | None, tool: str | None) -> str:
    """Dispatch on tool/payload shape; returns the extracted main content."""
    if not text:
        return ""
    if tool == "web_fetch" or "<" in text and _TAG_RE.search(text):
        return extract_html_main(text)
    if tool == "pdf_extract":
        return extract_pdf_main(text)
    return extract_plain(text)
