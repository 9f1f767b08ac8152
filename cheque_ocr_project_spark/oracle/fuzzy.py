"""Fuzzy dictionary matching with exact difflib parity.

The reference matches candidate text against the drawer dictionary with
``difflib.get_close_matches`` + ``SequenceMatcher.ratio()`` — NOT Levenshtein
— so per-turn equality forces us to ship difflib itself inside the UDF
(SURVEY.md §4 item 4). The dictionary is always the *sorted* list the
reference builds (issuer_processor_v.py:351-357).

- ``match_name_v1`` — issuer_processor_v.py:359-375 (cutoff 0.78, similarity
  recomputed with a fresh SequenceMatcher)
- ``match_name_v3`` — IssuerBatchProcessorV3.py:288-316 (exact w/ and w/o
  prefixes, then cutoffs 0.85/0.80/0.75 over both candidate forms)
- ``build_drawer_dict`` — clean + validate + distinct + sort
"""

from __future__ import annotations

import difflib
from collections.abc import Iterable

from cheque_ocr_project_spark.oracle import cleaning, predicates


def build_drawer_dict(raw_names: Iterable[str]) -> list[str]:
    """Distinct cleaned valid drawer names, sorted (difflib order parity)."""
    names = set()
    for raw in raw_names:
        drawer = cleaning.clean_text_v1(str(raw).strip())
        if predicates.is_valid_drawer_v1(drawer):
            names.add(drawer)
    return sorted(names)


# Per-dictionary length index for the match_name_v1 fast path, keyed by
# id(list); each entry pins its list so the id cannot be recycled. Rows
# matched against different dictionaries in one worker (V1 and V3 rows
# alternating) keep one index each, up to _LEN_INDEX_MAX, the oldest
# dropped first. The fast path is EXACTLY get_close_matches(n=1):
# difflib's first gate is real_quick_ratio = 2*min(la,lb)/(la+lb) >=
# cutoff, which depends only on lengths — pre-sorting the dictionary by
# length turns that gate into a contiguous slice, and because the n=1
# result is max((ratio, name)) over the survivors (heapq.nlargest on the
# score/name tuples), iteration order cannot change the answer.
_LEN_INDEX: dict[int, tuple] = {}
_LEN_INDEX_MAX = 4


def _length_index(drawer_dict: list[str]) -> tuple:
    import bisect

    key = id(drawer_dict)
    hit = _LEN_INDEX.get(key)
    if hit is not None and hit[0] is drawer_dict:
        return hit
    by_len = sorted(drawer_dict, key=len)
    lens = [len(x) for x in by_len]
    entry = (drawer_dict, by_len, lens, bisect)
    while len(_LEN_INDEX) >= _LEN_INDEX_MAX:
        del _LEN_INDEX[next(iter(_LEN_INDEX))]
    _LEN_INDEX[key] = entry
    return entry


def _closest_v1(text: str, drawer_dict: list[str],
                cutoff: float = 0.78) -> str | None:
    """= difflib.get_close_matches(text, drawer_dict, n=1, cutoff)[0]
    (or None): same gates (real_quick_ratio/quick_ratio/ratio >= cutoff),
    same winner (max of (ratio, name)), evaluated only over the length
    window where the first gate can pass — 2*min(la,lb)/(la+lb) >= cutoff
    iff la in [cutoff*lb/(2-cutoff), lb*(2-cutoff)/cutoff]."""
    _, by_len, lens, bisect = _length_index(drawer_dict)
    lb = len(text)
    # +-0.5 margin: the window only needs to be a SUPERSET of difflib's
    # real_quick_ratio pass set (the exact gate still runs per candidate
    # below), so float rounding at the boundary can never drop a match
    lo = bisect.bisect_left(lens, cutoff * lb / (2.0 - cutoff) - 0.5)
    hi = bisect.bisect_right(lens, lb * (2.0 - cutoff) / cutoff + 0.5)
    s = difflib.SequenceMatcher()
    s.set_seq2(text)
    best = None
    for x in by_len[lo:hi]:
        s.set_seq1(x)
        if (s.real_quick_ratio() >= cutoff
                and s.quick_ratio() >= cutoff):
            r = s.ratio()
            if r >= cutoff and (best is None or (r, x) > best):
                best = (r, x)
    return best[1] if best else None


def match_name_v1(text: str | None, drawer_dict: list[str],
                  cache: dict | None = None) -> tuple[str | None, float]:
    """Optional memo cache = the reference's per-run match cache
    (IssuerBatchProcessorV3.py:51) — pure memoization, no semantic effect."""
    if not text:
        return None, 0.0
    text = text.upper()
    if cache is not None:
        hit = cache.get(text)
        if hit is not None:
            return hit
    if text in drawer_dict:
        result = (text, 1.0)
    else:
        best = _closest_v1(text, drawer_dict, cutoff=0.78)
        if best is None:
            result = (None, 0.0)
        else:
            result = (best, difflib.SequenceMatcher(None, text, best).ratio())
    if cache is not None:
        cache[text] = result
    return result


def match_name_v2(text: str, drawer_dict: list[str]) -> tuple[str | None, float]:
    """V2: containment either direction (len ratio > 0.6) or SequenceMatcher
    ratio > 0.7, argmax over the sorted dictionary with strict improvement
    (ties keep the earlier name) — issuer_processor_v2.py:185-216 (J3)."""
    if text in drawer_dict:
        return text, 1.0
    best_match, best_score = None, 0.0
    for drawer in drawer_dict:
        if text in drawer:
            similarity = len(text) / len(drawer)
            if similarity > 0.6 and similarity > best_score:
                best_match, best_score = drawer, similarity
        elif drawer in text:
            similarity = len(drawer) / len(text)
            if similarity > 0.6 and similarity > best_score:
                best_match, best_score = drawer, similarity
        else:
            similarity = difflib.SequenceMatcher(None, text, drawer).ratio()
            if similarity > 0.7 and similarity > best_score:
                best_match, best_score = drawer, similarity
    return best_match, best_score


def match_name_v3(text: str | None, drawer_dict: list[str],
                  cache: dict | None = None) -> str | None:
    if not text:
        return None
    key = text.upper()
    if cache is not None and key in cache:
        return cache[key]
    without_prefix = cleaning.remove_prefixes_v3(text)
    result = None
    for drawer in drawer_dict:
        if text.upper() == drawer or without_prefix.upper() == drawer:
            result = drawer
            break
    if result is None:
        for candidate in (text, without_prefix):
            u = candidate.upper()
            for cutoff in (0.85, 0.80, 0.75):
                matches = difflib.get_close_matches(u, drawer_dict, n=1, cutoff=cutoff)
                if matches:
                    result = matches[0]
                    break
            if result is not None:
                break
    if cache is not None:
        cache[key] = result
    return result
