"""Native Spark Column builders mirroring the oracle stages.

Everything here compiles to JVM-side Catalyst expressions (whole-stage
codegen; no Python in the hot path). Each builder cites the oracle function
it must equal; tests assert bit-equality on the synthetic fixture.

Regex-dialect note (SURVEY.md §7.4): the reference grammars are Python `re`;
these builders re-express them in Java regex. The equality tests are the
proof of parity — any grammar that cannot be proven equal stays in the
Arrow-batched UDF path instead (currently only difflib fuzzy matching).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from cheque_ocr_project_spark.oracle import vocab

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def any_term(col: Column, terms) -> Column:
    """True iff any literal term is a substring of col (null-safe False).

    OR-of-contains, not a regex alternation: UTF8String.contains is ~3-4x
    faster than java.util.regex literal alternations and scales linearly in
    term count (measured on 50k x 400-char rows: 90-term rlike 7.6s vs
    contains chain 2.4s)."""
    hit = reduce(lambda a, b: a | b, [col.contains(t) for t in terms])
    return F.coalesce(hit, F.lit(False))


# java.util.regex perf cliff (measured, PLANS.md round 3): scanning a negated
# class with 3+ components ([^A-Z0-9 ]) costs ~40x a 1-2 range class — even
# with ZERO matches — so hot-path char counting goes through translate()
# (constant char table, no regex) and hot-path class replaces are guarded by
# a translate-based dirty check. Bit-identical: translate deletes exactly the
# listed chars.
_ALPHA_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
_DIGIT_CHARS = "0123456789"
# the literal char set of the class [\w\s.\-] (Java \w and \s are ASCII)
_WORDISH_CHARS = _ALPHA_CHARS + _DIGIT_CHARS + "_ \t\n\x0b\f\r.-"


def count_chars(col: Column, chars: str) -> Column:
    """Number of characters of col in the literal char set (0 for null),
    counted with translate(), not a negated-class regex (see above)."""
    c = F.coalesce(col, F.lit(""))
    return F.length(c) - F.length(F.translate(c, chars, ""))


def replace_not_in(col: Column, chars: str, char_class: str,
                   replacement: str) -> Column:
    """= regexp_replace(col, '[^<char_class>]', replacement), with the regex
    run only on rows that actually contain an out-of-set char (translate
    dirty check; most cleaned OCR rows are already in-set)."""
    dirty = F.length(F.translate(col, chars, "")) > 0
    return F.when(
        dirty, F.regexp_replace(col, f"[^{char_class}]", replacement)
    ).otherwise(col)


def n_alpha(col: Column) -> Column:
    return count_chars(col, _ALPHA_CHARS)


def n_digit(col: Column) -> Column:
    return count_chars(col, _DIGIT_CHARS)


# --------------------------------------------------------------------------
# cleaning  (oracle.cleaning)
# --------------------------------------------------------------------------

def clean_text_v1(col: Column) -> Column:
    """= oracle.cleaning.clean_text_v1 (issuer_processor_v.py:208-218)."""
    s = F.upper(col)
    s = F.translate(s, "01|5", "OIIS")
    s = replace_not_in(s, "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,&/-",
                       "A-Z0-9 .,&/-", " ")
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return F.when(col.isNull() | (F.length(col) == 0), F.lit("XXX")).otherwise(s)


def clean_text_v3(col: Column) -> Column:
    """= oracle.cleaning.clean_text_v3."""
    s = F.upper(col)
    s = F.translate(s, "|!015", "IIOIS")
    s = F.replace(s, F.lit("8"), F.lit("B"))
    s = replace_not_in(s, _ALPHA_CHARS + "0123456789 ,.&/-",
                       "A-Za-z0-9 ,.&/-", " ")
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    return F.when(col.isNull() | (F.length(col) == 0), F.lit("")).otherwise(s)


def _chain_regex_strip(col: Column, patterns) -> Column:
    return reduce(lambda c, p: F.regexp_replace(c, f"(?i){p}", ""), patterns, col)


def remove_prefixes_v3(col: Column) -> Column:
    """= oracle.cleaning.remove_prefixes_v3 (ordered anchored strips)."""
    s = _chain_regex_strip(F.upper(col), vocab.PREFIX_PATTERNS_V3)
    return F.when(col.isNull(), col).otherwise(pystrip(s))


def pystrip(col: Column) -> Column:
    """Python str.strip(): ALL whitespace (Spark trim strips spaces only)."""
    return F.regexp_replace(col, r"^\s+|\s+$", "")


def _guarded_chain_strip(col: Column, patterns) -> Column:
    """The ordered strip chain behind a one-scan combined-alternation
    guard (r08, mirrors oracle.cleaning's guard): when NO pattern matches
    the CURRENT string every sub in the chain is a no-op, so skipping the
    whole chain is exact — one regex scan instead of len(patterns) for
    the common no-match row. CASE branches are lazy in codegen and the
    double reference to ``col`` is CSE'd within the projection."""
    any_rx = "(?i)" + "|".join(f"(?:{p})" for p in patterns)
    return F.when(col.rlike(any_rx),
                  _chain_regex_strip(col, patterns)).otherwise(col)


def clean_payee(col: Column) -> Column:
    """= oracle.cleaning.clean_payee (ordered title/special/suffix chain)."""
    s = pystrip(F.upper(col))
    s = _guarded_chain_strip(s, vocab.TITLE_PATTERNS)
    for ch, repl in vocab.SPECIAL_CHAR_MAP:
        s = F.replace(s, F.lit(ch), F.lit(repl))
    s = _guarded_chain_strip(s, vocab.COMPANY_SUFFIX_PATTERNS)
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    # r08 re-measurement: the negated-class regex was the single most
    # expensive step of the chain (0.61s vs a 0.33s stage floor at
    # sf1.0); the translate dirty-check guard now wins (0.27s) — the
    # r03 3x-tree-reference regression it was rejected for no longer
    # reproduces (codegen subexpression elimination carries the
    # multi-referenced chain; full-chain timing improved, see
    # OPTIMIZATION_r08.md).
    s = replace_not_in(s, _WORDISH_CHARS, r"\w\s\.\-", "")
    return F.when(
        col.isNull() | (F.length(col) == 0) | (F.length(s) < 2), F.lit("XXX")
    ).otherwise(s)


# --------------------------------------------------------------------------
# predicates  (oracle.predicates)
# --------------------------------------------------------------------------

_GARBAGE_ANCHORED = (
    r"O{4,}|I{4,}|Z{4,}",     # search
    r"^[OIZ]{5,}$",
    r"^[A-Z][OIZ]{4,}$",
    r"[OIZ]{5,}",             # .*X.* under re.match == search
    r"^[A-Z]{1,2}$",
    r"^[A-Z][\s]*[A-Z]$",
)


def is_garbage(col: Column) -> Column:
    """= oracle.predicates.is_garbage."""
    alpha = n_alpha(col)
    digits = n_digit(col)
    rx = "|".join(f"(?:{p})" for p in _GARBAGE_ANCHORED)
    return (
        col.isNull()
        | (F.length(col) == 0)
        | (alpha < 3)
        | (digits > alpha)
        | F.coalesce(col.rlike(rx), F.lit(False))
    )


def is_junk_v1(col: Column) -> Column:
    """= oracle.predicates.is_junk_v1."""
    u = F.upper(col)
    return (
        col.isNull()
        | (F.length(col) < 3)
        | any_term(u, vocab.JUNK_TERMS_V1)
        | any_term(u, ("SIGN", "SGN", "BEARER", "ORDER"))
    )


_RX_META = set("\\^$.|?*+()[]{}")


def literal_prefix(pattern: str) -> str:
    """Leading literal run of a regex (chars before the first metachar) —
    a sound contains() prefilter: the pattern cannot match unless its
    literal prefix occurs in the text. If the run stops at a quantifier
    ('?', '*', '{'), the preceding char is optional/repeated and is dropped
    from the prefix (e.g. 'AUTHORISED?...' -> 'AUTHORISE')."""
    out = []
    for ch in pattern:
        if ch in _RX_META:
            if ch in "?*{" and out:
                out.pop()
            break
        out.append(ch)
    return "".join(out)


def is_junk_v3(u: Column) -> Column:
    """V3 junk rule over upper-cased text (60% / 50% coverage rules)."""
    short_caps = u.rlike(r"^[A-Z]{2,4}$") & ~u.isin(*vocab.SHORT_CAPS_OK_V3)
    # literal-prefix guards skip the regex for the ~90% of rows that lack
    # the pattern's anchor text (pure optimization, regex authoritative)
    pattern_hits = []
    for p in vocab.JUNK_PATTERNS_V3:
        # no separate rlike: regexp_extract returns '' on no-match, and the
        # >= length*0.6 test can only pass on a real match once length >= 2
        # (enforced below) — one regex scan per pattern instead of two
        hit = (
            F.length(F.regexp_extract(u, f"(?i){p}", 0)) >= F.length(u) * 0.6
        )
        prefix = literal_prefix(p)
        if len(prefix) >= 3:
            hit = u.contains(prefix) & hit
        pattern_hits.append(hit)
    variation_hits = [
        u.contains(j) & (F.lit(len(j)) >= F.length(u) * 0.5)
        for j in vocab.JUNK_VARIATIONS_V3
    ]
    return (
        u.isNull()
        | (F.length(u) < 2)
        | short_caps
        | reduce(lambda a, b: a | b, pattern_hits)
        | reduce(lambda a, b: a | b, variation_hits)
    )


def common_name_part_count(words: Column) -> Column:
    """Count of words (with duplicates) that are COMMON_NAME_PARTS —
    scoring semantics (issuer_processor_v.py:428-430)."""
    return F.size(
        F.filter(
            words,
            lambda w: F.upper(w).isin(*sorted(vocab.COMMON_NAME_PARTS)),
        )
    )


def score_name(text: Column) -> Column:
    """= oracle.predicates.score_name."""
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    n = F.size(words)
    score = F.lit(0.0)
    score = score + F.when((n >= 2) & (n <= 5), 0.3).otherwise(0.0)
    all_alpha = F.forall(words, lambda w: w.rlike(r"^[A-Za-z]+$"))
    score = score + F.when(all_alpha, 0.3).otherwise(0.0)
    score = score + 0.2 * common_name_part_count(words)
    return F.least(score, F.lit(1.0))


def is_bank_or_metadata(col: Column) -> Column:
    """= oracle.predicates.is_bank_or_metadata."""
    u = F.upper(col)
    return any_term(u, vocab.PAYEE_BANK_TERMS) | any_term(u, vocab.PAYEE_METADATA_TERMS)


# Every character Python's str.split()/\s treats as whitespace that Java's
# \s does NOT ([ \t\n\x0b\f\r]): the ASCII control separators, NEL, and the
# Unicode space separators. This is exactly the documented residual where
# the Python-oracle flagship path can diverge from its Catalyst twins
# (PLANS.md round 4); normalizing them to ' ' at the scan boundary makes
# every engine dialect agree on the input.
EXOTIC_SEPARATORS = (
    "\x1c\x1d\x1e\x1f\x85\xa0 "
    + "".join(chr(c) for c in range(0x2000, 0x200B))
    + "    　"
)


def normalize_separators(col: Column) -> Column:
    """Map the Python-only whitespace characters to a plain space — the
    default-on scan-boundary normalizer (job.py --normalize-ws; pass
    --no-normalize-ws to keep exotic separators byte-for-byte). A single
    translate (no regex engine, whole-stage-codegen friendly): 1:1
    char substitution is all the mapping needs."""
    return F.translate(col, EXOTIC_SEPARATORS, " " * len(EXOTIC_SEPARATORS))
