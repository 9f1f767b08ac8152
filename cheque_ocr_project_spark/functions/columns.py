"""Native Spark Column builders mirroring the oracle stages.

Everything here compiles to JVM-side Catalyst expressions (whole-stage
codegen; no Python in the hot path). This is the one module that builds an
oracle predicate or stage shared by several queries as a Catalyst Column —
the twin of functions/ducksql.py, which renders the same stages in DuckDB
SQL under the same names; both read their regexes and term lists from
oracle/vocab.py. Each builder cites the oracle function it must equal;
tests assert bit-equality on the synthetic fixture.

Regex-dialect note (SURVEY.md §7.4): the reference grammars are Python `re`;
these builders re-express them in Java regex. The equality tests are the
proof of parity — any grammar that cannot be proven equal stays in the
Arrow-batched UDF path instead (currently only difflib fuzzy matching).
"""

from __future__ import annotations

import re
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

from cheque_ocr_project_spark.oracle import vocab
from cheque_ocr_project_spark.oracle.classify import (
    CHEQUE_CLASSES, ORDER, ChequeClasses, ChequeOutputs,
)
from cheque_ocr_project_spark.oracle.grammars import FieldGrammars

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def any_term(col: Column, terms) -> Column:
    """True iff any literal term is a substring of col (null-safe False).

    OR-of-contains, not a regex alternation: UTF8String.contains is ~3-4x
    faster than java.util.regex literal alternations and scales linearly in
    term count (measured on 50k x 400-char rows: 90-term rlike 7.6s vs
    contains chain 2.4s). Set-typed terms are ORed sorted, so the plan does
    not depend on set order (the hash seed); tuple terms keep their source
    order, which is the short-circuit order."""
    if isinstance(terms, (set, frozenset)):
        terms = sorted(terms)
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


def replace_not_in(col: Column, chars: str, pattern: str,
                   replacement: str) -> Column:
    """= regexp_replace(col, pattern, replacement) for a negated-class
    ``pattern`` whose set is the literal ``chars``, with the regex run only
    on rows that actually contain an out-of-set char (translate dirty check;
    most cleaned OCR rows are already in-set)."""
    dirty = F.length(F.translate(col, chars, "")) > 0
    return F.when(
        dirty, F.regexp_replace(col, pattern, replacement)
    ).otherwise(col)


def when_chain(cases, otherwise: Column | None = None) -> Column:
    """CASE WHEN c1 THEN v1 WHEN c2 THEN v2 ... ELSE otherwise END over
    (condition, value) pairs, the first true condition winning like the
    oracle's ordered scans (a NULL string when ``otherwise`` is None)."""
    (c0, v0), *rest = cases
    chain = F.when(c0, v0)
    for c, v in rest:
        chain = chain.when(c, v)
    return chain.otherwise(
        F.lit(None).cast("string") if otherwise is None else otherwise)


def n_alpha(col: Column) -> Column:
    return count_chars(col, _ALPHA_CHARS)


def n_digit(col: Column) -> Column:
    return count_chars(col, _DIGIT_CHARS)


def collapse_ws(col: Column) -> Column:
    """Whitespace runs to one space, then trim (Python ' '.join(s.split())
    for the Java \\s set)."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def text_fingerprint(col: Column) -> Column:
    """md5 of the whitespace-collapsed, upper-cased text: the exact-dedup
    fingerprint."""
    return F.md5(collapse_ws(F.upper(col)))


def lower_terms(col: Column) -> Column:
    """The lowercase letter runs of col: the word terms of the corpus
    queries (token counts, stop-word ratios, n-grams)."""
    return F.regexp_extract_all(F.lower(col), F.lit("[a-z]+"), F.lit(0))


_JAVA_WS_RUN = re.compile(r"[ \t\n\x0b\f\r]+")


def split_words(text: str) -> list[str]:
    """words_of over a Python string, for the Arrow UDF stages: they split
    like their Catalyst and DuckDB twins (Python's str.split() also splits
    on EXOTIC_SEPARATORS, below)."""
    return [w for w in _JAVA_WS_RUN.split(text) if w]


def words_of(col: Column) -> Column:
    """Python str.split() for the Java \\s set: whitespace runs split,
    empty words dropped."""
    return F.filter(F.split(col, r"\s+"), lambda w: w != "")


def doc_words(col: Column) -> Column:
    """col trimmed of spaces, then split on whitespace runs: the words of
    the Gopher rules (an empty text is one empty word)."""
    return F.split(F.trim(col), r"\s+")


def pystrip(col: Column) -> Column:
    """Python str.strip(): ALL whitespace (Spark trim strips spaces only)."""
    return F.regexp_replace(col, r"^\s+|\s+$", "")


# --------------------------------------------------------------------------
# cleaning  (oracle.cleaning)
# --------------------------------------------------------------------------

def clean_text_v1(col: Column) -> Column:
    """= oracle.cleaning.clean_text_v1 (issuer_processor_v.py:208-218)."""
    s = F.upper(col)
    s = F.translate(s, "01|5", "OIIS")
    s = replace_not_in(s, "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,&/-",
                       vocab.NON_CHARSET_V1, " ")
    s = collapse_ws(s)
    return F.when(col.isNull() | (F.length(col) == 0), F.lit("XXX")).otherwise(s)


def clean_text_v3(col: Column) -> Column:
    """= oracle.cleaning.clean_text_v3."""
    s = F.upper(col)
    s = F.translate(s, "|!015", "IIOIS")
    s = F.replace(s, F.lit("8"), F.lit("B"))
    s = replace_not_in(s, _ALPHA_CHARS + "0123456789 ,.&/-",
                       vocab.NON_CHARSET_V3, " ")
    s = collapse_ws(s)
    return F.when(col.isNull() | (F.length(col) == 0), F.lit("")).otherwise(s)


def _chain_regex_strip(col: Column, patterns) -> Column:
    return reduce(lambda c, p: F.regexp_replace(c, f"(?i){p}", ""), patterns, col)


def remove_prefixes_v3(col: Column) -> Column:
    """= oracle.cleaning.remove_prefixes_v3 (ordered anchored strips)."""
    s = _chain_regex_strip(F.upper(col), vocab.PREFIX_PATTERNS_V3)
    return F.when(col.isNull(), col).otherwise(pystrip(s))


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
    s = collapse_ws(s)
    # r08 re-measurement: the negated-class regex was the single most
    # expensive step of the chain (0.61s vs a 0.33s stage floor at
    # sf1.0); the translate dirty-check guard now wins (0.27s) — the
    # r03 3x-tree-reference regression it was rejected for no longer
    # reproduces (codegen subexpression elimination carries the
    # multi-referenced chain; full-chain timing improved, see
    # OPTIMIZATION_r08.md).
    s = replace_not_in(s, _WORDISH_CHARS, vocab.NON_WORDISH, "")
    return F.when(
        col.isNull() | (F.length(col) == 0) | (F.length(s) < 2), F.lit("XXX")
    ).otherwise(s)


# --------------------------------------------------------------------------
# predicates  (oracle.predicates)
# --------------------------------------------------------------------------

def is_garbage(col: Column) -> Column:
    """= oracle.predicates.is_garbage."""
    alpha = n_alpha(col)
    digits = n_digit(col)
    rx = "|".join(f"(?:{p})" for p in vocab.GARBAGE_SEARCH_PATTERNS)
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
        | any_term(u, vocab.JUNK_MARKERS_V1)
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
    short_caps = u.rlike(vocab.SHORT_CAPS_PATTERN) & ~u.isin(*vocab.SHORT_CAPS_OK_V3)
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
    words = words_of(text)
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


# --------------------------------------------------------------------------
# classification and field grammars  (oracle.classify, oracle.grammars)
# --------------------------------------------------------------------------

def cheque_classes(u: Column) -> ChequeClasses:
    """= oracle.classify.classify's conditions over upper-cased text, one
    per CHEQUE_CLASSES row (= ducksql.cheque_classes)."""
    return ChequeClasses(
        cat3=u.contains("GOVERNMENT ACCOUNT") | u.contains("GOVT ACCOUNT"),
        cat2=(u.contains("NOT TRANSFERABLE")
              & any_term(u, vocab.GOVT_NOT_TRANSFERABLE_TERMS)),
        cat1=(any_term(u, vocab.GOVT_MARKERS_HIGH)
              | any_term(u, vocab.GOVT_MARKERS_MEDIUM)),
        dd=any_term(u, vocab.DD_MARKERS),
        mc=any_term(u, vocab.MC_MARKERS),
        crossed=F.coalesce(
            u.rlike("|".join(f"(?:{p})" for p in vocab.CROSSED_PATTERNS)),
            F.lit(False)),
        is_self=u.contains("SELF") & (F.size(words_of(u)) < 15),
    )


def cheque_outputs(c: ChequeClasses) -> ChequeOutputs:
    """The CHEQUE_CLASSES table over the cascade's conditions: each output
    is the value of the first row whose condition holds, else ORDER's."""
    def cascade(field: str) -> Column:
        rows = [r for r in CHEQUE_CLASSES if getattr(r, field) is not None]
        chain = F.when(getattr(c, rows[0].condition), getattr(rows[0], field))
        for r in rows[1:]:
            chain = chain.when(getattr(c, r.condition), getattr(r, field))
        default = getattr(ORDER, field)
        return chain if default is None else chain.otherwise(default)

    govt = [getattr(c, r.condition) for r in CHEQUE_CLASSES if r.category]
    return ChequeOutputs(
        cascade("type"), cascade("confidence"), cascade("payee_rule"),
        cascade("category"), reduce(lambda a, b: a | b, govt))


def field_grammars(t: Column) -> FieldGrammars:
    """= oracle.grammars.extract_fields and extract_micr: each field's
    groups where its pattern matches, else NULL (= ducksql.field_grammars)."""
    def ex(p, g):
        return F.regexp_extract(t, p, g)

    date, amount, account, micr = (
        vocab.DATE_PATTERN, vocab.AMOUNT_PATTERN, vocab.ACCOUNT_NO_PATTERN,
        vocab.MICR_PATTERN)
    return FieldGrammars(
        F.when(t.rlike(date), F.concat(*[ex(date, g) for g in (1, 2, 3)])),
        F.when(t.rlike(amount),
               F.replace(ex(amount, 1), F.lit(","), F.lit(""))),
        F.when(t.rlike(account), ex(account, 1)),
        *[F.when(t.rlike(micr), ex(micr, g)) for g in (1, 2, 3)])


# --------------------------------------------------------------------------
# payee grammar  (oracle.grammars)
# --------------------------------------------------------------------------

def payee_raw(u: Column) -> Column:
    """= oracle.grammars.extract_payee over upper-cased text: the first
    stripped PAYEE_PATTERNS_SQLSAFE candidate (ducksql.payee_raw's
    patterns) that is not bank/metadata. One regexp_extract per pattern
    behind its PAYEE_GUARDS prefilter (group 1 starts with [A-Z], so a
    non-empty extract <=> a match), and the bank/metadata gate once, in
    one filter lambda."""
    def cand(p: str, guards) -> Column:
        ex = pystrip(F.regexp_extract(u, p, 1))
        return F.when(any_term(u, guards), ex) if guards else ex

    cands = F.array(*[
        cand(p, g)
        for p, g in zip(vocab.PAYEE_PATTERNS_SQLSAFE, vocab.PAYEE_GUARDS)
    ])
    sel = F.filter(
        cands,
        lambda c: c.isNotNull() & (F.length(c) > 0) & ~is_bank_or_metadata(c),
    )
    return F.get(sel, 0)


# --------------------------------------------------------------------------
# line confidence  (oracle.issuer)
# --------------------------------------------------------------------------

def nonblank_lines(text: Column) -> Column:
    """The lines of text that hold a non-whitespace character
    (= oracle.issuer.split_lines without the confidences)."""
    return F.filter(F.split(text, "\n"), lambda ln: ln.rlike(r"\S"))


def line_conf(ln: Column) -> Column:
    """= oracle.issuer.line_confidence: 0.6 + 0.4 * alpha_ratio (0.0 for
    empty)."""
    return F.when(F.length(ln) == 0, F.lit(0.0)).otherwise(
        0.6 + 0.4 * (n_alpha(ln) / F.length(ln))
    )


def mean_line_conf(lines: Column) -> Column:
    """Mean line confidence over a line array (0.0 when empty), summed
    left to right like the oracle."""
    s = F.aggregate(lines, F.lit(0.0), lambda acc, ln: acc + line_conf(ln))
    return F.when(F.size(lines) > 0, s / F.size(lines)).otherwise(0.0)


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
