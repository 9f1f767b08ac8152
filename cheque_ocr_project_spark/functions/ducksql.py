"""DuckDB renderers of the oracle predicates and stages.

This is the one module that renders an oracle predicate or stage into
DuckDB SQL — the twin of functions/columns.py, which builds the same stages
as Catalyst Columns. Where columns.py has a builder, the renderer here has
its name. Every DuckDB twin in plans/ (the registry's ``oracle_sql()``
rows and the flagship statements) is composed from these renderers, and
every regex and term list they share with the oracle is read from
oracle/vocab.py, so a grammar fix lands in one place;
tests/test_ducksql_renderers.py checks each predicate against its oracle
function on the adversarial synthetic corpus.

The renderers read the same vocab entries as the Column builders (RE2 regex
dialect, explicit 'g' flag for global replace). ``any_term`` renders its
terms sorted, so no SQL text depends on set order (the hash seed). Every
fragment follows the oracle condition for condition, in the oracle's
float operation order, so doubles are bit-identical.

A renderer pastes its argument once per read, dozens of times for the
predicates: pass a column or lambda parameter, never a derived expression.
An ordered cascade (the first candidate that passes a predicate) goes
through ``first_where``, which renders the predicate once.
"""

from __future__ import annotations

from cheque_ocr_project_spark.oracle import vocab
from cheque_ocr_project_spark.oracle.classify import (
    CHEQUE_CLASSES, ORDER, ChequeClasses, ChequeOutputs,
)
from cheque_ocr_project_spark.oracle.grammars import FieldGrammars

NL = "chr(10)"


def q(s: str) -> str:
    """Quote a SQL string literal (single-quote doubling)."""
    return "'" + s.replace("'", "''") + "'"


_WS_SET = r" \t\n\x0b\f\r"


def _re2_ws(pat: str) -> str:
    """Rewrite \\s for the RE2 dialect: Java's and Python's \\s include
    \\x0b (vertical tab), RE2's does not — so every \\s in a shared pattern
    is expanded to the explicit ASCII set before rendering. Inside a
    character class the set is spliced bare; outside it gets brackets."""
    out = []
    in_class = False
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "\\" and i + 1 < len(pat):
            nxt = pat[i + 1]
            if nxt == "s":
                out.append(_WS_SET if in_class else f"[{_WS_SET}]")
            elif nxt == "S":
                # inverse split: RE2 \S matches \x0b, Java \S does not
                if in_class:
                    raise ValueError(
                        r"\S inside a character class has no bracket-free "
                        "expansion; spell the class out explicitly"
                    )
                out.append(f"[^{_WS_SET}]")
            else:
                out.append(c + nxt)
            i += 2
            continue
        if c == "[" and not in_class:
            in_class = True
        elif c == "]" and in_class:
            in_class = False
        out.append(c)
        i += 1
    return "".join(out)


def rx(pat: str) -> str:
    """Quote a regex for DuckDB (RE2; backslashes literal in SQL strings),
    normalizing the whitespace-class dialect split via _re2_ws."""
    return q(_re2_ws(pat))


def rr(expr: str, pat: str, repl: str) -> str:
    return f"regexp_replace({expr}, {rx(pat)}, {q(repl)}, 'g')"


# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------

def any_term(expr: str, terms) -> str:
    """OR-of-contains (null-safe False), = columns.any_term."""
    ors = " OR ".join(f"contains({expr}, {q(t)})" for t in sorted(terms))
    return f"coalesce(({ors}), FALSE)"


def first_where(cands, pred) -> str:
    """The first non-NULL candidate, in order, that passes ``pred`` (NULL
    if none; = the Catalyst twins' F.get(F.filter(...), 0)); a guarded
    candidate is ``CASE WHEN <guard> THEN <cand> END``. ``pred`` is rendered
    once, over a lambda parameter that no renderer uses inside."""
    ok = f"fw_c IS NOT NULL AND {pred('fw_c')}"
    return f"list_filter([{', '.join(cands)}], fw_c -> {ok})[1]"


def n_alpha(expr: str) -> str:
    return f"length(regexp_replace(coalesce({expr}, ''), {rx(vocab.NON_ALPHA)}, '', 'g'))"


def n_digit(expr: str) -> str:
    return f"length(regexp_replace(coalesce({expr}, ''), '[^0-9]', '', 'g'))"


def collapse_ws(expr: str) -> str:
    """Whitespace runs to one space, then trim (= columns.collapse_ws)."""
    inner = rr(expr, r"\s+", " ")  # rx() expands the class
    return f"trim({inner})"


def text_fingerprint(expr: str) -> str:
    """md5 of the whitespace-collapsed, upper-cased text
    (= columns.text_fingerprint)."""
    return f"md5({collapse_ws(f'upper({expr})')})"


def lower_terms(expr: str) -> str:
    """The lowercase letter runs of expr (= columns.lower_terms)."""
    return f"regexp_extract_all(lower({expr}), '[a-z]+')"


def doc_words(expr: str) -> str:
    """expr trimmed of spaces, then split on whitespace runs
    (= columns.doc_words)."""
    ws = rx(r"\s+")
    return f"regexp_split_to_array(trim({expr}), {ws})"


def pystrip(expr: str) -> str:
    """Python str.strip() analog (DuckDB trim strips spaces only).

    Dialect note: rx() expands \\s to the Java set [ \\t\\n\\x0b\\f\\r],
    which is also what Catalyst evaluates — SQL twin and engine agree
    exactly. Python's own strip()/\\s additionally treat \\x1c-\\x1f,
    \\x85 and unicode spaces as whitespace, so the PYTHON-oracle-backed
    paths can differ from both engines on those characters; the input
    contract is text whose whitespace falls within the Java \\s set (a
    production ingest normalizes exotic separators at the scan)."""
    return rr(expr, r"^\s+|\s+$", "")


def words_of(expr: str) -> str:
    """Python str.split() for the Java \\s set: the non-whitespace runs
    (= columns.words_of)."""
    word = rx(r"\S+")
    return f"regexp_extract_all({expr}, {word})"


def nonblank_lines(expr: str) -> str:
    """The lines of ``expr`` that hold a non-whitespace character
    (= oracle.issuer.split_lines without the confidences)."""
    return (
        f"list_filter(string_split({expr}, {NL}), "
        f"ln -> regexp_matches(ln, '[^ \\t\\n\\x0b\\f\\r]'))"
    )


def chain_replace(expr: str, pairs) -> str:
    """Ordered literal replace chain (DuckDB replace())."""
    s = expr
    for wrong, right in pairs:
        s = f"replace({s}, {q(wrong)}, {q(right)})"
    return s


def chain_regex_strip(expr: str, patterns, flags: str = "gi") -> str:
    s = expr
    for p in patterns:
        s = f"regexp_replace({s}, {rx(p)}, '', '{flags}')"
    return s


# --------------------------------------------------------------------------
# cleaning  (oracle.cleaning, oracle.boilerplate)
# --------------------------------------------------------------------------

def clean_text_v1(expr: str) -> str:
    """= oracle.cleaning.clean_text_v1."""
    s = f"translate(upper({expr}), '01|5', 'OIIS')"
    s = rr(s, vocab.NON_CHARSET_V1, " ")
    s = collapse_ws(s)
    return (
        f"CASE WHEN {expr} IS NULL OR length({expr}) = 0 THEN 'XXX' ELSE {s} END"
    )


def clean_text_v3(expr: str) -> str:
    """= oracle.cleaning.clean_text_v3."""
    s = f"replace(translate(upper({expr}), '|!015', 'IIOIS'), '8', 'B')"
    s = rr(s, vocab.NON_CHARSET_V3, " ")
    s = collapse_ws(s)
    return (
        f"CASE WHEN {expr} IS NULL OR length({expr}) = 0 THEN '' ELSE {s} END"
    )


def remove_prefixes_v3(expr: str) -> str:
    """= oracle.cleaning.remove_prefixes_v3 over non-empty text."""
    return pystrip(chain_regex_strip(f"upper({expr})", vocab.PREFIX_PATTERNS_V3))


def clean_payee(expr: str) -> str:
    """= oracle.cleaning.clean_payee."""
    s = pystrip(f"upper({expr})")
    s = chain_regex_strip(s, vocab.TITLE_PATTERNS)
    s = chain_replace(s, vocab.SPECIAL_CHAR_MAP)
    s = chain_regex_strip(s, vocab.COMPANY_SUFFIX_PATTERNS)
    s = collapse_ws(s)
    # \w == [0-9A-Za-z_] in both dialects for ASCII input
    s = rr(s, vocab.NON_WORDISH, "")
    return (
        f"CASE WHEN {expr} IS NULL OR length({expr}) = 0 OR length({s}) < 2 "
        f"THEN 'XXX' ELSE {s} END"
    )


def correct_spelling(expr: str) -> str:
    """= oracle.cleaning.correct_spelling_ai, UPPER form (DuckDB lacks
    initcap, so queries compare the UPPER form — the Spark query must
    upper() its result to match)."""
    s = f"upper({expr})"
    s = chain_replace(s, vocab.SPELLING_CORRECTIONS)
    s = chain_replace(s, [(w, "") for w in vocab.GARBAGE_WORDS])
    s = collapse_ws(s)
    s = rr(s, vocab.NON_ALPHA_SPACE, "")
    return (
        f"CASE WHEN {expr} IS NULL OR length({expr}) = 0 THEN 'UNKNOWN' "
        f"WHEN length({s}) >= 3 THEN {s} ELSE 'UNKNOWN' END"
    )


def plain_main(expr: str) -> str:
    """= oracle.boilerplate.extract_plain."""
    lines = (
        f"list_filter(list_transform(string_split({expr}, {NL}), "
        f"ln -> {collapse_ws('ln')}), x -> x <> '')"
    )
    return f"array_to_string({lines}, {NL})"


def html_main(text: str) -> str:
    """= oracle.boilerplate.extract_html_main."""
    lines = (
        f"list_filter(string_split({text}, {NL}), "
        f"ln -> NOT regexp_matches(ln, {rx('(?i)' + vocab.SCRIPT_HINT_PATTERN)}))"
    )
    stripped = f"regexp_replace(ln, {rx(vocab.TAG_PATTERN)}, '', 'g')"
    visible = collapse_ws(stripped)
    tagd = f"(length(ln) - length({stripped})) * 1.0 / nullif(length(ln), 0)"
    anchor_len = (
        "list_sum(list_prepend(CAST(0 AS BIGINT), list_transform("
        f"regexp_extract_all(ln, {rx('(?i)' + vocab.ANCHOR_PATTERN)}, 1), "
        f"m -> CAST(length(regexp_replace(m, {rx(vocab.TAG_PATTERN)}, '', 'g')) "
        "AS BIGINT))))"
    )
    linkd = (
        f"CASE WHEN length({visible}) > 0 "
        f"THEN {anchor_len} * 1.0 / length({visible}) ELSE 1.0 END"
    )
    stats = (
        f"list_transform({lines}, ln -> struct_pack("
        f"vis := {visible}, tagd := {tagd}, linkd := {linkd}))"
    )
    kept = (
        f"list_filter({stats}, s -> length(s.vis) >= 25 "
        f"AND s.tagd < 0.6 AND s.linkd < 0.34)"
    )
    return f"array_to_string(list_transform({kept}, s -> s.vis), {NL})"


def pdf_main(text: str) -> tuple[str, str]:
    """= oracle.boilerplate.extract_pdf_main, as (the collapsed non-empty
    lines, the kept text over them bound as ``lines0``)."""
    raw = f"string_split(replace({text}, chr(12), {NL}), {NL})"
    lines = (
        f"list_filter(list_transform({raw}, ln -> {collapse_ws('ln')}), "
        f"x -> x <> '')"
    )
    page_rx = rx("(?i)" + vocab.PAGE_NO_PATTERN)
    kept = (
        f"list_filter(lines0, ln -> NOT regexp_matches(ln, {page_rx}) "
        f"AND len(list_filter(lines0, x -> x = ln)) < 3)"
    )
    # lines0 must be bound by the enclosing SELECT
    return lines, f"array_to_string({kept}, {NL})"


# --------------------------------------------------------------------------
# predicates  (oracle.predicates)
# --------------------------------------------------------------------------

_GARBAGE_RX = "|".join(f"(?:{p})" for p in vocab.GARBAGE_SEARCH_PATTERNS)


def is_garbage(expr: str) -> str:
    """= oracle.predicates.is_garbage (null-safe TRUE)."""
    return (
        f"({expr} IS NULL OR length({expr}) = 0 OR {n_alpha(expr)} < 3 "
        f"OR {n_digit(expr)} > {n_alpha(expr)} "
        f"OR coalesce(regexp_matches({expr}, {rx(_GARBAGE_RX)}), FALSE))"
    )


def is_junk_v1(expr: str) -> str:
    """= oracle.predicates.is_junk_v1."""
    u = f"upper({expr})"
    return (
        f"({expr} IS NULL OR length({expr}) < 3 "
        f"OR {any_term(u, vocab.JUNK_TERMS_V1)} "
        f"OR {any_term(u, vocab.JUNK_MARKERS_V1)})"
    )


def _bank_hits(expr: str) -> str:
    return " + ".join(
        f"(CASE WHEN contains({expr}, {q(t)}) THEN 1 ELSE 0 END)"
        for t in sorted(vocab.BANK_TERMS)
    )


def is_valid_drawer_v1(t: str) -> str:
    """= oracle.predicates.is_valid_drawer_v1 over *cleaned* (non-null,
    upper) text. ``t`` must be a column or lambda parameter: it is read
    about a hundred times."""
    alpha = n_alpha(t)
    digits = n_digit(t)
    total = f"length({t})"
    n_words = f"len({words_of(t)})"
    has_ms = f"contains({t}, 'M/S')"
    dot_count = f"({total} - length(regexp_replace({t}, '\\.', '', 'g')))"
    hyphen_parts = f"len(string_split({t}, '-'))"
    no_dots = f"regexp_replace({t}, '\\.', '', 'g')"
    alpha_after_dot = n_alpha(no_dots)
    ratio = f"({alpha} * 1.0 / nullif({total}, 0))"
    reject = " OR ".join([
        is_junk_v1(t),
        any_term(f"upper({t})", vocab.BANK_TERMS),
        f"contains({t}, 'BANK')",
        f"contains({t}, 'PLEASE')",
        f"({dot_count} > 2 AND NOT {has_ms})",
        any_term(t, vocab.LOCATION_KEYWORDS),
        f"({total} = 0)",
        f"({digits} > {alpha} AND {alpha} < 4)",
        f"({total} > 6 AND {ratio} < 0.45)",
        f"(({_bank_hits(t)}) > 0 AND {alpha} < 8)",
        f"({total} < 5)",
        f"({digits} >= 3)",
        f"(NOT contains({t}, ' ') AND {digits} = 0 AND {alpha} >= 5 AND {is_garbage(t)})",
        f"(NOT contains({t}, ' ') AND {digits} > 0)",
        f"contains({t}, 'NOTOVER')",
        f"contains({t}, 'NOT OVER')",
        f"(contains({t}, 'RS') AND {n_words} <= 3)",
        f"(contains({t}, '/') AND NOT {has_ms})",
        f"(contains({t}, '-') AND {hyphen_parts} > 3)",
        f"(contains({t}, '.') AND {alpha_after_dot} = 0)",
        f"({digits} > {alpha})",
        f"({ratio} < 0.6)",
        is_garbage(t),
    ])
    return f"NOT coalesce(({reject}), FALSE)"


def looks_like_real_name(t: str) -> str:
    """= oracle.predicates.looks_like_real_name over raw case-preserved
    text."""
    tt = f"coalesce({t}, '')"
    letters = n_alpha(tt)
    digits = n_digit(tt)
    total = f"length({tt})"
    special = f"({total} - length(regexp_replace({tt}, '[^A-Za-z0-9 ]', '', 'g')))"
    u = f"upper({tt})"
    words = words_of(u)
    common = common_name_part_count(words)
    n_words = f"len({words})"
    suspicious = " OR ".join(
        f"(contains({u}, {q(s)}) AND {len(s)} > {total} / 2)"
        for s in vocab.SUSPICIOUS_NAME_TERMS
    )
    mwg = (
        f"len(list_filter({words}, w -> length(w) < 2 OR {is_garbage('w')})) > 0"
    )
    short_ok = ", ".join(q(w) for w in vocab.SHORT_NAME_OK)
    reject = " OR ".join([
        f"({t} IS NULL)",
        f"({total} = 0)",
        f"({u} = 'XXX')",
        f"({digits} > {letters} AND {letters} < 5)",
        f"({total} < 4 AND {u} NOT IN ({short_ok}))",
        f"({special} > 3)",
        is_garbage(tt),
        f"({suspicious})",
        f"({common} = 0 AND {n_words} >= 2 AND ({mwg}))",
        f"({common} = 0 AND {n_words} = 1 AND ({total} < 5 OR {is_garbage(tt)}))",
    ])
    return f"NOT coalesce(({reject}), FALSE)"


def common_name_part_count(words: str) -> str:
    """Count of words (with duplicates) that are COMMON_NAME_PARTS
    (= columns.common_name_part_count)."""
    common_set = ", ".join(q(w) for w in sorted(vocab.COMMON_NAME_PARTS))
    return f"len(list_filter({words}, w -> upper(w) IN ({common_set})))"


def is_junk_v3(u: str) -> str:
    """= oracle.predicates.is_junk_v3 over an upper-cased expression
    (= columns.is_junk_v3)."""
    caps_ok = ", ".join(q(t) for t in vocab.SHORT_CAPS_OK_V3)
    short_caps = (
        f"(regexp_matches({u}, {rx(vocab.SHORT_CAPS_PATTERN)}) "
        f"AND {u} NOT IN ({caps_ok}))"
    )
    pats = " OR ".join(
        f"(regexp_matches({u}, {rx(p)}, 'i') AND "
        f"length(regexp_extract({u}, {rx(p)}, 0, 'i')) >= length({u}) * 0.6)"
        for p in vocab.JUNK_PATTERNS_V3
    )
    variations = " OR ".join(
        f"(contains({u}, {q(j)}) AND {len(j)} >= length({u}) * 0.5)"
        for j in vocab.JUNK_VARIATIONS_V3
    )
    return (
        f"({u} IS NULL OR length({u}) < 2 OR {short_caps} OR {pats} "
        f"OR {variations})"
    )


def is_valid_business_v3(u: str, junk: str | None = None) -> str:
    """= oracle.predicates.is_valid_business_name_v3 over an upper-cased
    expression. ``junk``: a column already holding ``is_junk_v3(u)``, so
    the caller renders that predicate once per value."""
    bank_hit = " OR ".join(
        f"(contains({u}, {q(b)}) AND {len(b)} >= length({u}) * 0.7)"
        for b in vocab.BANK_NAMES_V3
    )
    alpha = n_alpha(u)
    digits = n_digit(u)
    total = f"length({u})"
    return f"""({u} IS NOT NULL AND length({u}) >= 3
      AND NOT {junk or is_junk_v3(u)}
      AND NOT ({bank_hit})
      AND (CASE WHEN {digits} > 0 AND {alpha} = 0 THEN length({u}) >= 8
           ELSE NOT (CASE WHEN {alpha} > 0
                     THEN ({alpha} * 1.0 / {total} < 0.3 AND {total} > 5
                           AND NOT ({digits} > 5))
                     ELSE FALSE END) END))"""


def is_valid_drawer_v3(u: str, junk: str | None = None) -> str:
    """= oracle.predicates.is_valid_drawer_v3 over an upper-cased
    expression; ``junk`` as in is_valid_business_v3."""
    junk = junk or is_junk_v3(u)
    return (
        f"({u} IS NOT NULL AND length({u}) >= 3 "
        f"AND NOT {junk} AND {is_valid_business_v3(u, junk)})"
    )


def is_bank_or_metadata(expr: str) -> str:
    """= oracle.predicates.is_bank_or_metadata."""
    u = f"upper({expr})"
    return (
        f"({any_term(u, vocab.PAYEE_BANK_TERMS)} OR "
        f"{any_term(u, vocab.PAYEE_METADATA_TERMS)})"
    )


# --------------------------------------------------------------------------
# classification, payee and government rules  (oracle.classify,
# oracle.grammars, oracle.govrules)
# --------------------------------------------------------------------------

def cheque_classes(u: str) -> ChequeClasses:
    """= oracle.classify.classify's conditions over upper-cased text, one
    per CHEQUE_CLASSES row (= columns.cheque_classes)."""
    crossed_rx = "|".join(f"(?:{p})" for p in vocab.CROSSED_PATTERNS)
    return ChequeClasses(
        cat3=f"(contains({u}, 'GOVERNMENT ACCOUNT') OR contains({u}, 'GOVT ACCOUNT'))",
        cat2=(
            f"(contains({u}, 'NOT TRANSFERABLE') AND "
            f"{any_term(u, vocab.GOVT_NOT_TRANSFERABLE_TERMS)})"
        ),
        cat1=(
            f"({any_term(u, vocab.GOVT_MARKERS_HIGH)} OR "
            f"{any_term(u, vocab.GOVT_MARKERS_MEDIUM)})"
        ),
        dd=any_term(u, vocab.DD_MARKERS),
        mc=any_term(u, vocab.MC_MARKERS),
        crossed=f"coalesce(regexp_matches({u}, {rx(crossed_rx)}), FALSE)",
        is_self=f"(contains({u}, 'SELF') AND len({words_of(u)}) < 15)",
    )


def cheque_outputs(c: ChequeClasses) -> ChequeOutputs:
    """The CHEQUE_CLASSES table over the cascade's conditions
    (= columns.cheque_outputs)."""
    def value(v) -> str:
        return q(v) if isinstance(v, str) else repr(v)

    def cascade(field: str) -> str:
        whens = " ".join(
            f"WHEN {getattr(c, r.condition)} THEN {value(getattr(r, field))}"
            for r in CHEQUE_CLASSES if getattr(r, field) is not None)
        default = getattr(ORDER, field)
        other = "" if default is None else f" ELSE {value(default)}"
        return f"CASE {whens}{other} END"

    govt = " OR ".join(
        getattr(c, r.condition) for r in CHEQUE_CLASSES if r.category)
    return ChequeOutputs(
        cascade("type"), cascade("confidence"), cascade("payee_rule"),
        cascade("category"), f"({govt})")


def field_grammars(t: str) -> FieldGrammars:
    """= oracle.grammars.extract_fields and extract_micr: each field's
    groups where its pattern matches, else NULL (= columns.field_grammars)."""
    def ex(p, g):
        return f"regexp_extract({t}, {rx(p)}, {g})"

    def on(p, value):
        return f"CASE WHEN regexp_matches({t}, {rx(p)}) THEN {value} END"

    date, amount, account, micr = (
        vocab.DATE_PATTERN, vocab.AMOUNT_PATTERN, vocab.ACCOUNT_NO_PATTERN,
        vocab.MICR_PATTERN)
    return FieldGrammars(
        on(date, " || ".join(ex(date, g) for g in (1, 2, 3))),
        on(amount, f"replace({ex(amount, 1)}, ',', '')"),
        on(account, ex(account, 1)),
        *[on(micr, ex(micr, g)) for g in (1, 2, 3)])


def payee_raw(u: str) -> str:
    """= oracle.grammars.extract_payee over upper-cased text, with the
    lookahead-free patterns: first candidate that is not bank/metadata."""
    return first_where(
        [f"CASE WHEN regexp_matches({u}, {rx(p)}) "
         f"THEN {pystrip(f'regexp_extract({u}, {rx(p)}, 1)')} END"
         for p in vocab.PAYEE_PATTERNS_SQLSAFE],
        lambda c: f"NOT {is_bank_or_metadata(c)}",
    )


def is_government_entity(x: str) -> str:
    """= oracle.govrules.is_government_entity (null/empty → FALSE)."""
    u = f"upper(coalesce({x}, ''))"
    pat = "|".join(f"(?:{p})" for p in vocab.GOVT_PAYEE_PATTERNS)
    return (
        f"(length({u}) > 0 AND ({any_term(u, vocab.GOVT_ENTITIES)} "
        f"OR coalesce(regexp_matches({u}, {rx(pat)}), FALSE) "
        f"OR (len({words_of(u)}) <= 4 AND {any_term(u, vocab.GOVT_INDICATORS)})))"
    )


def designation_literal(u: str) -> str:
    """= oracle.govrules.extract_officer_designation over upper-cased
    text (literal list scanned in order)."""
    whens = " ".join(
        f"WHEN contains({u}, {q(d)}) THEN {q(d)}"
        for d in vocab.OFFICER_DESIGNATIONS
    )
    return f"CASE {whens} ELSE NULL END"


# --------------------------------------------------------------------------
# line confidence  (oracle.issuer)
# --------------------------------------------------------------------------

def line_conf(ln: str) -> str:
    """= oracle.issuer.line_confidence: 0.6 + 0.4 * alpha_ratio (0.0 for
    empty)."""
    return (
        f"CASE WHEN length({ln}) = 0 THEN 0.0 "
        f"ELSE 0.6 + 0.4 * ({n_alpha(ln)} / length({ln})) END"
    )


def mean_line_conf(lines: str) -> str:
    """Mean line confidence over a line list (0.0 when empty), summed
    left to right like the oracle (= columns.mean_line_conf)."""
    fold = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform({lines}, ln -> {line_conf('ln')})), (a, b) -> a + b)"
    )
    return f"CASE WHEN len({lines}) > 0 THEN {fold} / len({lines}) ELSE 0.0 END"
