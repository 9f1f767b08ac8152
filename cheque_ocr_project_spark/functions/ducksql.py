"""DuckDB oracle-SQL fragment generators.

The driver verifies every ``queries()`` entry against DuckDB running
``oracle_sql()`` on the same parquet. These helpers render the *same* vocab
lists used by the Spark Column builders into DuckDB SQL (RE2 regex dialect,
explicit 'g' flag for global replace), so both sides share one source of
truth for every grammar.
"""

from __future__ import annotations

import re as _re

from cheque_ocr_project_spark.oracle import vocab


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


def esc_term(t: str) -> str:
    return _re.escape(t)


def any_term_sql(expr: str, terms) -> str:
    pat = "|".join(esc_term(t) for t in terms)
    return f"regexp_matches({expr}, {rx(pat)})"


def rr(expr: str, pat: str, repl: str) -> str:
    return f"regexp_replace({expr}, {rx(pat)}, {q(repl)}, 'g')"


def collapse_ws(expr: str) -> str:
    inner = rr(expr, r"\s+", " ")  # rx() expands the class
    return f"trim({inner})"


def clean_text_v1_sql(col: str) -> str:
    s = f"translate(upper({col}), '01|5', 'OIIS')"
    s = rr(s, r"[^A-Z0-9 .,&/-]", " ")
    s = collapse_ws(s)
    return (
        f"CASE WHEN {col} IS NULL OR length({col}) = 0 THEN 'XXX' ELSE {s} END"
    )


def n_alpha_sql(col: str) -> str:
    return f"length({rr(col, '[^A-Za-z]', '')})"


def n_digit_sql(col: str) -> str:
    return f"length({rr(col, '[^0-9]', '')})"


def is_garbage_sql(col: str) -> str:
    alpha = n_alpha_sql(col)
    digit = n_digit_sql(col)
    pats = "|".join(
        f"(?:{p})"
        for p in (
            r"O{4,}|I{4,}|Z{4,}",
            r"^[OIZ]{5,}$",
            r"^[A-Z][OIZ]{4,}$",
            r"[OIZ]{5,}",
            r"^[A-Z]{1,2}$",
            r"^[A-Z][\s]*[A-Z]$",
        )
    )
    return (
        f"({col} IS NULL OR length({col}) = 0 OR {alpha} < 3 "
        f"OR {digit} > {alpha} OR regexp_matches({col}, {rx(pats)}))"
    )


def is_junk_v1_sql(col: str) -> str:
    u = f"upper({col})"
    return (
        f"({col} IS NULL OR length({col}) < 3 "
        f"OR {any_term_sql(u, sorted(vocab.JUNK_TERMS_V1))} "
        f"OR {any_term_sql(u, ('SIGN', 'SGN', 'BEARER', 'ORDER'))})"
    )


def is_junk_v3_sql(u: str) -> str:
    """= columns.is_junk_v3 over an upper-cased expression."""
    caps_ok = ", ".join(q(t) for t in vocab.SHORT_CAPS_OK_V3)
    short_caps = (
        f"(regexp_matches({u}, '^[A-Z]{{2,4}}$') AND {u} NOT IN ({caps_ok}))"
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


def chain_replace_sql(expr: str, pairs) -> str:
    """Ordered literal replace chain (DuckDB replace())."""
    s = expr
    for wrong, right in pairs:
        s = f"replace({s}, {q(wrong)}, {q(right)})"
    return s


def chain_regex_strip_sql(expr: str, patterns, flags: str = "gi") -> str:
    s = expr
    for p in patterns:
        s = f"regexp_replace({s}, {rx(p)}, '', '{flags}')"
    return s


def pystrip_sql(expr: str) -> str:
    """Python str.strip() analog (DuckDB trim strips spaces only).

    Dialect note: rx() expands \\s to the Java set [ \\t\\n\\x0b\\f\\r],
    which is also what Catalyst evaluates — SQL twin and engine agree
    exactly. Python's own strip()/\\s additionally treat \\x1c-\\x1f,
    \\x85 and unicode spaces as whitespace, so the PYTHON-oracle-backed
    paths can differ from both engines on those characters; the input
    contract is text whose whitespace falls within the Java \\s set (a
    production ingest normalizes exotic separators at the scan)."""
    return rr(expr, r"^\s+|\s+$", "")


def clean_payee_sql(col: str) -> str:
    """= oracle.cleaning.clean_payee rendered for DuckDB."""
    s = pystrip_sql(f"upper({col})")
    s = chain_regex_strip_sql(s, vocab.TITLE_PATTERNS)
    s = chain_replace_sql(s, vocab.SPECIAL_CHAR_MAP)
    s = chain_regex_strip_sql(s, vocab.COMPANY_SUFFIX_PATTERNS)
    s = collapse_ws(s)
    # \w == [0-9A-Za-z_] in both dialects for ASCII input
    s = rr(s, r"[^\w\s\.\-]", "")
    return (
        f"CASE WHEN {col} IS NULL OR length({col}) = 0 OR length({s}) < 2 "
        f"THEN 'XXX' ELSE {s} END"
    )


def correct_spelling_sql(col: str) -> str:
    """= oracle.cleaning.correct_spelling_ai for DuckDB (initcap-free:
    DuckDB lacks initcap, so queries compare the UPPER form — the Spark
    query must upper() its result to match)."""
    s = f"upper({col})"
    s = chain_replace_sql(s, vocab.SPELLING_CORRECTIONS)
    s = chain_replace_sql(s, [(w, "") for w in vocab.GARBAGE_WORDS])
    s = collapse_ws(s)
    s = rr(s, r"[^A-Z\s]", "")
    return (
        f"CASE WHEN {col} IS NULL OR length({col}) = 0 THEN 'UNKNOWN' "
        f"WHEN length({s}) >= 3 THEN {s} ELSE 'UNKNOWN' END"
    )
