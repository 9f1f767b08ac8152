"""DuckDB oracle SQL for the flagship extraction pipeline (no-fuzzy variant).

Renders the ENTIRE deterministic flagship path — main-content strip (HTML /
PDF / plain), line relation, classification cascade, payee grammars +
government rules, per-line clean/validity/scoring, FOR-scan short-circuit,
top-1 select, threshold gates, status — as one DuckDB statement over the
documents-as-transcripts mapping. The only stage of the real flagship this
cannot express is the difflib fuzzy dictionary join (J2); with an empty
drawer dictionary that stage is the identity, so ``flagship_nofuzzy``
(plans/queries.py) is the SQL-provable twin of the flagship
(reference lifecycle: issuer_processor_v.py:378-496, ocr_engine.py:109-192,
cheque_classifier.py:122-194, government_payee_rules.py:127-175).

Every fragment renders the Python oracle (oracle/predicates.py,
oracle/boilerplate.py, oracle/issuer.py, ...) condition-for-condition, in
the oracle's float operation order, so doubles are bit-identical."""

from __future__ import annotations

from cheque_ocr_project_spark.functions import ducksql as D
from cheque_ocr_project_spark.oracle import vocab

THRESHOLD = 0.90
NL = "chr(10)"


# ---------------------------------------------------------------------------
# scalar fragment renderers (ducksql.py style)
# ---------------------------------------------------------------------------

def any_term(expr: str, terms) -> str:
    """OR-of-contains (null-safe False), = columns.any_term. Terms render
    sorted, so the SQL text does not depend on set order (the hash seed)."""
    ors = " OR ".join(f"contains({expr}, {D.q(t)})" for t in sorted(terms))
    return f"coalesce(({ors}), FALSE)"


def n_alpha(expr: str) -> str:
    return f"length(regexp_replace(coalesce({expr}, ''), '[^A-Za-z]', '', 'g'))"


def n_digit(expr: str) -> str:
    return f"length(regexp_replace(coalesce({expr}, ''), '[^0-9]', '', 'g'))"


def collapse(expr: str) -> str:
    """_collapse: ws-collapse then strip (input charset makes trim() safe)."""
    return f"trim(regexp_replace({expr}, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))"


def pystrip(expr: str) -> str:
    return D.pystrip_sql(expr)


def words_of(uexpr: str) -> str:
    """Python str.split(): any-whitespace split, empty tokens dropped."""
    return f"list_filter(string_split_regex({uexpr}, '[ \\t\\n\\x0b\\f\\r]+'), w -> w <> '')"


_GARBAGE_RX = "|".join(
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


def is_garbage(expr: str) -> str:
    """= columns.is_garbage (null-safe TRUE)."""
    return (
        f"({expr} IS NULL OR length({expr}) = 0 OR {n_alpha(expr)} < 3 "
        f"OR {n_digit(expr)} > {n_alpha(expr)} "
        f"OR coalesce(regexp_matches({expr}, {D.rx(_GARBAGE_RX)}), FALSE))"
    )


def is_junk_v1(expr: str) -> str:
    u = f"upper({expr})"
    return (
        f"({expr} IS NULL OR length({expr}) < 3 "
        f"OR {any_term(u, vocab.JUNK_TERMS_V1)} "
        f"OR {any_term(u, ('SIGN', 'SGN', 'BEARER', 'ORDER'))})"
    )


def bank_hits(expr: str) -> str:
    return " + ".join(
        f"(CASE WHEN contains({expr}, {D.q(t)}) THEN 1 ELSE 0 END)"
        for t in sorted(vocab.BANK_TERMS)
    )


def is_valid_drawer_v1(t: str) -> str:
    """= oracle.predicates.is_valid_drawer_v1 over *cleaned* (non-null,
    upper) text.
    ``t`` must be a simple column reference (it is repeated many times)."""
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
        f"(({bank_hits(t)}) > 0 AND {alpha} < 8)",
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
    common_set = ", ".join(D.q(w) for w in sorted(vocab.COMMON_NAME_PARTS))
    common = f"len(list_filter({words}, w -> w IN ({common_set})))"
    n_words = f"len({words})"
    suspicious = " OR ".join(
        f"(contains({u}, {D.q(s)}) AND {len(s)} > {total} / 2)"
        for s in vocab.SUSPICIOUS_NAME_TERMS
    )
    mwg = (
        f"len(list_filter({words}, w -> length(w) < 2 OR {is_garbage('w')})) > 0"
    )
    reject = " OR ".join([
        f"({t} IS NULL)",
        f"({total} = 0)",
        f"({u} = 'XXX')",
        f"({digits} > {letters} AND {letters} < 5)",
        f"({total} < 4 AND {u} NOT IN ('CO', 'LTD', 'PVT', 'INC', 'M/S'))",
        f"({special} > 3)",
        is_garbage(tt),
        f"({suspicious})",
        f"({common} = 0 AND {n_words} >= 2 AND ({mwg}))",
        f"({common} = 0 AND {n_words} = 1 AND ({total} < 5 OR {is_garbage(tt)}))",
    ])
    return f"NOT coalesce(({reject}), FALSE)"


def is_bank_or_metadata(expr: str) -> str:
    u = f"upper({expr})"
    return (
        f"({any_term(u, vocab.PAYEE_BANK_TERMS)} OR "
        f"{any_term(u, vocab.PAYEE_METADATA_TERMS)})"
    )


def is_government_entity(x: str) -> str:
    """= oracle.govrules.is_government_entity (null/empty → FALSE)."""
    u = f"upper(coalesce({x}, ''))"
    pat = "|".join(f"(?:{p})" for p in vocab.GOVT_PAYEE_PATTERNS)
    return (
        f"(length({u}) > 0 AND ({any_term(u, vocab.GOVT_ENTITIES)} "
        f"OR coalesce(regexp_matches({u}, {D.rx(pat)}), FALSE) "
        f"OR (len({words_of(u)}) <= 4 AND {any_term(u, vocab.GOVT_INDICATORS)})))"
    )


def designation_literal(u: str) -> str:
    whens = " ".join(
        f"WHEN contains({u}, {D.q(d)}) THEN {D.q(d)}"
        for d in vocab.OFFICER_DESIGNATIONS
    )
    return f"CASE {whens} ELSE NULL END"


# lookahead-free rewrites of vocab.PAYEE_PATTERNS — group 1 is identical
# (the asserted terminator becomes consumed; capture unaffected). full_text
# is newline-free so '$' dialects also agree.
PAYEE_PATTERNS_SQLSAFE = (
    r"PAY\s*TO\s*[:\s]*([A-Z][A-Z\s\.]+?)(\s+RUPEES|\s+RS\.?|\s*$)",
    r"ORDER\s*OF\s*[:\s]*([A-Z][A-Z\s\.]+?)(\s+RUPEES|\s+RS\.?|\s*$)",
    r"[Pp][Aa][Yy]\s*[:\s]*([A-Z][A-Z\s\.]{2,30})",
    r"BEARER\s*[:\s]*([A-Z][A-Z\s\.]+)",
    r"OR\s*BEARER\s*[:\s]*([A-Z][A-Z\s\.]+)",
    r"FAVOUR\s+OF\s*[:\s]*([A-Z][A-Z\s\.]+)",
    r"FAVOR\s+OF\s*[:\s]*([A-Z][A-Z\s\.]+)",
    r"BENEFICIARY\s*[:\s]*([A-Z][A-Z\s\.]+)",
    r"([A-Z][A-Z\s\.]{3,30})\s+(RUPEES|RS\.?)",
    r"^([A-Z][A-Z\s\.]{5,50})$",
)


def payee_raw(u: str) -> str:
    whens = []
    for p in PAYEE_PATTERNS_SQLSAFE:
        cand = pystrip(f"regexp_extract({u}, {D.rx(p)}, 1)")
        whens.append(
            f"WHEN regexp_matches({u}, {D.rx(p)}) "
            f"AND NOT {is_bank_or_metadata(cand)} THEN {cand}"
        )
    return "CASE " + " ".join(whens) + " ELSE NULL END"


def line_conf(ln: str) -> str:
    """= oracle.issuer.line_confidence: 0.6 + 0.4 * alpha_ratio (0.0 for
    empty)."""
    return (
        f"CASE WHEN length({ln}) = 0 THEN 0.0 "
        f"ELSE 0.6 + 0.4 * ({n_alpha(ln)} / length({ln})) END"
    )


# ---------------------------------------------------------------------------
# main-content strip (= oracle.boilerplate.main_content)
# ---------------------------------------------------------------------------

def html_main(text: str) -> str:
    lines = (
        f"list_filter(string_split({text}, {NL}), "
        f"ln -> NOT regexp_matches(ln, '(?i)<[ \\t\\n\\x0b\\f\\r]*(script|style)\\b'))"
    )
    stripped = "regexp_replace(ln, '<[^>]*>', '', 'g')"
    visible = collapse(stripped)
    tagd = f"(length(ln) - length({stripped})) * 1.0 / nullif(length(ln), 0)"
    anchor_len = (
        "list_sum(list_prepend(CAST(0 AS BIGINT), list_transform("
        "regexp_extract_all(ln, '(?i)<a\\b[^>]*>(.*?)</a>', 1), "
        "m -> CAST(length(regexp_replace(m, '<[^>]*>', '', 'g')) AS BIGINT))))"
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


def pdf_main(text: str) -> str:
    raw = f"string_split(replace({text}, chr(12), {NL}), {NL})"
    lines = (
        f"list_filter(list_transform({raw}, ln -> {collapse('ln')}), "
        f"x -> x <> '')"
    )
    page_rx = D.rx(r"(?i)^\s*(page\s+)?\d+(\s+of\s+\d+)?\s*$")
    kept = (
        f"list_filter(lines0, ln -> NOT regexp_matches(ln, {page_rx}) "
        f"AND len(list_filter(lines0, x -> x = ln)) < 3)"
    )
    # lines0 must be bound by the enclosing SELECT
    return lines, f"array_to_string({kept}, {NL})"


def plain_main(text: str) -> str:
    lines = (
        f"list_filter(list_transform(string_split({text}, {NL}), "
        f"ln -> {collapse('ln')}), x -> x <> '')"
    )
    return f"array_to_string({lines}, {NL})"


def content_sql() -> str:
    """content column over (role, text, tool) — evaluated in two layers so
    the pdf repeated-lines rule can reference its own line list."""
    pdf_lines, pdf_kept = pdf_main("text")
    has_tag = "(contains(text, '<') AND regexp_matches(text, '<[^>]*>'))"
    return f"""
  SELECT conv_id, turn_idx, role, text, tool,
    -- outer coalesce: DuckDB array_to_string([]) is NULL, but main_content
    -- of a fully-stripped payload is '' (a tool turn whose every line is
    -- dropped by the HTML/PDF heuristics must not poison the row with
    -- NULLs — caught by tests/test_flagship_sql_adversarial.py)
    coalesce(CASE
      WHEN role <> 'tool' THEN coalesce(text, '')
      WHEN text IS NULL OR length(text) = 0 THEN ''
      WHEN tool = 'web_fetch' OR {has_tag} THEN {html_main('text')}
      WHEN tool = 'pdf_extract' THEN {pdf_kept}
      ELSE {plain_main('text')}
    END, '') AS content
  FROM (
    SELECT conv_id, turn_idx, role, text, tool,
           CASE WHEN role = 'tool' AND tool = 'pdf_extract'
                THEN {pdf_lines} ELSE [] END AS lines0
    FROM transcripts
  )"""


# ---------------------------------------------------------------------------
# V3 variant (extract_turn_v3: clean_v3 → junk/validity v3 → conf top-1 →
# prefix strip → status cascade; empty dict ⇒ no fuzzy stage)
# ---------------------------------------------------------------------------

def clean_text_v3(expr: str) -> str:
    s = f"replace(translate(upper({expr}), '|!015', 'IIOIS'), '8', 'B')"
    s = D.rr(s, r"[^A-Za-z0-9 ,.&/-]", " ")
    s = D.collapse_ws(s)
    return (
        f"CASE WHEN {expr} IS NULL OR length({expr}) = 0 THEN '' ELSE {s} END"
    )


def remove_prefixes_v3(expr: str) -> str:
    s = D.chain_regex_strip_sql(f"upper({expr})", vocab.PREFIX_PATTERNS_V3)
    return D.pystrip_sql(s)


def sql_flagship_v3_nofuzzy(threshold: float = 0.85) -> str:
    from cheque_ocr_project_spark.plans.queries_v3 import _junk_v3_sql

    def valid_business_v3(u: str) -> str:
        bank_hit = " OR ".join(
            f"(contains({u}, {D.q(b)}) AND {len(b)} >= length({u}) * 0.7)"
            for b in vocab.BANK_NAMES_V3
        )
        alpha = n_alpha(u)
        digits = n_digit(u)
        total = f"length({u})"
        return f"""({u} IS NOT NULL AND length({u}) >= 3
      AND NOT {_junk_v3_sql(u)}
      AND NOT ({bank_hit})
      AND (CASE WHEN {digits} > 0 AND {alpha} = 0 THEN length({u}) >= 8
           ELSE NOT (CASE WHEN {alpha} > 0
                     THEN ({alpha} * 1.0 / {total} < 0.3 AND {total} > 5
                           AND NOT ({digits} > 5))
                     ELSE FALSE END) END))"""

    def valid_drawer_v3(u: str) -> str:
        return (
            f"({u} IS NOT NULL AND length({u}) >= 3 "
            f"AND NOT {_junk_v3_sql(u)} AND {valid_business_v3(u)})"
        )

    short_review = (
        "(length(issuer_v3) <= 4 AND regexp_matches(issuer_v3, '^[A-Za-z]+$')"
        " AND issuer_v3 NOT IN ('LTD', 'PVT', 'INC', 'CO.'))"
    )
    return f"""
WITH transcripts AS (
  SELECT source || '-' || CAST(doc_id // 2147483648 AS VARCHAR) AS conv_id, CAST(doc_id % 2147483648 AS INT) AS turn_idx,
         CASE WHEN doc_id % 3 = 0 THEN 'user'
              WHEN doc_id % 3 = 1 THEN 'assistant' ELSE 'tool' END AS role,
         text,
         CASE WHEN doc_id % 3 = 2 THEN
           (CASE WHEN doc_id % 2 = 0 THEN 'web_fetch' ELSE 'pdf_extract' END)
         END AS tool
  FROM documents
),
content AS ({content_sql()}),
turns AS (
  SELECT conv_id, turn_idx,
         list_filter(string_split(content, {NL}),
                     ln -> regexp_matches(ln, '[^ \\t\\n\\x0b\\f\\r]')) AS lines
  FROM content
),
lines_rel AS (
  SELECT conv_id, turn_idx,
         unnest(range(0, len(lines))) AS line_idx,
         unnest(lines) AS raw_line
  FROM turns
),
lines2 AS (
  SELECT conv_id, turn_idx, line_idx,
         {line_conf('raw_line')} AS conf,
         {clean_text_v3(pystrip('raw_line'))} AS cleaned
  FROM lines_rel
),
cands AS (
  SELECT conv_id, turn_idx, line_idx, conf, cleaned
  FROM lines2
  WHERE cleaned <> '' AND NOT {_junk_v3_sql('cleaned')}
    AND {valid_drawer_v3('cleaned')}
),
top1 AS (
  SELECT conv_id, turn_idx, cleaned AS best_cleaned, conf AS best_conf
  FROM cands
  QUALIFY row_number() OVER (PARTITION BY conv_id, turn_idx
                             ORDER BY conf DESC, line_idx ASC) = 1
),
per_turn AS (
  SELECT t.conv_id, t.turn_idx,
         CASE WHEN p.best_cleaned IS NULL THEN 'NO_VALID_TEXT'
              ELSE {remove_prefixes_v3('p.best_cleaned')} END AS issuer_v3,
         CASE WHEN p.best_cleaned IS NULL THEN 0.0
              ELSE p.best_conf END AS confidence_v3,
         CAST(NULL AS VARCHAR) AS matched_with
  FROM turns t
  LEFT JOIN top1 p ON p.conv_id = t.conv_id AND p.turn_idx = t.turn_idx
)
SELECT conv_id, turn_idx, issuer_v3, confidence_v3, matched_with,
  CASE
    WHEN issuer_v3 <> 'NO_VALID_TEXT' AND {_junk_v3_sql('issuer_v3')}
      THEN 'JUNK-FILTERED'
    WHEN confidence_v3 >= {threshold} AND length(issuer_v3) > 0
         AND issuer_v3 <> 'NO_VALID_TEXT'
      THEN (CASE WHEN {valid_drawer_v3('issuer_v3')}
                 THEN (CASE WHEN {short_review} THEN 'REVIEW-SHORT'
                            ELSE 'AUTO-UPDATED' END)
                 ELSE 'INVALID-TEXT' END)
    WHEN length(issuer_v3) > 0 AND issuer_v3 <> 'NO_VALID_TEXT'
         AND {valid_drawer_v3('issuer_v3')}
      THEN 'REVIEW'
    ELSE 'NO-TEXT'
  END AS status_v3
FROM per_turn"""


# ---------------------------------------------------------------------------
# full statement
# ---------------------------------------------------------------------------

def sql_flagship_nofuzzy(threshold: float = THRESHOLD) -> str:
    u = "upper(full_text)"
    cat3 = f"(contains({u}, 'GOVERNMENT ACCOUNT') OR contains({u}, 'GOVT ACCOUNT'))"
    cat2 = (
        f"(contains({u}, 'NOT TRANSFERABLE') AND "
        f"{any_term(u, ('GOVT', 'GOVERNMENT', 'PAO', 'DDO'))})"
    )
    cat1 = (
        f"({any_term(u, vocab.GOVT_MARKERS_HIGH)} OR "
        f"{any_term(u, vocab.GOVT_MARKERS_MEDIUM)})"
    )
    dd = any_term(u, vocab.DD_MARKERS)
    mc = any_term(u, vocab.MC_MARKERS)
    crossed_rx = "|".join(f"(?:{p})" for p in vocab.CROSSED_PATTERNS)
    crossed = f"coalesce(regexp_matches({u}, {D.rx(crossed_rx)}), FALSE)"
    is_self = f"(contains({u}, 'SELF') AND len({words_of(u)}) < 15)"
    has_text = "(n_lines > 0)"

    designation = designation_literal(u)
    payee_raw_u = "upper(coalesce(payee_raw, ''))"
    gov_payee = f"""CASE
      WHEN {cat3} THEN 'GOVERNMENT'
      WHEN {cat2} THEN (
        CASE WHEN ({designation}) IS NOT NULL
               THEN 'GOVERNMENT - ' || ({designation})
             WHEN length({payee_raw_u}) > 0
                  AND {any_term(payee_raw_u, vocab.OFFICER_DESIGNATIONS)}
               THEN 'GOVERNMENT - ' || payee_raw
             ELSE 'GOVERNMENT OFFICER' END)
      ELSE (CASE WHEN {is_government_entity('payee_raw')} THEN 'GOVERNMENT'
                 ELSE coalesce(payee_raw, 'XXX') END)
    END"""

    date_pat = D.rx(r"Date:\s*(\d{2})[./](\d{2})[./](\d{4})")
    amount_pat = D.rx(r"[₹Rs\.]*\s*([\d,]+(\.\d{2})?)[/\-]?")
    account_pat = D.rx(r"A/C No\.?[\s:]*(\d{10,20})")
    micr_pat = D.rx(vocab.MICR_PATTERN)

    # issuer per-line stages
    u_raw = "upper(stext)"
    marker_rx = D.rx("FOR |F/O |F/ |PROP ")
    for_line_rx = D.rx("FOR |F/O |F/|PROP ")

    scan_whens = []
    for m in vocab.FOR_MARKERS:
        cand = pystrip(f"substr(stext, strpos({u_raw}, {D.q(m)}) + {len(m)})")
        scan_whens.append(
            f"WHEN contains({u_raw}, {D.q(m)}) AND {looks_like_real_name(cand)} "
            f"THEN {cand}"
        )
    scan_cand = "CASE " + " ".join(scan_whens) + " ELSE NULL END"

    for_whens = []
    for m in vocab.FOR_MARKERS:
        pot = pystrip(f"substr(cleaned, strpos(cleaned, {D.q(m)}) + {len(m)})")
        for_whens.append(
            f"WHEN contains(cleaned, {D.q(m)}) AND {is_valid_drawer_v1(pot)} "
            f"THEN {pot}"
        )
    for_cand = "CASE " + " ".join(for_whens) + " ELSE NULL END"

    common_set = ", ".join(D.q(w) for w in sorted(vocab.COMMON_NAME_PARTS))
    fwords = words_of("final_text")
    n_fwords = f"len({fwords})"
    wc_boost = f"(CASE WHEN {n_fwords} >= 2 AND {n_fwords} <= 4 THEN 0.15 ELSE 0.0 END)"
    common_boost = (
        f"(0.1 * len(list_filter({fwords}, w -> upper(w) IN ({common_set}))))"
    )
    susp = any_term("final_text", vocab.SUSPICIOUS_SCORE_TERMS)
    normal_score = (
        f"(((conf + 0.0) + {wc_boost}) + {common_boost}) "
        f"- (CASE WHEN {susp} THEN 0.40 ELSE 0.0 END)"
    )

    return f"""
WITH transcripts AS (
  SELECT source || '-' || CAST(doc_id // 2147483648 AS VARCHAR) AS conv_id, CAST(doc_id % 2147483648 AS INT) AS turn_idx,
         CASE WHEN doc_id % 3 = 0 THEN 'user'
              WHEN doc_id % 3 = 1 THEN 'assistant' ELSE 'tool' END AS role,
         text,
         CASE WHEN doc_id % 3 = 2 THEN
           (CASE WHEN doc_id % 2 = 0 THEN 'web_fetch' ELSE 'pdf_extract' END)
         END AS tool
  FROM documents
),
content AS ({content_sql()}),
turns AS (
  SELECT conv_id, turn_idx, content,
         list_filter(string_split(content, {NL}),
                     ln -> regexp_matches(ln, '[^ \\t\\n\\x0b\\f\\r]')) AS lines,
         len(list_filter(string_split(content, {NL}),
                         ln -> regexp_matches(ln, '[^ \\t\\n\\x0b\\f\\r]'))) AS n_lines
  FROM content
),
turn_level AS (
  SELECT conv_id, turn_idx, lines, n_lines,
         array_to_string(lines, ' ') AS full_text,
         CASE WHEN n_lines > 0 THEN
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(lines, ln -> {line_conf('ln')})),
             (a, b) -> a + b) / n_lines
         ELSE 0.0 END AS confidence
  FROM turns
),
classified AS (
  SELECT conv_id, turn_idx, lines, n_lines, full_text, confidence,
    CASE WHEN NOT {has_text} THEN NULL
         WHEN {cat3} THEN 'GOVT_GOVT_ACCOUNT'
         WHEN {cat2} THEN 'GOVT_NON_TRANSFERABLE'
         WHEN {cat1} THEN 'GOVT_NEGOTIABLE'
         WHEN {dd} THEN 'DEMAND_DRAFT'
         WHEN {mc} THEN 'MANAGERS_CHEQUE'
         WHEN {crossed} THEN 'CROSSED'
         WHEN {is_self} THEN 'SELF'
         ELSE 'ORDER' END AS cheque_type,
    CASE WHEN NOT {has_text} THEN FALSE ELSE ({cat3} OR {cat2} OR {cat1}) END
      AS is_government,
    CASE WHEN NOT {has_text} THEN NULL
         WHEN {cat3} THEN 'III' WHEN {cat2} THEN 'II' WHEN {cat1} THEN 'I'
         END AS government_category,
    CASE WHEN NOT {has_text} THEN NULL
         WHEN {cat3} THEN 'government_account'
         WHEN {cat2} THEN 'government_officer'
         WHEN {cat1} THEN 'government_contractor'
         WHEN {dd} THEN 'dd_standard'
         WHEN {mc} THEN 'mc_standard'
         WHEN {crossed} THEN 'account_payee'
         WHEN {is_self} THEN 'self'
         ELSE 'standard' END AS payee_rule,
    CASE WHEN {has_text} THEN {payee_raw(u)} END AS payee_raw
  FROM turn_level
),
payeed AS (
  SELECT *,
    CASE WHEN NOT {has_text} THEN 'XXX'
         WHEN is_government THEN {gov_payee}
         WHEN payee_raw IS NOT NULL THEN {D.clean_payee_sql('payee_raw')}
         ELSE 'XXX' END AS payee_cleaned,
    CASE WHEN {has_text} AND regexp_matches(full_text, {date_pat})
         THEN regexp_extract(full_text, {date_pat}, 1)
           || regexp_extract(full_text, {date_pat}, 2)
           || regexp_extract(full_text, {date_pat}, 3) END AS field_date,
    CASE WHEN {has_text} AND regexp_matches(full_text, {amount_pat})
         THEN replace(regexp_extract(full_text, {amount_pat}, 1), ',', '')
         END AS field_amount,
    CASE WHEN {has_text} AND regexp_matches(full_text, {account_pat})
         THEN regexp_extract(full_text, {account_pat}, 1) END AS field_account,
    CASE WHEN {has_text} AND regexp_matches(full_text, {micr_pat})
         THEN regexp_extract(full_text, {micr_pat}, 1) END AS micr_city,
    CASE WHEN {has_text} AND regexp_matches(full_text, {micr_pat})
         THEN regexp_extract(full_text, {micr_pat}, 2) END AS micr_bank,
    CASE WHEN {has_text} AND regexp_matches(full_text, {micr_pat})
         THEN regexp_extract(full_text, {micr_pat}, 3) END AS micr_serial,
    {has_text} AS success,
    CASE WHEN NOT {has_text} THEN 'No text detected' END AS error
  FROM classified
),
lines_rel AS (
  SELECT conv_id, turn_idx,
         unnest(range(0, len(lines))) AS line_idx,
         unnest(lines) AS raw_line
  FROM turn_level
),
lines2 AS (
  SELECT conv_id, turn_idx, line_idx,
         {line_conf('raw_line')} AS conf,
         {pystrip('raw_line')} AS stext,
         {D.clean_text_v1_sql(pystrip('raw_line'))} AS cleaned
  FROM lines_rel
),
scan_hits AS (
  SELECT conv_id, turn_idx, scan_cand AS scan_name, conf AS scan_conf
  FROM (
    SELECT conv_id, turn_idx, line_idx, conf, {scan_cand} AS scan_cand
    FROM lines2
    WHERE regexp_matches({u_raw}, {marker_rx}) AND conf >= {threshold}
  ) WHERE scan_cand IS NOT NULL
  QUALIFY row_number() OVER (PARTITION BY conv_id, turn_idx
                             ORDER BY line_idx ASC) = 1
),
cand_lines AS (
  SELECT conv_id, turn_idx, line_idx, conf, cand AS final_text, TRUE AS is_for
  FROM (
    SELECT conv_id, turn_idx, line_idx, conf, {for_cand} AS cand
    FROM lines2 WHERE regexp_matches(cleaned, {for_line_rx})
  ) WHERE cand IS NOT NULL
  UNION ALL
  SELECT conv_id, turn_idx, line_idx, conf, cleaned AS final_text,
         FALSE AS is_for
  FROM lines2
  WHERE NOT regexp_matches(cleaned, {for_line_rx})
    AND {is_valid_drawer_v1('cleaned')}
),
scored AS (
  SELECT conv_id, turn_idx, line_idx, conf, final_text,
         CASE WHEN is_for THEN conf + 0.3 ELSE {normal_score} END AS score
  FROM cand_lines
),
top1 AS (
  SELECT conv_id, turn_idx, final_text AS top_name, conf AS top_conf
  FROM scored
  QUALIFY row_number() OVER (PARTITION BY conv_id, turn_idx
                             ORDER BY score DESC, line_idx ASC) = 1
),
issuer AS (
  SELECT p.conv_id, p.turn_idx,
    CASE WHEN s.scan_name IS NOT NULL THEN s.scan_name
         WHEN t.top_name IS NULL THEN 'XXX'
         WHEN t.top_conf < {threshold} THEN 'XXX'
         WHEN NOT {looks_like_real_name('t.top_name')} THEN 'XXX'
         ELSE t.top_name END AS issuer,
    CASE WHEN s.scan_name IS NOT NULL THEN s.scan_conf
         WHEN t.top_name IS NULL THEN 0.0
         WHEN t.top_conf < {threshold} THEN 0.0
         WHEN NOT {looks_like_real_name('t.top_name')} THEN 0.0
         ELSE t.top_conf END AS issuer_conf
  FROM payeed p
  LEFT JOIN scan_hits s ON s.conv_id = p.conv_id AND s.turn_idx = p.turn_idx
  LEFT JOIN top1 t ON t.conv_id = p.conv_id AND t.turn_idx = p.turn_idx
)
SELECT p.conv_id, p.turn_idx, p.success, p.error, p.cheque_type,
       p.is_government, p.government_category, p.payee_rule, p.payee_raw,
       p.payee_cleaned,
       i.issuer, i.issuer_conf,
       p.confidence, p.field_date, p.field_amount, p.field_account,
       p.micr_city, p.micr_bank, p.micr_serial,
       CASE WHEN i.issuer <> 'XXX' THEN 'AUTO-UPDATED' ELSE 'REJECTED' END
         AS status,
       '{vocab.FIXED_OPR_NO}' AS opr_no, FALSE AS file_mark
FROM payeed p
JOIN issuer i ON i.conv_id = p.conv_id AND i.turn_idx = p.turn_idx"""
