"""Flagship family: the extraction pipeline, its variants and model and
media stages as registry queries, with their DuckDB twins.

``sql_flagship_nofuzzy`` renders the ENTIRE deterministic flagship path —
main-content strip (HTML / PDF / plain), line relation, classification
cascade, payee grammars + government rules, per-line clean/validity/
scoring, FOR-scan short-circuit, top-1 select, threshold gates, status —
as one DuckDB statement over the documents-as-transcripts mapping. The
only stage of the real flagship this cannot express is the difflib fuzzy
dictionary join (J2); with an empty drawer dictionary that stage is the
identity, so ``flagship_nofuzzy`` is the SQL-provable twin of the flagship
(reference lifecycle: issuer_processor_v.py:378-496, ocr_engine.py:109-192,
cheque_classifier.py:122-194, government_payee_rules.py:127-175).

Every fragment renders the Python oracle (oracle/predicates.py,
oracle/boilerplate.py, oracle/issuer.py, ...) condition-for-condition, in
the oracle's float operation order, so doubles are bit-identical. The
model-phase twins render the deterministic fallbacks the registered model
queries run without ``transformers``; the media twins mirror
operators/multimodal.py's integer stub features.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import functions as F

from cheque_ocr_project_spark.functions import columns as C
from cheque_ocr_project_spark.functions import ducksql as D
from cheque_ocr_project_spark.operators import extract as X
from cheque_ocr_project_spark.operators import models as M
from cheque_ocr_project_spark.operators import multimodal as MM
from cheque_ocr_project_spark.operators.extract import par
from cheque_ocr_project_spark.oracle import issuer as oracle_issuer
from cheque_ocr_project_spark.oracle import vocab
from cheque_ocr_project_spark.oracle.variants import EARLY_EXIT, VARIANT_NAMES
from cheque_ocr_project_spark.plans import pipeline as P
from cheque_ocr_project_spark.plans.grammar import PAYEE_PATTERNS_SQLSAFE
from cheque_ocr_project_spark.plans.near_dup import poly_sql
from cheque_ocr_project_spark.plans.text_stats import STOPWORDS
from cheque_ocr_project_spark.sources import scratch
from cheque_ocr_project_spark.sources.io import (
    documents_as_transcripts, read_documents,
)
from cheque_ocr_project_spark.sources.synth import default_drawer_dict
from cheque_ocr_project_spark.streaming import stream as ST


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


def sql_flagship_v3_nofuzzy(
        threshold: float = oracle_issuer.DEFAULT_THRESHOLD_V3) -> str:
    def valid_business_v3(u: str) -> str:
        bank_hit = " OR ".join(
            f"(contains({u}, {D.q(b)}) AND {len(b)} >= length({u}) * 0.7)"
            for b in vocab.BANK_NAMES_V3
        )
        alpha = n_alpha(u)
        digits = n_digit(u)
        total = f"length({u})"
        return f"""({u} IS NOT NULL AND length({u}) >= 3
      AND NOT {D.is_junk_v3_sql(u)}
      AND NOT ({bank_hit})
      AND (CASE WHEN {digits} > 0 AND {alpha} = 0 THEN length({u}) >= 8
           ELSE NOT (CASE WHEN {alpha} > 0
                     THEN ({alpha} * 1.0 / {total} < 0.3 AND {total} > 5
                           AND NOT ({digits} > 5))
                     ELSE FALSE END) END))"""

    def valid_drawer_v3(u: str) -> str:
        return (
            f"({u} IS NOT NULL AND length({u}) >= 3 "
            f"AND NOT {D.is_junk_v3_sql(u)} AND {valid_business_v3(u)})"
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
  WHERE cleaned <> '' AND NOT {D.is_junk_v3_sql('cleaned')}
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
    WHEN issuer_v3 <> 'NO_VALID_TEXT' AND {D.is_junk_v3_sql('issuer_v3')}
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

def sql_flagship_nofuzzy(
        threshold: float = oracle_issuer.DEFAULT_THRESHOLD_V1) -> str:
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


# ---------------------------------------------------------------------------
# flagship: full extraction pipeline over documents-as-transcripts
# (difflib fuzzy join → rows-only check, no SQL oracle)
# ---------------------------------------------------------------------------

def q_flagship_extract(spark, sf_dir):
    transcripts = documents_as_transcripts(spark, sf_dir)
    return P.extract_pipeline(spark, transcripts, default_drawer_dict()).drop(
        "main_text"
    )


def q_flagship_nofuzzy(spark, sf_dir):
    """The flagship pipeline with an empty drawer dictionary: every stage
    except the difflib fuzzy join (which empty-dict reduces to the identity)
    — and therefore fully SQL-provable. The fuzzy flagship keeps its
    rows-only driver check; its correctness evidence is the pytest equality
    suite (arrow == pure-Python oracle)."""
    transcripts = documents_as_transcripts(spark, sf_dir)
    return P.extract_pipeline(spark, transcripts, []).drop("main_text")


def q_streaming_extract_nofuzzy(spark, sf_dir):
    """The incremental-ingest S-family path under the driver oracle:
    stream_extract (streaming/stream.py — foreachBatch over the SAME
    extract_turns_udf the batch flagship runs, parquet sink partitioned
    by batch_id for at-least-once idempotency; graft analog of the
    reference's incremental batch machinery, parallel_processor.py)
    driven availableNow over staged transcripts, then the SINK read back
    as the result. Empty drawer dictionary makes every stage exact-SQL
    (the fuzzy join reduces to the identity), so the oracle is the same
    sql_flagship_nofuzzy the batch row uses — proving streaming ingest
    lands bit-identical records to the batch pipeline, through the real
    parquet sink rather than a memory adapter. foreachBatch availableNow
    self-terminates (no state timers), so a plain awaitTermination is
    sound here, unlike the stateful adapters. Staging, sink and
    checkpoint dirs are pid-tagged scratch dirs; hour-old siblings of dead
    runs are swept."""
    scratch.sweep("extract_stream_")
    tr = documents_as_transcripts(spark, sf_dir)
    stage = scratch.mkdtemp("extract_stream_in_")
    tr.coalesce(1).write.mode("overwrite").parquet(stage)
    out_dir = scratch.mkdtemp("extract_stream_out_")
    ckpt = scratch.mkdtemp("extract_stream_ckpt_")
    q = ST.stream_extract(
        spark, stage, out_dir, ckpt, drawer_dict=[],
        threshold=oracle_issuer.DEFAULT_THRESHOLD_V1,
    )
    if not q.awaitTermination(240):
        q.stop()
        raise RuntimeError(
            "streaming extract did not terminate within 240s — refusing to "
            "read a potentially partial sink (loud-incomplete discipline, "
            "same as q_sessionize_streaming)"
        )
    return spark.read.parquet(out_dir).drop("batch_id", "main_text")


def q_flagship_extract_v3(spark, sf_dir):
    transcripts = documents_as_transcripts(spark, sf_dir)
    return X.extract_turns_v3_udf(spark, transcripts, default_drawer_dict())


def q_flagship_v3_nofuzzy(spark, sf_dir):
    """V3 pipeline with an empty drawer dictionary — the difflib stage is
    the identity, so the whole path is SQL-provable (same pattern as
    flagship_nofuzzy)."""
    transcripts = documents_as_transcripts(spark, sf_dir)
    return X.extract_turns_v3_udf(spark, transcripts, [])


# ---------------------------------------------------------------------------
# W2/P11: preprocessing-variant try-all-keep-best
# (issuer_processor_v2.py:296-330, IssuerBatchProcessorV3.py:374-393)
# ---------------------------------------------------------------------------

def _mean_line_conf(v):
    """Mean per-line confidence over the non-blank lines of ``v`` (0.0
    when there are none) — the variant score and the ensemble's OCR
    signal."""
    lines = F.filter(F.split(v, "\n"), lambda ln: ln.rlike(r"\S"))
    line_conf = lambda ln: (  # noqa: E731 — = oracle.issuer.line_confidence
        F.when(F.length(ln) == 0, F.lit(0.0)).otherwise(
            0.6 + 0.4 * (C.n_alpha(ln) / F.length(ln))
        )
    )
    s = F.aggregate(lines, F.lit(0.0), lambda acc, ln: acc + line_conf(ln))
    return F.when(F.size(lines) > 0, s / F.size(lines)).otherwise(0.0)


def q_variant_keep_best(spark, sf_dir):
    """W2 idiom end-to-end: variant struct columns collapsed with
    when-chain early exit (>= 0.95) + greatest() over structs (max conf,
    earliest variant on ties via neg_idx). = oracle.variants.keep_best."""
    t = F.coalesce(F.col("text"), F.lit(""))
    variants = [
        t,
        F.regexp_replace(t, r"<[^>]*>", ""),
        F.trim(F.regexp_replace(t, r"\s+", " ")),
    ]
    structs = []
    for i, (name, v) in enumerate(zip(VARIANT_NAMES, variants)):
        structs.append(
            F.struct(
                _mean_line_conf(v).alias("conf"),
                F.lit(-i).alias("neg_idx"),
                F.lit(name).alias("name"),
                v.alias("vtext"),
            )
        )
    chain = None
    for s in structs:
        hit = s.getField("conf") >= EARLY_EXIT
        chain = F.when(hit, s) if chain is None else chain.when(hit, s)
    chosen = chain.otherwise(F.greatest(*structs))

    lines = F.filter(
        F.split(F.col("ch.vtext"), "\n"), lambda ln: ln.rlike(r"\S")
    )
    u = F.upper(F.array_join(lines, " "))
    staged = (
        par(read_documents(spark, sf_dir))
        .select("doc_id", chosen.alias("ch"))
        .select(
            "doc_id",
            F.col("ch.name").alias("best_variant"),
            F.col("ch.conf").alias("best_conf"),
            u.alias("u"),
        )
        # Exchange barrier: the payee chain below references `u` ~270 times
        # (10 patterns x rlike/extract/25-term bank gate); without the
        # barrier CollapseProject would inline the whole variant-confidence
        # machinery into every reference (measured 97s -> ~3s at sf0.1).
        .repartition(F.col("doc_id"))
    )
    payee = None
    for p in PAYEE_PATTERNS_SQLSAFE:
        cand = F.regexp_replace(
            F.regexp_extract(F.col("u"), p, 1), r"^\s+|\s+$", ""
        )
        ok = F.col("u").rlike(p) & ~C.is_bank_or_metadata(cand)
        payee = F.when(ok, cand) if payee is None else payee.when(ok, cand)
    payee = payee.otherwise(F.lit(None).cast("string"))

    return staged.select(
        "doc_id", "best_variant", "best_conf", payee.alias("payee_raw")
    )


def sql_variant_keep_best():
    def vconf(v):
        lines = (
            f"list_filter(string_split({v}, chr(10)), "
            f"ln -> regexp_matches(ln, '[^ \\t\\n\\x0b\\f\\r]'))"
        )
        fold = (
            f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            f"list_transform({lines}, ln -> {line_conf('ln')})), "
            f"(a, b) -> a + b)"
        )
        return (
            f"CASE WHEN len({lines}) > 0 THEN {fold} / len({lines}) "
            f"ELSE 0.0 END"
        )

    return f"""
WITH v AS (
  SELECT doc_id, coalesce(text, '') AS t,
         regexp_replace(coalesce(text, ''), '<[^>]*>', '', 'g') AS dom,
         trim(regexp_replace(coalesce(text, ''), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g')) AS ws
  FROM documents
),
conf AS (
  SELECT doc_id, t, dom, ws,
         {vconf('t')} AS c0, {vconf('dom')} AS c1, {vconf('ws')} AS c2
  FROM v
),
pick AS (
  SELECT *, CASE WHEN c0 >= 0.95 THEN 0 WHEN c1 >= 0.95 THEN 1
                 WHEN c2 >= 0.95 THEN 2
                 WHEN c0 >= c1 AND c0 >= c2 THEN 0
                 WHEN c1 >= c2 THEN 1 ELSE 2 END AS bi
  FROM conf
),
sel AS (
  SELECT doc_id,
         CASE bi WHEN 0 THEN 'plain' WHEN 1 THEN 'dom_stripped'
                 ELSE 'ws_norm' END AS best_variant,
         CASE bi WHEN 0 THEN c0 WHEN 1 THEN c1 ELSE c2 END AS best_conf,
         CASE bi WHEN 0 THEN t WHEN 1 THEN dom ELSE ws END AS vtext
  FROM pick
),
ft AS (
  SELECT doc_id, best_variant, best_conf,
         upper(array_to_string(list_filter(string_split(vtext, chr(10)),
               ln -> regexp_matches(ln, '[^ \\t\\n\\x0b\\f\\r]')), ' ')) AS u
  FROM sel
)
SELECT doc_id, best_variant, best_conf, {payee_raw('u')} AS payee_raw
FROM ft"""


# ---------------------------------------------------------------------------
# model phase (U2-U5 plumbing + K3 ensemble) — the registered queries
# exercise the deterministic fallbacks (no transformers installed);
# the `backend` column makes a real-model environment visibly diverge.
# ---------------------------------------------------------------------------

TRANSCRIPT_KEYS = "source || '-' || CAST(doc_id // 2147483648 AS VARCHAR) AS conv_id, CAST(doc_id % 2147483648 AS INT) AS turn_idx"


def q_zero_shot_classify(spark, sf_dir):
    return M.zero_shot_classify(spark, documents_as_transcripts(spark, sf_dir))


def sql_zero_shot_classify(labels=M.DEFAULT_ZS_LABELS) -> str:
    scores = []
    for lab in labels:
        lw = lab.upper().split()
        hits = " + ".join(
            f"(CASE WHEN list_contains(tw, {D.q(w)}) THEN 1 ELSE 0 END)"
            for w in lw
        )
        scores.append(f"(({hits}) / {len(lw)})")
    best = f"greatest({', '.join(scores)})"
    label_case = "CASE " + " ".join(
        f"WHEN {s} = best THEN {D.q(lab)}"
        for s, lab in zip(scores, labels)
    ) + " END"
    return f"""
WITH t AS (
  SELECT {TRANSCRIPT_KEYS},
         list_filter(string_split_regex(upper(text[1:512]), '[ \\t\\n\\x0b\\f\\r]+'),
                     x -> x <> '') AS tw
  FROM documents
),
scored AS (
  SELECT conv_id, turn_idx, tw, {best} AS best FROM t
)
SELECT conv_id, turn_idx, {label_case} AS label,
       CAST(best AS DOUBLE) AS score, 'overlap' AS backend
FROM scored"""


def q_ner_entities(spark, sf_dir):
    """U2 NER surface (deterministic fallback in this container), exploded
    to one row per entity so the oracle can hash scalar columns."""
    out = M.ner_entities(spark, documents_as_transcripts(spark, sf_dir))
    return out.select(
        "conv_id", "turn_idx",
        F.posexplode("entities").alias("ent_idx", "e"),
        "backend",
    ).select(
        "conv_id", "turn_idx", F.col("ent_idx").cast("int").alias("ent_idx"),
        F.col("e.entity").alias("entity"), F.col("e.label").alias("label"),
        F.col("e.score").alias("score"), "backend",
    )


def sql_ner_entities() -> str:
    """U2 deterministic-fallback NER twin (operators/models._load_ner fake
    branch): non-overlapping all-caps spans of 1-4 words (2+ letters each)
    over text[:512].upper(); ORG iff any span word is a hint literal;
    score = round(min(1, len/30 + 0.5), 4); first 10 spans. RE2 and Python
    re agree on \\b + greedy {0,3} for this pattern (leftmost, greedy)."""
    pat = r"\b([A-Z][A-Z]+(?:\s+[A-Z][A-Z]+){0,3})\b"
    hints = ", ".join(D.q(h) for h in M._FAKE_ORG_HINTS)
    return f"""
WITH t AS (
  SELECT {TRANSCRIPT_KEYS},
         regexp_extract_all(upper(text[1:512]), {D.rx(pat)}, 1) AS spans
  FROM documents
),
e AS (
  SELECT conv_id, turn_idx,
         unnest(range(1, len(spans) + 1)) AS i,
         unnest(spans) AS entity
  FROM t
)
SELECT conv_id, turn_idx, CAST(i - 1 AS INT) AS ent_idx, entity,
       CASE WHEN len(list_filter(string_split(entity, ' '),
                                 w -> w IN ({hints}))) > 0
            THEN 'ORG' ELSE 'PER' END AS label,
       round(least(1.0, length(entity) / 30.0 + 0.5), 4) AS score,
       'fake' AS backend
FROM e WHERE i <= 10"""


def q_qa_extract(spark, sf_dir):
    return M.qa_extract(spark, documents_as_transcripts(spark, sf_dir))


def sql_qa_extract() -> str:
    u = "regexp_replace(upper(text[1:512]), '[\\n\\r]+$', '')"
    whens = []
    for p in PAYEE_PATTERNS_SQLSAFE:
        cand = pystrip(f"regexp_extract(u, {D.rx(p)}, 1)")
        whens.append(
            f"WHEN regexp_matches(u, {D.rx(p)}) "
            f"AND NOT {is_bank_or_metadata(cand)} THEN {cand}"
        )
    answer = "CASE " + " ".join(whens) + " ELSE NULL END"
    return f"""
WITH t AS (
  SELECT {TRANSCRIPT_KEYS}, {u} AS u FROM documents
),
ans AS (
  SELECT conv_id, turn_idx, {answer} AS answer FROM t
)
SELECT conv_id, turn_idx, answer,
       CASE WHEN answer IS NULL THEN 0.0
            ELSE 0.5 + 0.5 * least(1.0, length(answer) / 30.0) END AS score,
       'heuristic' AS backend
FROM ans"""


def q_t5_spell(spark, sf_dir):
    out = M.t5_spell_correct(spark, documents_as_transcripts(spark, sf_dir))
    # UPPER form: DuckDB lacks initcap, and upper∘title is the identity on
    # the [A-Z ] output charset (same convention as spelling_correct)
    return out.select(
        "conv_id", "turn_idx", F.upper("corrected").alias("corrected"),
        "spell_conf", "backend",
    )


def sql_t5_spell() -> str:
    # mirror of models.spell_correct_deterministic's exotic-separator
    # pre-normalization (\x1c-\x1f, \x85 -> space). The class is rendered
    # with RE2 hex escapes — NOT raw control bytes — so the generated SQL
    # stays byte-clean and the characters are visible in logs/diffs.
    snip = ("regexp_replace(text[1:512], "
            r"'[\x1c-\x1f\x{0085}]', ' ', 'g')")
    corrected = D.correct_spelling_sql(snip)
    a = (f"list_filter(string_split_regex(upper({snip}), "
         f"'[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')")
    b = "list_filter(string_split_regex(corr, '[ \\t\\n\\x0b\\f\\r]+'), x -> x <> '')"
    return f"""
WITH t AS (
  SELECT {TRANSCRIPT_KEYS}, text, {corrected} AS corr FROM documents
),
w AS (
  SELECT conv_id, turn_idx, corr, {a} AS wa, {b} AS wb FROM t
)
SELECT conv_id, turn_idx, corr AS corrected,
       CASE WHEN greatest(len(wa), len(wb)) = 0 THEN 1.0
            ELSE len(list_filter(range(1, greatest(len(wa), len(wb)) + 1),
                                 i -> wa[i] = wb[i])) * 1.0
                 / greatest(len(wa), len(wb)) END AS spell_conf,
       'map' AS backend
FROM w"""


CAP_SPAN_RX = r"\b([A-Z][A-Z]+(?:\s+[A-Z][A-Z]+){0,3})\b"


def q_model_ensemble(spark, sf_dir):
    """K3 ensemble confidence wired end-to-end: deterministic per-turn
    component signals combined with the reference's weights
    (ai_processor.py:75-80) via models.ensemble_confidence."""
    d = documents_as_transcripts(spark, sf_dir)
    ocr = _mean_line_conf(F.col("text"))
    u512 = F.upper(F.substring(F.col("text"), 1, 512))
    caps = F.size(
        F.regexp_extract_all(u512, F.lit(CAP_SPAN_RX), F.lit(1))
    )
    ner = F.least(F.lit(1.0), caps / F.lit(10.0))
    toks = F.regexp_extract_all(F.lower(F.col("text")), F.lit(r"[a-z]+"), F.lit(0))
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*STOPWORDS)))
    context = F.when(F.size(toks) > 0, stop_hits / F.size(toks)).otherwise(0.0)
    spelling = F.lit(1.0) - C.n_digit(F.col("text")) / F.length(F.col("text"))
    # r08: stage the four component signals once, then combine from
    # attribute refs — the inline form re-evaluated every heavy HOF
    # component a second time inside the ensemble expression (same
    # doubles either way); par parallelizes the single-file scan.
    staged = par(d).select(
        "conv_id", "turn_idx",
        ocr.alias("ocr_conf"), ner.alias("ner_conf"),
        context.alias("context_conf"), spelling.alias("spelling_conf"),
    )
    return staged.select(
        "conv_id", "turn_idx",
        "ocr_conf", "ner_conf", "context_conf", "spelling_conf",
        M.ensemble_confidence(
            F.col("ocr_conf"), F.col("ner_conf"),
            F.col("context_conf"), F.col("spelling_conf"),
        ).alias("ensemble"),
    )


def sql_model_ensemble() -> str:
    """K3: 0.3*ocr + 0.4*ner + 0.2*context + 0.1*spelling, every component
    deterministic and recomputable."""
    lines = "list_filter(string_split(text, chr(10)), ln -> regexp_matches(ln, '[^ \\t\\n\\x0b\\f\\r]'))"
    conf_fold = (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(lines, ln -> {line_conf('ln')})), (a, b) -> a + b)"
    )
    caps = f"len(regexp_extract_all(upper(text[1:512]), {D.rx(CAP_SPAN_RX)}, 1))"
    stop_list = ", ".join(D.q(w) for w in STOPWORDS)
    toks = "regexp_extract_all(lower(text), '[a-z]+')"
    context = (
        f"CASE WHEN len({toks}) > 0 THEN "
        f"len(list_filter({toks}, w -> w IN ({stop_list}))) * 1.0 / len({toks}) "
        f"ELSE 0.0 END"
    )
    spelling = (
        "1.0 - length(regexp_replace(text, '[^0-9]', '', 'g')) / length(text)"
    )
    return f"""
WITH t AS (
  SELECT {TRANSCRIPT_KEYS}, text, {lines} AS lines FROM documents
),
parts AS (
  SELECT conv_id, turn_idx,
    CASE WHEN len(lines) > 0 THEN {conf_fold} / len(lines) ELSE 0.0 END AS ocr_conf,
    least(1.0, {caps} / 10.0) AS ner_conf,
    {context} AS context_conf,
    {spelling} AS spelling_conf
  FROM t
)
SELECT conv_id, turn_idx, ocr_conf, ner_conf, context_conf, spelling_conf,
       0.3 * ocr_conf + 0.4 * ner_conf + 0.2 * context_conf
         + 0.1 * spelling_conf AS ensemble
FROM parts"""


# ---------------------------------------------------------------------------
# Multimodal plumbing (stubbed decode; rows-only checks)
# ---------------------------------------------------------------------------

FRAME_FPS = 1.0
SEED = poly_sql("text", 7)
N = "octet_length(encode(text))"
WIDTH = f"(({N} % 640) + 32)"
HEIGHT = f"((({N} * 7) % 480) + 32)"
DURATION = f"((({N} * 31) % 60000) + 1000)"


def q_media_image_features(spark, sf_dir):
    media = MM.media_from_documents(read_documents(spark, sf_dir))
    return MM.image_features(media)


def sql_media_image_features() -> str:
    return f"""
WITH img AS (
  SELECT doc_id AS media_id, {SEED} AS seed,
         {WIDTH} AS w, {HEIGHT} AS h
  FROM documents WHERE doc_id % 3 = 0
)
SELECT media_id, CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       ((seed + 31 * w + 7 * h) % 256) / 255.0 AS mean_luma,
       ((seed * 13 + w + h) % 100) / 100.0 AS edge_density,
       'stub' AS decoder
FROM img"""


def q_media_audio_features(spark, sf_dir):
    media = MM.media_from_documents(read_documents(spark, sf_dir))
    return MM.audio_features(media)


def sql_media_audio_features() -> str:
    return f"""
WITH aud AS (
  SELECT doc_id AS media_id, {SEED} AS seed, {N} AS n
  FROM documents WHERE doc_id % 3 = 1
)
SELECT media_id, CAST(16000 AS INT) AS sample_rate,
       ((seed * 17 + n) % 1000) / 1000.0 AS rms,
       CAST((seed * 7 + n * 3) % 1000 AS INT) AS zero_crossings
FROM aud"""


def q_media_frame_sample(spark, sf_dir):
    media = MM.media_from_documents(read_documents(spark, sf_dir))
    return MM.sample_frames(media, fps=FRAME_FPS)


def sql_media_frame_sample(fps: float = 1.0) -> str:
    return f"""
WITH vid AS (
  SELECT doc_id AS media_id, {SEED} AS seed,
         greatest(1, CAST(floor({DURATION} / 1000.0 * {fps}) AS INT)) AS nf
  FROM documents WHERE doc_id % 3 = 2
),
frames AS (
  SELECT media_id, seed, unnest(range(0, nf)) AS i FROM vid
)
SELECT media_id, CAST(i AS INT) AS frame_idx,
       CAST(floor(i * 1000 / {fps}) AS INT) AS ts_ms,
       ((seed >> (i % 24)) & 255) / 255.0 AS frame_luma
FROM frames"""


def q_media_resize(spark, sf_dir):
    media = MM.media_from_documents(read_documents(spark, sf_dir))
    out = MM.resize_images(media, scale_percent=50)
    return out.select(
        "media_id", "width", "height",
        F.octet_length("payload").alias("payload_bytes"),
    )


def sql_media_resize():
    # mirrors media_from_documents + resize_images for image-kind docs.
    # floor() matches Spark's truncating int cast (DuckDB CAST rounds).
    return """
SELECT doc_id AS media_id,
  CAST(floor((((octet_length(encode(text)) % 640) + 32) * 50) / 100.0) AS INT) AS width,
  CAST(floor((((octet_length(encode(text)) * 7 % 480) + 32) * 50) / 100.0) AS INT) AS height,
  greatest(CAST(floor((octet_length(encode(text)) * 50) / 100.0) AS INT), 1) AS payload_bytes
FROM documents WHERE doc_id % 3 = 0"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    "flagship_extract": (q_flagship_extract, None),
    "flagship_nofuzzy": (q_flagship_nofuzzy, sql_flagship_nofuzzy),
    "streaming_extract_nofuzzy": (
        q_streaming_extract_nofuzzy, sql_flagship_nofuzzy
    ),
    "flagship_extract_v3": (q_flagship_extract_v3, None),
    "flagship_v3_nofuzzy": (q_flagship_v3_nofuzzy, sql_flagship_v3_nofuzzy),
    "variant_keep_best": (q_variant_keep_best, sql_variant_keep_best),
    "zero_shot_classify": (q_zero_shot_classify, sql_zero_shot_classify),
    "ner_entities": (q_ner_entities, sql_ner_entities),
    "qa_extract": (q_qa_extract, sql_qa_extract),
    "t5_spell": (q_t5_spell, sql_t5_spell),
    "model_ensemble": (q_model_ensemble, sql_model_ensemble),
    "media_image_features": (q_media_image_features, sql_media_image_features),
    "media_audio_features": (q_media_audio_features, sql_media_audio_features),
    "media_frame_sample": (
        q_media_frame_sample, partial(sql_media_frame_sample, fps=FRAME_FPS)
    ),
    "media_resize": (q_media_resize, sql_media_resize),
}
