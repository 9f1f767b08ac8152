"""Grammar family: the reference's text grammars as registry queries.

Cleaning, junk and garbage predicates, the classification cascade, payee
and field grammars, the V3 variants, issuer grammars, the levenshtein and
containment dictionary joins, and the star-schema analytics — each a Spark
query (native Catalyst expressions) beside its DuckDB twin, with
identical output aliases. The builders and renderers several families
share (the payee grammar among them) live in functions/columns.py and
functions/ducksql.py, and every regex and term list the queries share with
the oracle is read from oracle/vocab.py. The Catalyst builders only this
family uses (plain main-content strip, officer designation,
government-entity rule, payee section, V3 business validity) stay here;
each cites the oracle function it must equal.

SQL-dialect note: DuckDB regex is RE2 (no lookahead), so the queries that
need terminator context (``payee_extract``) use lookahead-free rewrites of
the reference patterns ON BOTH SIDES; the flagship pipeline keeps the
faithful Python-``re`` grammars (proven equal to the oracle in
tests/test_pipeline_equality.py).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

from cheque_ocr_project_spark.functions import columns as C
from cheque_ocr_project_spark.functions import ducksql as D
from cheque_ocr_project_spark.operators.extract import par
from cheque_ocr_project_spark.oracle import vocab
from cheque_ocr_project_spark.sources.io import read_documents

# --------------------------------------------------------------------------
# native column builders (oracle parity; shared by the queries below)
# --------------------------------------------------------------------------

def _plain_main(text: Column) -> Column:
    """= oracle.boilerplate.extract_plain."""
    lines = F.filter(F.transform(F.split(text, "\n"), C.collapse_ws), lambda x: x != "")
    return F.array_join(lines, "\n")


def _designation_literal(u: Column) -> Column:
    """Rule-engine designation: literal list scanned in order
    (= oracle.govrules.extract_officer_designation)."""
    return C.when_chain(
        [(u.contains(d), F.lit(d)) for d in vocab.OFFICER_DESIGNATIONS])


# Boolean-equivalent cheap forms of vocab.GOVT_PAYEE_PATTERNS (r08, guide
# §1.2 per-task work): the hit is consumed ONLY as a boolean, so the first
# four patterns are used as they are, and each later capturing
# `[A-Z\s]+WORD` pattern — whose greedy class prefix backtracks at every
# position — reduces to `[A-Z\s]WORD` (a match of either form contains a
# match of the other: the char immediately before WORD is in the class).
# Every pattern gets a literal contains() guard that short-circuits
# the regex for the vast majority of rows that lack the anchor word.
# Guards are pure prefilters (a regex match implies its literals occur);
# the regex stays authoritative.
_GOVT_PAYEE_BOOL_PATTERNS: tuple = tuple(zip(
    (("PAY", "GOVT"), ("PAY", "GOVERNMENT"), ("FAVOUR", "GOVT"),
     ("FAVOUR", "GOVERNMENT"), ("TO", "DEPARTMENT"), ("BOARD",),
     ("MUNICIPALITY",), ("COMMITTEE",), ("AUTHORITY",), ("TRUST",),
     ("CORPORATION",)),
    vocab.GOVT_PAYEE_PATTERNS[:4] + (
        r"TO\s+THE\s+[A-Z\s]+DEPARTMENT",
        r"[A-Z\s]BOARD",
        r"[A-Z\s]MUNICIPALITY",
        r"[A-Z\s]COMMITTEE",
        r"[A-Z\s]AUTHORITY",
        r"[A-Z\s]TRUST",
        r"[A-Z\s]CORPORATION",
    ),
))


def _is_government_entity(x: Column) -> Column:
    """= oracle.govrules.is_government_entity (null/empty → False)."""
    u = F.upper(F.coalesce(x, F.lit("")))
    words = C.words_of(u)
    pattern_hit = F.coalesce(
        reduce(
            lambda a, b: a | b,
            [C.any_term(u, guards) & u.rlike(rx)
             for guards, rx in _GOVT_PAYEE_BOOL_PATTERNS],
        ),
        F.lit(False),
    )
    # indicator contains-chain BEFORE the word-count split: & short-
    # circuits left-to-right, so rows without any indicator never pay the
    # split/filter/size allocation (same boolean).
    return (F.length(u) > 0) & (
        C.any_term(u, vocab.GOVT_ENTITIES)
        | pattern_hit
        | (C.any_term(u, vocab.GOVT_INDICATORS) & (F.size(words) <= 4))
    )


def _payee_section(u: Column) -> Column:
    """= oracle.grammars.extract_payee_section (first indicator, 200 chars)."""
    return C.when_chain([
        (u.contains(ind), F.substr(u, F.instr(u, ind) + len(ind), F.lit(200)))
        for ind in vocab.PAYEE_SECTION_INDICATORS
    ])


# ---------------------------------------------------------------------------
# P1: clean_text (issuer_processor_v.py:208-218)
# ---------------------------------------------------------------------------

def q_clean_text(spark, sf_dir):
    return par(read_documents(spark, sf_dir)).select(
        "doc_id", C.clean_text_v1(F.col("text")).alias("cleaned")
    )


def sql_clean_text():
    return (
        f"SELECT doc_id, {D.clean_text_v1('text')} AS cleaned FROM documents"
    )


# ---------------------------------------------------------------------------
# P3/P5: junk + garbage predicates
# ---------------------------------------------------------------------------

def q_junk_flag(spark, sf_dir):
    return par(read_documents(spark, sf_dir)).select(
        "doc_id",
        C.is_junk_v1(F.upper(F.col("text"))).alias("is_junk"),
        C.is_garbage(F.upper(F.col("text"))).alias("is_garbage"),
    )


def sql_junk_flag():
    return (
        "SELECT doc_id, "
        f"{D.is_junk_v1('upper(text)')} AS is_junk, "
        f"{D.is_garbage('upper(text)')} AS is_garbage "
        "FROM documents"
    )


# ---------------------------------------------------------------------------
# C1/C2: classification cascade (cheque_classifier.py:122-194)
# ---------------------------------------------------------------------------

_CLASSIFY_COLUMNS = ("cheque_type", "type_conf", "is_government", "govt_category")


def q_classify(spark, sf_dir):
    o = C.cheque_outputs(C.cheque_classes(F.upper(F.col("text"))))
    return par(read_documents(spark, sf_dir)).select(
        "doc_id", *[getattr(o, k).alias(k) for k in _CLASSIFY_COLUMNS]
    )


def sql_classify():
    o = D.cheque_outputs(D.cheque_classes("upper(text)"))
    cols = ", ".join(f"{getattr(o, k)} AS {k}" for k in _CLASSIFY_COLUMNS)
    return f"SELECT doc_id, {cols} FROM documents"


# ---------------------------------------------------------------------------
# F1: payee extraction (lookahead-free rewrite, both sides)
# ---------------------------------------------------------------------------

def q_payee_extract(spark, sf_dir):
    # Strip trailing line terminators BEFORE matching: Java '$' (non-
    # MULTILINE) also matches before a final newline while RE2 '$' matches
    # only end-of-text — normalizing the input removes the dialect gap.
    # The normalization is materialized as its own projection first:
    # payee_raw references it once per pattern and guard, and
    # CollapseProject would otherwise inline the regexp_replace into every
    # reference (the variant_keep_best trap).
    staged = par(read_documents(spark, sf_dir)).select(
        "doc_id",
        F.regexp_replace(F.upper(F.col("text")), r"[\n\r]+$", "").alias("__u"),
    )
    return staged.select("doc_id", C.payee_raw(F.col("__u")).alias("payee_raw"))


def sql_payee_extract():
    return f"""
SELECT doc_id, {D.payee_raw('u')} AS payee_raw
FROM (SELECT doc_id, regexp_replace(upper(text), '[\\n\\r]+$', '') AS u
      FROM documents)"""


# ---------------------------------------------------------------------------
# F9-F12: payee cleaning chain
# ---------------------------------------------------------------------------

def q_payee_clean(spark, sf_dir):
    # cleaning operates on extracted payee candidates (short strings), not
    # whole documents — bound the input like the reference bounds model
    # inputs (ai_processor.py:159 text[:512])
    cand = F.substring(F.col("text"), 1, 80)
    return par(read_documents(spark, sf_dir)).select(
        "doc_id", C.clean_payee(cand).alias("payee_cleaned")
    )


def sql_payee_clean():
    return (
        f"SELECT doc_id, {D.clean_payee('text[1:80]')} AS payee_cleaned "
        "FROM documents"
    )


# ---------------------------------------------------------------------------
# F13: spelling-correction chain (UPPER form — DuckDB lacks initcap)
# ---------------------------------------------------------------------------

def q_spelling_correct(spark, sf_dir):
    s = F.upper(F.col("text"))
    for wrong, right in vocab.SPELLING_CORRECTIONS:
        s = F.replace(s, F.lit(wrong), F.lit(right))
    for word in vocab.GARBAGE_WORDS:
        s = F.replace(s, F.lit(word), F.lit(""))
    s = C.collapse_ws(s)
    s = F.regexp_replace(s, vocab.NON_ALPHA_SPACE, "")
    out = F.when(
        F.col("text").isNull() | (F.length("text") == 0), F.lit("UNKNOWN")
    ).otherwise(F.when(F.length(s) >= 3, s).otherwise(F.lit("UNKNOWN")))
    return par(read_documents(spark, sf_dir)).select("doc_id", out.alias("corrected"))


def sql_spelling_correct():
    return (
        f"SELECT doc_id, {D.correct_spelling('text')} AS corrected "
        "FROM documents"
    )


# ---------------------------------------------------------------------------
# F2-F5: field grammars (date / amount / account / MICR)
# ---------------------------------------------------------------------------

def q_field_grammars(spark, sf_dir):
    f = C.field_grammars(F.col("text"))
    return par(read_documents(spark, sf_dir)).select(
        "doc_id", *[col.alias(name) for name, col in f._asdict().items()]
    )


def sql_field_grammars():
    f = D.field_grammars("text")
    cols = ", ".join(f"{sql} AS {name}" for name, sql in f._asdict().items())
    return f"SELECT doc_id, {cols} FROM documents"


# ---------------------------------------------------------------------------
# J2 (SQL variant): levenshtein-similarity dictionary join
# ---------------------------------------------------------------------------

def q_lev_match(spark, sf_dir):
    docs = read_documents(spark, sf_dir)
    first_tok = F.regexp_extract(F.upper(F.col("text")), r"^([A-Za-z]+)", 1)
    dim = (
        docs.filter(F.col("doc_id") < 30)
        .select(F.upper(first_tok).alias("dict_name"))
        .filter(F.length("dict_name") > 0)
        .distinct()
    )
    cands = docs.select("doc_id", F.upper(first_tok).alias("cand"))
    joined = cands.join(F.broadcast(dim))
    sim = F.round(
        1.0
        - F.levenshtein(F.col("cand"), F.col("dict_name"))
        / F.greatest(F.length("cand"), F.length("dict_name")),
        6,
    )
    joined = joined.withColumn("sim", sim).filter(F.col("sim") >= 0.5)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("sim").desc(), F.col("dict_name").asc()
    )
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "dict_name", "sim")
    )


def sql_lev_match():
    return """
WITH dim AS (
  SELECT DISTINCT upper(regexp_extract(upper(text), '^([A-Za-z]+)', 1)) AS dict_name
  FROM documents WHERE doc_id < 30
    AND length(regexp_extract(upper(text), '^([A-Za-z]+)', 1)) > 0
), cands AS (
  SELECT doc_id, upper(regexp_extract(upper(text), '^([A-Za-z]+)', 1)) AS cand
  FROM documents
)
SELECT doc_id, dict_name, sim FROM (
  SELECT c.doc_id, d.dict_name,
         round(1.0 - levenshtein(c.cand, d.dict_name) * 1.0
               / greatest(length(c.cand), length(d.dict_name)), 6) AS sim
  FROM cands c CROSS JOIN dim d
) WHERE sim >= 0.5
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY sim DESC, dict_name ASC) = 1"""


# ---------------------------------------------------------------------------
# P2: clean_text v3
# ---------------------------------------------------------------------------

def q_clean_text_v3(spark, sf_dir):
    return par(read_documents(spark, sf_dir)).select(
        "doc_id", C.clean_text_v3(F.col("text")).alias("cleaned_v3")
    )


def sql_clean_text_v3():
    return f"SELECT doc_id, {D.clean_text_v3('text')} AS cleaned_v3 FROM documents"


# ---------------------------------------------------------------------------
# P4/P7: V3 junk + business-name validity (60% / 50% / 70% coverage rules)
# ---------------------------------------------------------------------------


def _valid_business_v3_col(t: Column) -> Column:
    u = F.upper(t)
    bank_hit = reduce(
        lambda a, b: a | b,
        [
            u.contains(bank) & (F.lit(len(bank)) >= F.length(u) * 0.7)
            for bank in vocab.BANK_NAMES_V3
        ],
    )
    alpha = C.n_alpha(t)
    digits = C.n_digit(t)
    total = F.length(t)
    pure_number_ok = F.length(t) >= 8
    mixed_reject = (
        (F.try_divide(alpha, total) < 0.3) & (total > 5) & ~(digits > 5)
    )
    return (
        t.isNotNull()
        & (F.length(t) >= 3)
        & ~C.is_junk_v3(u)
        & ~bank_hit
        & F.when((digits > 0) & (alpha == 0), pure_number_ok).otherwise(
            ~F.when(alpha > 0, mixed_reject).otherwise(F.lit(False))
        )
    )


def q_junk_v3(spark, sf_dir):
    u = F.upper(F.col("text"))
    return par(read_documents(spark, sf_dir)).select(
        "doc_id",
        C.is_junk_v3(u).alias("is_junk_v3"),
        _valid_business_v3_col(F.upper(F.col("text"))).alias("is_valid_business_v3"),
    )


def sql_junk_v3():
    return f"""
SELECT doc_id, is_junk_v3,
  {D.is_valid_business_v3('u', 'is_junk_v3')} AS is_valid_business_v3
FROM (SELECT doc_id, u, {D.is_junk_v3('u')} AS is_junk_v3
      FROM (SELECT doc_id, upper(text) AS u FROM documents))"""


# ---------------------------------------------------------------------------
# F14: prefix removal (V3)
# ---------------------------------------------------------------------------

def q_remove_prefixes(spark, sf_dir):
    cand = F.upper(F.substring(F.col("text"), 1, 60))
    return par(read_documents(spark, sf_dir)).select(
        "doc_id", C.remove_prefixes_v3(cand).alias("deprefixed")
    )


def sql_remove_prefixes():
    return (
        f"SELECT doc_id, {D.remove_prefixes_v3('text[1:60]')} AS deprefixed "
        "FROM documents"
    )


# ---------------------------------------------------------------------------
# F6: issuer FOR grammar (stage 1 of dbf_processor.extract_issuer_from_text)
# ---------------------------------------------------------------------------

def q_issuer_for_grammar(spark, sf_dir):
    u = F.upper(F.col("text"))
    cand = F.trim(F.substr(u, F.instr(u, "FOR") + 3))
    # substring_index returns the whole string when the delimiter is absent,
    # so each truncation is ONE reference to cand — a when(contains)/
    # otherwise wrapper would re-reference cand 3x per marker and grow the
    # expression tree 3^8-fold (measured ~9s -> ~0.7s at sf0.1)
    for marker in vocab.AI_END_MARKERS:
        cand = F.substring_index(cand, marker, 1)
    cand = F.substring_index(cand, "\n", 1)
    out = F.when(u.contains("FOR") & (F.length(cand) > 3), cand)
    return par(read_documents(spark, sf_dir)).select("doc_id", out.alias("for_candidate"))


def sql_issuer_for_grammar():
    # split_part returns the whole string when the delimiter is absent —
    # single reference per truncation (mirrors the Spark side)
    cand = "trim(substr(upper(text), strpos(upper(text), 'FOR') + 3, 1000000))"
    for marker in vocab.AI_END_MARKERS:
        cand = f"split_part({cand}, {D.q(marker)}, 1)"
    cand = f"split_part({cand}, chr(10), 1)"
    return f"""
SELECT doc_id,
  CASE WHEN contains(upper(text), 'FOR') AND length({cand}) > 3
       THEN {cand} END AS for_candidate
FROM documents"""


# ---------------------------------------------------------------------------
# F7/F8: before-signature / before-account grammars (first match in order)
# ---------------------------------------------------------------------------

def q_issuer_auth_account_grammar(spark, sf_dir):
    u = F.upper(F.col("text"))

    # Cheap per-pattern prefilter (pure optimization, regex authoritative):
    # the lazy `([A-Z][A-Z\s.]{3,50}?)` groups backtrack at every position
    # in Java regex, so gate each pattern behind a literal its match MUST
    # contain (contains() is ~10x cheaper than the backtracking scan).
    # Measured 16s -> ~2s at sf0.1.
    auth_guard = u.contains("SIGN")            # SIGNATORY/SIGNATURE/SIGN
    acct_guards = [
        u.contains("A/C"),                      # ...\s+\d+\s+A/C
        u.contains("A/C"),                      # ...A/C\.?\s+NO
        u.rlike(r"\d{10}"),                     # ...\s+\d{10,20}
        # guard on the single words, not the two-word literal: the regexes
        # allow any whitespace run (CURRENT\s+A/C), so 'CURRENT  A/C' must
        # still pass the prefilter (oracle SQL has no guard at all)
        u.contains("CURRENT") & u.contains("A/C"),
        u.contains("SAVINGS") & u.contains("A/C"),
    ]

    def first_match(patterns, guards):
        return C.when_chain([
            (g & u.rlike(p), F.trim(F.regexp_extract(u, p, 1)))
            for p, g in zip(patterns, guards)
        ])

    return par(read_documents(spark, sf_dir)).select(
        "doc_id",
        first_match(
            vocab.AUTH_SIGNATORY_PATTERNS,
            [auth_guard] * len(vocab.AUTH_SIGNATORY_PATTERNS),
        ).alias("before_signatory"),
        first_match(vocab.ACCOUNT_PATTERNS, acct_guards).alias("before_account"),
    )


def sql_issuer_auth_account_grammar():
    u = "upper(text)"

    def first_match(patterns):
        whens = " ".join(
            f"WHEN regexp_matches({u}, {D.rx(p)}) "
            f"THEN trim(regexp_extract({u}, {D.rx(p)}, 1))"
            for p in patterns
        )
        return f"CASE {whens} ELSE NULL END"

    return f"""
SELECT doc_id,
  {first_match(vocab.AUTH_SIGNATORY_PATTERNS)} AS before_signatory,
  {first_match(vocab.ACCOUNT_PATTERNS)} AS before_account
FROM documents"""


# ---------------------------------------------------------------------------
# parallel_processor.py:46-106 — simple issuer extractor (UPPER form)
# ---------------------------------------------------------------------------

def q_issuer_simple(spark, sf_dir):
    u = F.upper(F.col("text"))
    # r08: plain substring_index chain — substring_index(s, d, 1) already
    # returns s unchanged when d is absent, so the old
    # when(contains)/otherwise wrapper was a semantic no-op that TRIPLED
    # the references to cand per delimiter (3^5 copies of the split tree;
    # the expression blowup, not the string work, dominated the stage).
    cand = F.trim(F.element_at(F.split(u, "FOR"), -1))
    for delim in vocab.SIMPLE_FOR_DELIMITERS:
        cand = F.substring_index(cand, delim, 1)
    words = C.words_of(cand)
    joined = F.array_join(words, " ")
    cleaned = C.collapse_ws(F.regexp_replace(joined, vocab.NON_WORD_OR_SPACE, " "))
    # materialize the multi-referenced derivations once per row (words is
    # referenced 3x, cleaned 2x, for_result 2x — inlined, each reference
    # would re-run the whole split/regex chain)
    staged = par(read_documents(spark, sf_dir)).select(
        "doc_id", "text",
        u.alias("__u"),
        words.alias("__words"),
        cleaned.alias("__cleaned"),
    )
    uu = F.col("__u")
    bank = C.when_chain(
        [(uu.contains(b), F.lit(b)) for b in vocab.SIMPLE_BANK_NAMES])
    for_result = F.when(
        uu.contains("FOR")
        & (F.size("__words") >= 1) & (F.size("__words") <= 5)
        & (F.length("__cleaned") >= 5),
        F.col("__cleaned"),
    )
    out = (
        F.when(F.length(F.coalesce(F.col("text"), F.lit(""))) < 20, "UNKNOWN")
        .when(bank.isNotNull(), bank)
        .when(for_result.isNotNull(), for_result)
        .otherwise("UNKNOWN")
    )
    return staged.select("doc_id", out.alias("issuer_simple"))


def sql_issuer_simple():
    u = "upper(text)"
    bank_whens = " ".join(
        f"WHEN contains({u}, {D.q(b)}) THEN {D.q(b)}"
        for b in vocab.SIMPLE_BANK_NAMES
    )
    bank = f"CASE {bank_whens} ELSE NULL END"

    cand = f"trim(string_split({u}, 'FOR')[-1])"
    for delim in vocab.SIMPLE_FOR_DELIMITERS:
        d = D.q(delim) if delim != "\n" else "chr(10)"
        cand = f"split_part({cand}, {d}, 1)"  # whole string if d is absent
    words = D.words_of(cand)
    joined = f"array_to_string({words}, ' ')"
    cleaned = D.collapse_ws(D.rr(joined, vocab.NON_WORD_OR_SPACE, " "))
    for_result = (
        f"CASE WHEN contains({u}, 'FOR') AND len({words}) BETWEEN 1 AND 5 "
        f"AND length({cleaned}) >= 5 THEN {cleaned} END"
    )
    return f"""
SELECT doc_id,
  CASE WHEN length(coalesce(text, '')) < 20 THEN 'UNKNOWN'
       ELSE coalesce({bank}, {for_result}, 'UNKNOWN') END AS issuer_simple
FROM documents"""


# ---------------------------------------------------------------------------
# K2: score_name
# ---------------------------------------------------------------------------

def q_score_name(spark, sf_dir):
    cand = F.substring(F.col("text"), 1, 40)
    return par(read_documents(spark, sf_dir)).select(
        "doc_id", F.round(C.score_name(cand), 6).alias("name_score")
    )


def sql_score_name():
    t = "text[1:40]"
    words = D.words_of(t)
    n = f"len({words})"
    all_alpha = (
        f"(len(list_filter({words}, w -> NOT regexp_matches(w, '^[A-Za-z]+$'))) = 0)"
    )
    common = D.common_name_part_count(words)
    score = (
        f"(CASE WHEN {n} BETWEEN 2 AND 5 THEN 0.3 ELSE 0.0 END"
        f" + CASE WHEN {all_alpha} THEN 0.3 ELSE 0.0 END"
        f" + 0.2 * {common})"
    )
    return f"SELECT doc_id, round(least({score}, 1.0), 6) AS name_score FROM documents"


# ---------------------------------------------------------------------------
# C3/C4/C5: government payee rule over documents
# ---------------------------------------------------------------------------

def q_govt_entity(spark, sf_dir):
    cand = F.substring(F.col("text"), 1, 60)
    u = F.upper(F.col("text"))
    # Pre-materialize the payee section: payable_to_govt would otherwise
    # inline the section when-chain into the ~90-literal entity scan per
    # reference (the variant_keep_best projection-collapse trap — a vocab
    # widening would multiply it). Two stacked projections keep the heavy
    # derivation single-copy; CollapseProject keeps multi-referenced
    # non-cheap aliases materialized.
    staged = par(read_documents(spark, sf_dir)).select(
        "doc_id",
        _is_government_entity(cand).alias("is_govt_entity"),
        _payee_section(u).alias("payee_section"),
    )
    sect = F.col("payee_section")
    return staged.select(
        "doc_id",
        "is_govt_entity",
        F.when(sect.isNotNull(),
               _is_government_entity(sect)).otherwise(F.lit(False))
        .alias("payable_to_govt"),
        "payee_section",
    )


def sql_govt_entity():
    u = "upper(text)"
    section = "CASE " + " ".join(
        f"WHEN contains({u}, {D.q(ind)}) "
        f"THEN substr({u}, strpos({u}, {D.q(ind)}) + {len(ind)}, 200)"
        for ind in vocab.PAYEE_SECTION_INDICATORS
    ) + " ELSE NULL END"
    return f"""
SELECT doc_id, is_govt_entity,
  CASE WHEN payee_section IS NOT NULL
       THEN {D.is_government_entity("payee_section")} ELSE FALSE END
    AS payable_to_govt,
  payee_section
FROM (SELECT doc_id, {D.is_government_entity("text[1:60]")} AS is_govt_entity,
             {section} AS payee_section
      FROM documents)"""


def q_officer_designation(spark, sf_dir):
    u = F.upper(F.col("text"))
    return par(read_documents(spark, sf_dir)).select(
        "doc_id", _designation_literal(u).alias("designation")
    )


def sql_officer_designation():
    return (
        f"SELECT doc_id, {D.designation_literal('upper(text)')} AS designation "
        "FROM documents"
    )


# ---------------------------------------------------------------------------
# F17: filename-derived fields (custom_csv.py:24-46)
# ---------------------------------------------------------------------------

def q_filename_fields(spark, sf_dir):
    fname = F.concat(
        F.lit("P_"), F.col("doc_id").cast("string"), F.lit("_"),
        F.col("n_chars").cast("string"), F.lit(".50.tif"),
    )
    amount_p, date_p = vocab.FNAME_AMOUNT_PATTERN, vocab.FNAME_DATE_PATTERN
    amount = F.when(
        fname.rlike(amount_p), F.regexp_extract(fname, amount_p, 1)
    ).otherwise("0.00")
    account = F.when(
        fname.rlike(r"\d+"), F.regexp_extract(fname, r"(\d+)", 1)
    ).otherwise("0")
    date = F.when(fname.rlike(date_p), F.regexp_extract(fname, date_p, 1))
    return par(read_documents(spark, sf_dir)).select(
        "doc_id", fname.alias("filename"),
        amount.alias("amount"), account.alias("account"), date.alias("file_date"),
    )


def sql_filename_fields():
    fname = "'P_' || CAST(doc_id AS VARCHAR) || '_' || CAST(n_chars AS VARCHAR) || '.50.tif'"
    amount_p = D.rx(vocab.FNAME_AMOUNT_PATTERN)
    date_p = D.rx(vocab.FNAME_DATE_PATTERN)
    return f"""
SELECT doc_id, {fname} AS filename,
  CASE WHEN regexp_matches({fname}, {amount_p})
       THEN regexp_extract({fname}, {amount_p}, 1) ELSE '0.00' END AS amount,
  CASE WHEN regexp_matches({fname}, '\\d+')
       THEN regexp_extract({fname}, '(\\d+)', 1) ELSE '0' END AS account,
  CASE WHEN regexp_matches({fname}, {date_p})
       THEN regexp_extract({fname}, {date_p}, 1) END AS file_date
FROM documents"""


# ---------------------------------------------------------------------------
# A1/W3: line-confidence aggregate + window ordering
# ---------------------------------------------------------------------------

def q_line_confidence(spark, sf_dir):
    return read_documents(spark, sf_dir).select(
        "doc_id", F.round(C.line_conf(F.col("text")), 6).alias("line_conf")
    )


def sql_line_confidence():
    return (
        f"SELECT doc_id, round({D.line_conf('text')}, 6) AS line_conf "
        "FROM documents"
    )


def q_window_order(spark, sf_dir):
    w = Window.partitionBy("source").orderBy("doc_id")
    return read_documents(spark, sf_dir).select(
        "doc_id", "source", F.row_number().over(w).alias("turn_rank")
    )


def sql_window_order():
    return """
SELECT doc_id, source,
       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS turn_rank
FROM documents"""


# ---------------------------------------------------------------------------
# P2 (v2) + J3: clean_text v2 and containment-similarity join
# ---------------------------------------------------------------------------

def q_clean_text_v2(spark, sf_dir):
    t = F.col("text")
    s = F.upper(t)
    s = F.translate(s, "01|568", "OIISGB")
    s = F.regexp_replace(s, vocab.NON_CHARSET_V1, " ")
    s = C.collapse_ws(s)
    out = F.when(t.isNull() | (F.length(t) == 0), F.lit("XXX")).otherwise(s)
    return par(read_documents(spark, sf_dir)).select("doc_id", out.alias("cleaned_v2"))


def sql_clean_text_v2():
    s = "translate(upper(text), '01|568', 'OIISGB')"
    s = D.rr(s, vocab.NON_CHARSET_V1, " ")
    s = D.collapse_ws(s)
    return (
        f"SELECT doc_id, CASE WHEN text IS NULL OR length(text) = 0 "
        f"THEN 'XXX' ELSE {s} END AS cleaned_v2 FROM documents"
    )


def q_containment_match(spark, sf_dir):
    """J3 containment theta-join: candidate contained-in dictionary name (or
    vice versa) with length ratio > 0.6, argmax per candidate (ties keep the
    lexicographically-first dictionary name = sorted-dict iteration order)."""
    docs = read_documents(spark, sf_dir)
    tok2 = F.upper(
        F.array_join(F.slice(F.regexp_extract_all(F.col("text"), F.lit(r"[A-Za-z]+"), F.lit(0)), 1, 2), " ")
    )
    dim = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .select(tok2.alias("dict_name"))
        .filter(F.length("dict_name") > 0)
        .distinct()
    )
    cands = docs.select("doc_id", F.upper(F.substring("text", 1, 12)).alias("cand"))
    j = cands.join(F.broadcast(dim))
    ratio = F.when(
        F.col("dict_name").contains(F.col("cand")),
        F.length("cand") / F.length("dict_name"),
    ).when(
        F.col("cand").contains(F.col("dict_name")),
        F.length("dict_name") / F.length("cand"),
    )
    j = j.withColumn("sim", F.round(ratio, 6)).filter(F.col("sim") > 0.6)
    w = Window.partitionBy("doc_id").orderBy(
        F.col("sim").desc(), F.col("dict_name").asc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "dict_name", "sim")
    )


def sql_containment_match():
    return """
WITH dim AS (
  SELECT DISTINCT upper(array_to_string(regexp_extract_all(text, '[A-Za-z]+')[1:2], ' ')) AS dict_name
  FROM documents WHERE doc_id % 5 = 0
    AND length(array_to_string(regexp_extract_all(text, '[A-Za-z]+')[1:2], ' ')) > 0
), cands AS (
  SELECT doc_id, upper(text[1:12]) AS cand FROM documents
), scored AS (
  SELECT c.doc_id, d.dict_name,
    round(CASE WHEN contains(d.dict_name, c.cand)
               THEN length(c.cand) * 1.0 / length(d.dict_name)
               WHEN contains(c.cand, d.dict_name)
               THEN length(d.dict_name) * 1.0 / length(c.cand)
          END, 6) AS sim
  FROM cands c CROSS JOIN dim d
)
SELECT doc_id, dict_name, sim FROM scored WHERE sim > 0.6
QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY sim DESC, dict_name ASC) = 1"""


# ---------------------------------------------------------------------------
# fast_ai_processor.py pattern extractor + extract_issuer.py naive grammar
# (UPPER form for the DuckDB oracle — no initcap there)
# ---------------------------------------------------------------------------

def _clean_name_fast_col(cand: Column) -> Column:
    u = F.upper(cand)
    for wrong, right in vocab.FAST_SPELLING_CORRECTIONS:
        u = F.replace(u, F.lit(wrong), F.lit(right))
    u = C.collapse_ws(F.regexp_replace(u, vocab.NON_WORD_OR_SPACE, " "))
    return F.when(F.length(u) >= 3, u).otherwise(F.lit("UNKNOWN"))


def _clean_name_fast_sql(cand: str) -> str:
    s = D.chain_replace(f"upper({cand})", vocab.FAST_SPELLING_CORRECTIONS)
    s = D.collapse_ws(D.rr(s, vocab.NON_WORD_OR_SPACE, " "))
    return f"CASE WHEN length({s}) >= 3 THEN {s} ELSE 'UNKNOWN' END"


def q_fast_pattern_extract(spark, sf_dir):
    # Trailing newlines stripped on both sides: Java '$' matches before a
    # final line terminator, RE2 '$' does not (latent dialect divergence in
    # the '\s+$' alternations of the FAST_* patterns). The normalized text
    # is materialized as its own projection so the ~12 pattern references
    # don't each re-inline the regexp_replace (CollapseProject).
    staged = par(read_documents(spark, sf_dir)).select(
        "doc_id",
        F.regexp_replace(F.upper(F.col("text")), r"[\n\r]+$", "").alias("__u"),
    )
    u = F.col("__u")

    # interior-literal guards for the two group-leading issuer patterns
    # (no literal PREFIX to auto-derive, but any match must contain these)
    interior = dict(zip(vocab.FAST_ISSUER_PATTERNS[1:],
                        ("AUTHORISED", "SIGNATURE")))

    def cond(p: str) -> Column:
        prefix = C.literal_prefix(p)
        if len(prefix) >= 3:  # skip the backtracking regex cheaply
            return u.contains(prefix) & u.rlike(p)
        if p in interior:
            return u.contains(interior[p]) & u.rlike(p)
        return u.rlike(p)

    def first(patterns):
        return C.when_chain([
            (cond(p), _clean_name_fast_col(F.regexp_extract(u, p, 1)))
            for p in patterns
        ])

    return staged.select(
        "doc_id",
        first(vocab.FAST_PAYEE_PATTERNS).alias("fast_payee"),
        first(vocab.FAST_ISSUER_PATTERNS).alias("fast_issuer"),
    )


def sql_fast_pattern_extract():
    u = "regexp_replace(upper(text), '[\\n\\r]+$', '')"

    def first(patterns):
        whens = " ".join(
            f"WHEN regexp_matches({u}, {D.rx(p)}) "
            f"THEN {_clean_name_fast_sql(f'regexp_extract({u}, {D.rx(p)}, 1)')}"
            for p in patterns
        )
        return f"CASE {whens} ELSE NULL END"

    return f"""
SELECT doc_id,
  {first(vocab.FAST_PAYEE_PATTERNS)} AS fast_payee,
  {first(vocab.FAST_ISSUER_PATTERNS)} AS fast_issuer
FROM documents"""


def q_for_first3(spark, sf_dir):
    u = F.upper(F.col("text"))
    seg = F.trim(F.element_at(F.split(u, "FOR"), 2))
    first3 = F.array_join(F.slice(C.words_of(seg), 1, 3), " ")
    out = F.when(
        u.contains("FOR") & (F.size(F.split(u, "FOR")) > 1), first3
    ).otherwise(F.lit("UNKNOWN"))
    return par(read_documents(spark, sf_dir)).select("doc_id", out.alias("for_first3"))


def sql_for_first3():
    u = "upper(text)"
    seg = f"trim(string_split({u}, 'FOR')[2])"
    first3 = f"array_to_string({D.words_of(seg)}[1:3], ' ')"
    return f"""
SELECT doc_id,
  CASE WHEN contains({u}, 'FOR') AND len(string_split({u}, 'FOR')) > 1
       THEN {first3} ELSE 'UNKNOWN' END AS for_first3
FROM documents"""


# ---------------------------------------------------------------------------
# Analytics over the star schema (general query capability)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def sql_pricing_summary():
    return """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(avg(l_quantity), 4) AS avg_qty,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""


def q_revenue_by_nation(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def sql_revenue_by_nation():
    return """
SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name"""


def q_top_customers(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    agg = (
        orders.groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
    )
    w = Window.orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("c_custkey", "c_name", "total_spent", "rank")
    )


def sql_top_customers():
    return """
SELECT c_custkey, c_name, total_spent, rank FROM (
  SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS total_spent,
         row_number() OVER (ORDER BY round(sum(o_totalprice), 2) DESC, c_custkey ASC) AS rank
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_custkey, c_name
) WHERE rank <= 10"""


# ---------------------------------------------------------------------------
# main-content extraction, plain/pdf paths (SQL-expressible boilerplate ops)
# ---------------------------------------------------------------------------

def q_main_content_plain(spark, sf_dir):
    return par(read_documents(spark, sf_dir)).select(
        "doc_id", _plain_main(F.col("text")).alias("main_text")
    )


def sql_main_content_plain():
    return f"SELECT doc_id, {D.plain_main('text')} AS main_text FROM documents"


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY: dict[str, tuple] = {
    "clean_text": (q_clean_text, sql_clean_text),
    "junk_flag": (q_junk_flag, sql_junk_flag),
    "classify": (q_classify, sql_classify),
    "payee_extract": (q_payee_extract, sql_payee_extract),
    "payee_clean": (q_payee_clean, sql_payee_clean),
    "spelling_correct": (q_spelling_correct, sql_spelling_correct),
    "field_grammars": (q_field_grammars, sql_field_grammars),
    "lev_match": (q_lev_match, sql_lev_match),
    "clean_text_v3": (q_clean_text_v3, sql_clean_text_v3),
    "junk_v3": (q_junk_v3, sql_junk_v3),
    "remove_prefixes": (q_remove_prefixes, sql_remove_prefixes),
    "issuer_for_grammar": (q_issuer_for_grammar, sql_issuer_for_grammar),
    "issuer_auth_account_grammar": (
        q_issuer_auth_account_grammar, sql_issuer_auth_account_grammar,
    ),
    "issuer_simple": (q_issuer_simple, sql_issuer_simple),
    "score_name": (q_score_name, sql_score_name),
    "govt_entity": (q_govt_entity, sql_govt_entity),
    "officer_designation": (q_officer_designation, sql_officer_designation),
    "filename_fields": (q_filename_fields, sql_filename_fields),
    "line_confidence": (q_line_confidence, sql_line_confidence),
    "window_order": (q_window_order, sql_window_order),
    "clean_text_v2": (q_clean_text_v2, sql_clean_text_v2),
    "containment_match": (q_containment_match, sql_containment_match),
    "pricing_summary": (q_pricing_summary, sql_pricing_summary),
    "revenue_by_nation": (q_revenue_by_nation, sql_revenue_by_nation),
    "top_customers": (q_top_customers, sql_top_customers),
    "main_content_plain": (q_main_content_plain, sql_main_content_plain),
    "fast_pattern_extract": (q_fast_pattern_extract, sql_fast_pattern_extract),
    "for_first3": (q_for_first3, sql_for_first3),
}
