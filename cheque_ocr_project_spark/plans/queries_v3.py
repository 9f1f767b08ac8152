"""Driver-contract queries, batch 2: V3-variant operators + remaining
reference grammars (SURVEY.md §2: P2/P4/P7, F6-F8, F14, F17, K2, A1, W3,
C3-C5, and the simple issuer extractor from parallel_processor.py).

Same contract as plans/queries.py: Spark DataFrame query + DuckDB oracle
SQL generated from the shared vocab, identical aliases both sides.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cheque_ocr_project_spark.functions import columns as C
from cheque_ocr_project_spark.functions import ducksql as D
from cheque_ocr_project_spark.operators.extract import par
from cheque_ocr_project_spark.oracle import vocab


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# P2: clean_text v3
# ---------------------------------------------------------------------------

def q_clean_text_v3(spark, sf_dir):
    return par(_docs(spark, sf_dir)).select(
        "doc_id", C.clean_text_v3(F.col("text")).alias("cleaned_v3")
    )


def sql_clean_text_v3():
    s = "replace(translate(upper(text), '|!015', 'IIOIS'), '8', 'B')"
    s = D.rr(s, r"[^A-Za-z0-9 ,.&/-]", " ")
    s = D.collapse_ws(s)
    return (
        f"SELECT doc_id, CASE WHEN text IS NULL OR length(text) = 0 THEN '' "
        f"ELSE {s} END AS cleaned_v3 FROM documents"
    )


# ---------------------------------------------------------------------------
# P4/P7: V3 junk + business-name validity (60% / 50% / 70% coverage rules)
# ---------------------------------------------------------------------------

_RX_META = set("\\^$.|?*+()[]{}")


def _literal_prefix(pattern: str) -> str:
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


def _junk_v3_col(u: Column) -> Column:
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
        prefix = _literal_prefix(p)
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


def _junk_v3_sql(u: str) -> str:
    caps_ok = ", ".join(D.q(t) for t in vocab.SHORT_CAPS_OK_V3)
    short_caps = (
        f"(regexp_matches({u}, '^[A-Z]{{2,4}}$') AND {u} NOT IN ({caps_ok}))"
    )
    pats = " OR ".join(
        f"(regexp_matches({u}, {D.rx(p)}, 'i') AND "
        f"length(regexp_extract({u}, {D.rx(p)}, 0, 'i')) >= length({u}) * 0.6)"
        for p in vocab.JUNK_PATTERNS_V3
    )
    variations = " OR ".join(
        f"(contains({u}, {D.q(j)}) AND {len(j)} >= length({u}) * 0.5)"
        for j in vocab.JUNK_VARIATIONS_V3
    )
    return (
        f"({u} IS NULL OR length({u}) < 2 OR {short_caps} OR {pats} "
        f"OR {variations})"
    )


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
        & ~_junk_v3_col(u)
        & ~bank_hit
        & F.when((digits > 0) & (alpha == 0), pure_number_ok).otherwise(
            ~F.when(alpha > 0, mixed_reject).otherwise(F.lit(False))
        )
    )


def q_junk_v3(spark, sf_dir):
    u = F.upper(F.col("text"))
    return par(_docs(spark, sf_dir)).select(
        "doc_id",
        _junk_v3_col(u).alias("is_junk_v3"),
        _valid_business_v3_col(F.upper(F.col("text"))).alias("is_valid_business_v3"),
    )


def sql_junk_v3():
    u = "upper(text)"
    caps_ok = ", ".join(D.q(t) for t in vocab.BANK_NAMES_V3)
    bank_hit = " OR ".join(
        f"(contains({u}, {D.q(b)}) AND {len(b)} >= length({u}) * 0.7)"
        for b in vocab.BANK_NAMES_V3
    )
    alpha = D.n_alpha_sql(u)
    digits = D.n_digit_sql(u)
    total = f"length({u})"
    valid = f"""({u} IS NOT NULL AND length({u}) >= 3
      AND NOT {_junk_v3_sql(u)}
      AND NOT ({bank_hit})
      AND (CASE WHEN {digits} > 0 AND {alpha} = 0 THEN length({u}) >= 8
           ELSE NOT (CASE WHEN {alpha} > 0
                     THEN ({alpha} * 1.0 / {total} < 0.3 AND {total} > 5
                           AND NOT ({digits} > 5))
                     ELSE FALSE END) END))"""
    return f"""
SELECT doc_id, {_junk_v3_sql(u)} AS is_junk_v3, {valid} AS is_valid_business_v3
FROM documents"""


# ---------------------------------------------------------------------------
# F14: prefix removal (V3)
# ---------------------------------------------------------------------------

def q_remove_prefixes(spark, sf_dir):
    cand = F.upper(F.substring(F.col("text"), 1, 60))
    return par(_docs(spark, sf_dir)).select(
        "doc_id", C.remove_prefixes_v3(cand).alias("deprefixed")
    )


def sql_remove_prefixes():
    s = "upper(text[1:60])"
    s = D.chain_regex_strip_sql(s, vocab.PREFIX_PATTERNS_V3)
    # pystrip (all whitespace), not trim (spaces only): the oracle strips
    # trailing newlines too — latent divergence on \n-terminated snippets
    return f"SELECT doc_id, {D.pystrip_sql(s)} AS deprefixed FROM documents"


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
    return par(_docs(spark, sf_dir)).select("doc_id", out.alias("for_candidate"))


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
        chain = None
        for p, g in zip(patterns, guards):
            cond = g & u.rlike(p)
            hit = F.when(cond, F.trim(F.regexp_extract(u, p, 1)))
            chain = hit if chain is None else chain.when(
                cond, F.trim(F.regexp_extract(u, p, 1))
            )
        return chain.otherwise(F.lit(None).cast("string"))

    return par(_docs(spark, sf_dir)).select(
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
    words = F.filter(F.split(cand, r"\s+"), lambda w: w != "")
    joined = F.array_join(words, " ")
    cleaned = F.trim(
        F.regexp_replace(F.regexp_replace(joined, r"[^\w\s]", " "), r"\s+", " ")
    )
    # materialize the multi-referenced derivations once per row (words is
    # referenced 3x, cleaned 2x, for_result 2x — inlined, each reference
    # would re-run the whole split/regex chain)
    staged = par(_docs(spark, sf_dir)).select(
        "doc_id", "text",
        u.alias("__u"),
        words.alias("__words"),
        cleaned.alias("__cleaned"),
    )
    uu = F.col("__u")
    bank = None
    for b in vocab.SIMPLE_BANK_NAMES:
        bank = (
            F.when(uu.contains(b), F.lit(b))
            if bank is None
            else bank.when(uu.contains(b), F.lit(b))
        )
    bank = bank.otherwise(F.lit(None).cast("string"))
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
        cand = (
            f"CASE WHEN contains({cand}, {d}) "
            f"THEN split_part({cand}, {d}, 1) ELSE {cand} END"
        )
    words = f"regexp_extract_all({cand}, '[^ \\t\\n\\x0b\\f\\r]+')"
    joined = f"array_to_string({words}, ' ')"
    cleaned = D.collapse_ws(D.rr(joined, r"[^\w\s]", " "))
    for_result = (
        f"CASE WHEN contains({u}, 'FOR') AND len({words}) BETWEEN 1 AND 5 "
        f"AND length({cleaned}) >= 5 THEN {cleaned} END"
    )
    return f"""
SELECT doc_id,
  CASE WHEN length(coalesce(text, '')) < 20 THEN 'UNKNOWN'
       WHEN {bank} IS NOT NULL THEN {bank}
       WHEN {for_result} IS NOT NULL THEN {for_result}
       ELSE 'UNKNOWN' END AS issuer_simple
FROM documents"""


# ---------------------------------------------------------------------------
# K2: score_name
# ---------------------------------------------------------------------------

def q_score_name(spark, sf_dir):
    cand = F.substring(F.col("text"), 1, 40)
    return par(_docs(spark, sf_dir)).select(
        "doc_id", F.round(C.score_name(cand), 6).alias("name_score")
    )


def sql_score_name():
    t = "text[1:40]"
    words = f"regexp_extract_all({t}, '[^ \\t\\n\\x0b\\f\\r]+')"
    n = f"len({words})"
    all_alpha = (
        f"(len(list_filter({words}, w -> NOT regexp_matches(w, '^[A-Za-z]+$'))) = 0)"
    )
    common_list = ", ".join(D.q(w) for w in sorted(vocab.COMMON_NAME_PARTS))
    common = f"len(list_filter({words}, w -> upper(w) IN ({common_list})))"
    score = (
        f"(CASE WHEN {n} BETWEEN 2 AND 5 THEN 0.3 ELSE 0.0 END"
        f" + CASE WHEN {all_alpha} THEN 0.3 ELSE 0.0 END"
        f" + 0.2 * {common})"
    )
    return f"SELECT doc_id, round(least({score}, 1.0), 6) AS name_score FROM documents"


# ---------------------------------------------------------------------------
# C3/C4/C5: government payee rule over documents
# ---------------------------------------------------------------------------

def _is_govt_entity_sql(x: str) -> str:
    u = f"upper(coalesce({x}, ''))"
    entities = D.any_term_sql(u, vocab.GOVT_ENTITIES)
    pats = f"regexp_matches({u}, {D.rx('|'.join(f'(?:{p})' for p in vocab.GOVT_PAYEE_PATTERNS))})"
    words = f"len(regexp_extract_all({u}, '[^ \\t\\n\\x0b\\f\\r]+'))"
    indicators = D.any_term_sql(u, vocab.GOVT_INDICATORS)
    return (
        f"(length({u}) > 0 AND ({entities} OR {pats} "
        f"OR ({words} <= 4 AND {indicators})))"
    )


def q_govt_entity(spark, sf_dir):
    from cheque_ocr_project_spark.plans.pipeline import (
        _is_government_entity,
        _payee_section,
    )

    cand = F.substring(F.col("text"), 1, 60)
    u = F.upper(F.col("text"))
    # Pre-materialize the payee section: payable_to_govt would otherwise
    # inline the section when-chain into the ~90-literal entity scan per
    # reference (the variant_keep_best projection-collapse trap — a vocab
    # widening would multiply it). Two stacked projections keep the heavy
    # derivation single-copy; CollapseProject keeps multi-referenced
    # non-cheap aliases materialized.
    staged = par(_docs(spark, sf_dir)).select(
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
    section = None
    u = "upper(text)"
    whens = []
    for ind in vocab.PAYEE_SECTION_INDICATORS:
        expr = f"substr({u}, strpos({u}, {D.q(ind)}) + {len(ind)}, 200)"
        whens.append(f"WHEN contains({u}, {D.q(ind)}) THEN {expr}")
    section = "CASE " + " ".join(whens) + " ELSE NULL END"
    payable = (
        f"CASE WHEN {section} IS NOT NULL THEN {_is_govt_entity_sql(section)} "
        "ELSE FALSE END"
    )
    return f"""
SELECT doc_id,
  {_is_govt_entity_sql("text[1:60]")} AS is_govt_entity,
  {payable} AS payable_to_govt,
  {section} AS payee_section
FROM documents"""


def q_officer_designation(spark, sf_dir):
    from cheque_ocr_project_spark.plans.pipeline import _designation_literal

    u = F.upper(F.col("text"))
    return par(_docs(spark, sf_dir)).select(
        "doc_id", _designation_literal(u).alias("designation")
    )


def sql_officer_designation():
    u = "upper(text)"
    whens = " ".join(
        f"WHEN contains({u}, {D.q(d)}) THEN {D.q(d)}"
        for d in vocab.OFFICER_DESIGNATIONS
    )
    return f"SELECT doc_id, CASE {whens} ELSE NULL END AS designation FROM documents"


# ---------------------------------------------------------------------------
# F17: filename-derived fields (custom_csv.py:24-46)
# ---------------------------------------------------------------------------

def q_filename_fields(spark, sf_dir):
    fname = F.concat(
        F.lit("P_"), F.col("doc_id").cast("string"), F.lit("_"),
        F.col("n_chars").cast("string"), F.lit(".50.tif"),
    )
    amount = F.when(
        fname.rlike(r"(\d+\.\d{2})"), F.regexp_extract(fname, r"(\d+\.\d{2})", 1)
    ).otherwise("0.00")
    account = F.when(
        fname.rlike(r"\d+"), F.regexp_extract(fname, r"(\d+)", 1)
    ).otherwise("0")
    date = F.when(fname.rlike(r"(\d{8})"), F.regexp_extract(fname, r"(\d{8})", 1))
    return par(_docs(spark, sf_dir)).select(
        "doc_id", fname.alias("filename"),
        amount.alias("amount"), account.alias("account"), date.alias("file_date"),
    )


def sql_filename_fields():
    fname = "'P_' || CAST(doc_id AS VARCHAR) || '_' || CAST(n_chars AS VARCHAR) || '.50.tif'"
    return f"""
SELECT doc_id, {fname} AS filename,
  CASE WHEN regexp_matches({fname}, '(\\d+\\.\\d{{2}})')
       THEN regexp_extract({fname}, '(\\d+\\.\\d{{2}})', 1) ELSE '0.00' END AS amount,
  CASE WHEN regexp_matches({fname}, '\\d+')
       THEN regexp_extract({fname}, '(\\d+)', 1) ELSE '0' END AS account,
  CASE WHEN regexp_matches({fname}, '(\\d{{8}})')
       THEN regexp_extract({fname}, '(\\d{{8}})', 1) END AS file_date
FROM documents"""


# ---------------------------------------------------------------------------
# A1/W3: line-confidence aggregate + window ordering
# ---------------------------------------------------------------------------

def q_line_confidence(spark, sf_dir):
    t = F.col("text")
    conf = F.when(F.length(t) == 0, F.lit(0.0)).otherwise(
        0.6 + 0.4 * (C.n_alpha(t) / F.length(t))
    )
    return _docs(spark, sf_dir).select(
        "doc_id", F.round(conf, 6).alias("line_conf")
    )


def sql_line_confidence():
    alpha = D.n_alpha_sql("text")
    return f"""
SELECT doc_id,
  round(CASE WHEN length(text) = 0 THEN 0.0
        ELSE 0.6 + 0.4 * ({alpha} * 1.0 / length(text)) END, 6) AS line_conf
FROM documents"""


def q_window_order(spark, sf_dir):
    from pyspark.sql import Window

    w = Window.partitionBy("source").orderBy("doc_id")
    return _docs(spark, sf_dir).select(
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
    s = F.regexp_replace(s, r"[^A-Z0-9 .,&/-]", " ")
    s = F.trim(F.regexp_replace(s, r"\s+", " "))
    out = F.when(t.isNull() | (F.length(t) == 0), F.lit("XXX")).otherwise(s)
    return par(_docs(spark, sf_dir)).select("doc_id", out.alias("cleaned_v2"))


def sql_clean_text_v2():
    s = "translate(upper(text), '01|568', 'OIISGB')"
    s = D.rr(s, r"[^A-Z0-9 .,&/-]", " ")
    s = D.collapse_ws(s)
    return (
        f"SELECT doc_id, CASE WHEN text IS NULL OR length(text) = 0 "
        f"THEN 'XXX' ELSE {s} END AS cleaned_v2 FROM documents"
    )


def q_containment_match(spark, sf_dir):
    """J3 containment theta-join: candidate contained-in dictionary name (or
    vice versa) with length ratio > 0.6, argmax per candidate (ties keep the
    lexicographically-first dictionary name = sorted-dict iteration order)."""
    docs = _docs(spark, sf_dir)
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
    from pyspark.sql import Window

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
    u = F.trim(F.regexp_replace(F.regexp_replace(u, r"[^\w\s]", " "), r"\s+", " "))
    return F.when(F.length(u) >= 3, u).otherwise(F.lit("UNKNOWN"))


def _clean_name_fast_sql(cand: str) -> str:
    s = D.chain_replace_sql(f"upper({cand})", vocab.FAST_SPELLING_CORRECTIONS)
    s = D.collapse_ws(D.rr(s, r"[^\w\s]", " "))
    return f"CASE WHEN length({s}) >= 3 THEN {s} ELSE 'UNKNOWN' END"


def q_fast_pattern_extract(spark, sf_dir):
    # Trailing newlines stripped on both sides: Java '$' matches before a
    # final line terminator, RE2 '$' does not (latent dialect divergence in
    # the '\s+$' alternations of the FAST_* patterns). The normalized text
    # is materialized as its own projection so the ~12 pattern references
    # don't each re-inline the regexp_replace (CollapseProject).
    staged = par(_docs(spark, sf_dir)).select(
        "doc_id",
        F.regexp_replace(F.upper(F.col("text")), r"[\n\r]+$", "").alias("__u"),
    )
    u = F.col("__u")

    # interior-literal guards for the two group-leading issuer patterns
    # (no literal PREFIX to auto-derive, but any match must contain these)
    interior = {
        r"([A-Z][A-Z\s\.]{5,50}?)\s+AUTHORISED\s+SIGNATORY": "AUTHORISED",
        r"([A-Z][A-Z\s\.]{5,50}?)\s+SIGNATURE": "SIGNATURE",
    }

    def first(patterns):
        chain = None
        for p in patterns:
            cond = u.rlike(p)
            prefix = _literal_prefix(p)
            if len(prefix) >= 3:  # skip the backtracking regex cheaply
                cond = u.contains(prefix) & cond
            elif p in interior:
                cond = u.contains(interior[p]) & cond
            hit = F.when(cond, _clean_name_fast_col(F.regexp_extract(u, p, 1)))
            chain = hit if chain is None else chain.when(
                cond, _clean_name_fast_col(F.regexp_extract(u, p, 1))
            )
        return chain.otherwise(F.lit(None).cast("string"))

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
    first3 = F.array_join(
        F.slice(F.regexp_extract_all(seg, F.lit(r"\S+"), F.lit(0)), 1, 3), " "
    )
    out = F.when(
        u.contains("FOR") & (F.size(F.split(u, "FOR")) > 1), first3
    ).otherwise(F.lit("UNKNOWN"))
    return par(_docs(spark, sf_dir)).select("doc_id", out.alias("for_first3"))


def sql_for_first3():
    u = "upper(text)"
    seg = f"trim(string_split({u}, 'FOR')[2])"
    first3 = f"array_to_string(regexp_extract_all({seg}, '[^ \\t\\n\\x0b\\f\\r]+')[1:3], ' ')"
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
    from pyspark.sql import Window

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
    from cheque_ocr_project_spark.plans.pipeline import _plain_main

    return par(_docs(spark, sf_dir)).select(
        "doc_id", _plain_main(F.col("text")).alias("main_text")
    )


def sql_main_content_plain():
    line = "trim(regexp_replace(x, '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g'))"
    return f"""
SELECT doc_id,
  array_to_string(
    list_filter(list_transform(string_split(text, chr(10)), x -> {line}),
                x -> x <> ''), chr(10)) AS main_text
FROM documents"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

REGISTRY_V3: dict[str, tuple] = {
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
