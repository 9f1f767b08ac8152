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

The statements compose the oracle renderers of functions/ducksql.py
(main content, classification, payee and government rules, cleaning,
validity, line confidence) over ``sources.io.DOCUMENTS_AS_TRANSCRIPTS_SQL``;
what is left here is the stage wiring. The model-phase twins render the
deterministic fallbacks the registered model queries run without
``transformers``; the media twins mirror operators/multimodal.py's integer
stub features.
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
from cheque_ocr_project_spark.plans.near_dup import poly_sql
from cheque_ocr_project_spark.plans.text_stats import (
    stop_ratio, stop_ratio_sql,
)
from cheque_ocr_project_spark.sources import scratch
from cheque_ocr_project_spark.sources.io import (
    DOCUMENTS_AS_TRANSCRIPTS_SQL, TRANSCRIPT_KEYS_SQL,
    documents_as_transcripts, read_documents,
)
from cheque_ocr_project_spark.sources.synth import default_drawer_dict
from cheque_ocr_project_spark.streaming import stream as ST


# ---------------------------------------------------------------------------
# main-content strip (= oracle.boilerplate.main_content)
# ---------------------------------------------------------------------------

def content_sql() -> str:
    """content column over (role, text, tool) — evaluated in two layers so
    the pdf repeated-lines rule can reference its own line list."""
    pdf_lines, pdf_kept = D.pdf_main("text")
    has_tag = f"(contains(text, '<') AND regexp_matches(text, {D.rx(vocab.TAG_PATTERN)}))"
    return f"""
  SELECT conv_id, turn_idx, role, text, tool,
    -- outer coalesce: DuckDB array_to_string([]) is NULL, but main_content
    -- of a fully-stripped payload is '' (a tool turn whose every line is
    -- dropped by the HTML/PDF heuristics must not poison the row with
    -- NULLs — caught by tests/test_flagship_sql_adversarial.py)
    coalesce(CASE
      WHEN role <> 'tool' THEN coalesce(text, '')
      WHEN text IS NULL OR length(text) = 0 THEN ''
      WHEN tool = 'web_fetch' OR {has_tag} THEN {D.html_main('text')}
      WHEN tool = 'pdf_extract' THEN {pdf_kept}
      ELSE {D.plain_main('text')}
    END, '') AS content
  FROM (
    SELECT conv_id, turn_idx, role, text, tool,
           CASE WHEN role = 'tool' AND tool = 'pdf_extract'
                THEN {pdf_lines} ELSE [] END AS lines0
    FROM transcripts
  )"""


def line_relation_sql() -> str:
    """The CTE chain both flagship statements start from: transcripts →
    main content → each turn's non-blank lines (``turns``) → one row per
    line (``lines_rel``: line_idx, raw_line)."""
    return f"""
WITH transcripts AS ({DOCUMENTS_AS_TRANSCRIPTS_SQL}),
content AS ({content_sql()}),
turns AS (
  SELECT conv_id, turn_idx, {D.nonblank_lines('content')} AS lines
  FROM content
),
lines_rel AS (
  SELECT conv_id, turn_idx,
         unnest(range(0, len(lines))) AS line_idx,
         unnest(lines) AS raw_line
  FROM turns
)"""


# ---------------------------------------------------------------------------
# V3 variant (extract_turn_v3: clean_v3 → junk/validity v3 → conf top-1 →
# prefix strip → status cascade; empty dict ⇒ no fuzzy stage)
# ---------------------------------------------------------------------------

def sql_flagship_v3_nofuzzy(
        threshold: float = oracle_issuer.DEFAULT_THRESHOLD_V3) -> str:
    review_ok = ", ".join(D.q(t) for t in vocab.SHORT_REVIEW_OK_V3)
    short_review = (
        "(length(issuer_v3) <= 4 AND regexp_matches(issuer_v3, '^[A-Za-z]+$')"
        f" AND issuer_v3 NOT IN ({review_ok}))"
    )
    return f"""{line_relation_sql()},
lines2 AS MATERIALIZED (  -- else DuckDB inlines `cleaned` into every predicate read
  SELECT *, {D.is_junk_v3('cleaned')} AS junk FROM (
    SELECT conv_id, turn_idx, line_idx,
           {D.line_conf('raw_line')} AS conf,
           {D.clean_text_v3(D.pystrip('raw_line'))} AS cleaned
    FROM lines_rel
  )
),
cands AS (
  SELECT conv_id, turn_idx, line_idx, conf, cleaned
  FROM lines2
  WHERE cleaned <> '' AND NOT junk AND {D.is_valid_drawer_v3('cleaned', 'junk')}
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
              ELSE {D.remove_prefixes_v3('p.best_cleaned')} END AS issuer_v3,
         CASE WHEN p.best_cleaned IS NULL THEN 0.0
              ELSE p.best_conf END AS confidence_v3,
         CAST(NULL AS VARCHAR) AS matched_with
  FROM turns t
  LEFT JOIN top1 p ON p.conv_id = t.conv_id AND p.turn_idx = t.turn_idx
),
judged AS MATERIALIZED (
  SELECT *, {D.is_valid_drawer_v3('issuer_v3', 'is_junk')} AS is_valid
  FROM (SELECT *, {D.is_junk_v3('issuer_v3')} AS is_junk FROM per_turn)
)
SELECT conv_id, turn_idx, issuer_v3, confidence_v3, matched_with,
  CASE
    WHEN issuer_v3 <> 'NO_VALID_TEXT' AND is_junk THEN 'JUNK-FILTERED'
    WHEN confidence_v3 >= {threshold} AND length(issuer_v3) > 0
         AND issuer_v3 <> 'NO_VALID_TEXT'
      THEN (CASE WHEN is_valid
                 THEN (CASE WHEN {short_review} THEN 'REVIEW-SHORT'
                            ELSE 'AUTO-UPDATED' END)
                 ELSE 'INVALID-TEXT' END)
    WHEN length(issuer_v3) > 0 AND issuer_v3 <> 'NO_VALID_TEXT' AND is_valid
      THEN 'REVIEW'
    ELSE 'NO-TEXT'
  END AS status_v3
FROM judged"""


# ---------------------------------------------------------------------------
# full statement
# ---------------------------------------------------------------------------

def sql_flagship_nofuzzy(
        threshold: float = oracle_issuer.DEFAULT_THRESHOLD_V1) -> str:
    u = "u"  # upper(full_text), bound in turn_level
    c = D.cheque_classes(u)
    o = D.cheque_outputs(c)
    has_text = "(n_lines > 0)"
    # no has_text guard: a turn without lines has a NULL full_text
    fields = ",\n    ".join(
        f"{sql} AS {name}"
        for name, sql in D.field_grammars("full_text")._asdict().items())

    designation = D.designation_literal(u)
    payee_raw_u = "upper(coalesce(payee_raw, ''))"
    gov_payee = f"""CASE
      WHEN {c.cat3} THEN 'GOVERNMENT'
      WHEN {c.cat2} THEN (
        CASE WHEN ({designation}) IS NOT NULL
               THEN 'GOVERNMENT - ' || ({designation})
             WHEN length({payee_raw_u}) > 0
                  AND {D.any_term(payee_raw_u, vocab.OFFICER_DESIGNATIONS)}
               THEN 'GOVERNMENT - ' || payee_raw
             ELSE 'GOVERNMENT OFFICER' END)
      ELSE (CASE WHEN {D.is_government_entity('payee_raw')} THEN 'GOVERNMENT'
                 ELSE coalesce(payee_raw, 'XXX') END)
    END"""

    # issuer per-line stages
    u_raw = "upper(stext)"
    marker_rx = D.rx("|".join(vocab.FOR_MARKERS))
    for_line_rx = D.rx("|".join(vocab.FOR_LINE_MARKERS))

    def after_marker(col, u_col):  # per FOR marker in order; NULL if absent
        return [
            f"CASE WHEN contains({u_col}, {D.q(m)}) THEN "
            f"{D.pystrip(f'substr({col}, strpos({u_col}, {D.q(m)}) + {len(m)})')} END"
            for m in vocab.FOR_MARKERS
        ]

    scan_cand = D.first_where(after_marker("stext", u_raw), D.looks_like_real_name)
    for_cand = D.first_where(after_marker("cleaned", "cleaned"), D.is_valid_drawer_v1)

    fwords = D.words_of("final_text")
    n_fwords = f"len({fwords})"
    wc_boost = f"(CASE WHEN {n_fwords} >= 2 AND {n_fwords} <= 4 THEN 0.15 ELSE 0.0 END)"
    common_boost = f"(0.1 * {D.common_name_part_count(fwords)})"
    susp = D.any_term("final_text", vocab.SUSPICIOUS_SCORE_TERMS)
    normal_score = (
        f"(((conf + 0.0) + {wc_boost}) + {common_boost}) "
        f"- (CASE WHEN {susp} THEN 0.40 ELSE 0.0 END)"
    )

    return f"""{line_relation_sql()},
turn_level AS (
  SELECT conv_id, turn_idx, lines, len(lines) AS n_lines,
         array_to_string(lines, ' ') AS full_text,
         upper(array_to_string(lines, ' ')) AS u,
         {D.mean_line_conf('lines')} AS confidence
  FROM turns
),
classified AS (
  SELECT conv_id, turn_idx, lines, n_lines, full_text, u, confidence,
    CASE WHEN {has_text} THEN {o.cheque_type} END AS cheque_type,
    ({has_text} AND {o.is_government}) AS is_government,
    CASE WHEN {has_text} THEN {o.govt_category} END AS government_category,
    CASE WHEN {has_text} THEN {o.payee_rule} END AS payee_rule,
    CASE WHEN {has_text} THEN {D.payee_raw(u)} END AS payee_raw
  FROM turn_level
),
payeed AS (
  SELECT *,
    CASE WHEN NOT {has_text} THEN 'XXX'
         WHEN is_government THEN {gov_payee}
         WHEN payee_raw IS NOT NULL THEN {D.clean_payee('payee_raw')}
         ELSE 'XXX' END AS payee_cleaned,
    {fields},
    {has_text} AS success,
    CASE WHEN NOT {has_text} THEN 'No text detected' END AS error
  FROM classified
),
lines2 AS MATERIALIZED (  -- else DuckDB inlines `cleaned` into every predicate read
  SELECT conv_id, turn_idx, line_idx,
         {D.line_conf('raw_line')} AS conf,
         {D.pystrip('raw_line')} AS stext,
         {D.clean_text_v1(D.pystrip('raw_line'))} AS cleaned
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
    AND {D.is_valid_drawer_v1('cleaned')}
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
         WHEN NOT {D.looks_like_real_name('t.top_name')} THEN 'XXX'
         ELSE t.top_name END AS issuer,
    CASE WHEN s.scan_name IS NOT NULL THEN s.scan_conf
         WHEN t.top_name IS NULL THEN 0.0
         WHEN t.top_conf < {threshold} THEN 0.0
         WHEN NOT {D.looks_like_real_name('t.top_name')} THEN 0.0
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

def q_variant_keep_best(spark, sf_dir):
    """W2 idiom end-to-end: variant struct columns collapsed with
    when-chain early exit (>= 0.95) + greatest() over structs (max conf,
    earliest variant on ties via neg_idx). = oracle.variants.keep_best."""
    t = F.coalesce(F.col("text"), F.lit(""))
    variants = [
        t,
        F.regexp_replace(t, vocab.TAG_PATTERN, ""),
        C.collapse_ws(t),
    ]
    structs = []
    for i, (name, v) in enumerate(zip(VARIANT_NAMES, variants)):
        structs.append(
            F.struct(
                C.mean_line_conf(C.nonblank_lines(v)).alias("conf"),
                F.lit(-i).alias("neg_idx"),
                F.lit(name).alias("name"),
                v.alias("vtext"),
            )
        )
    chosen = C.when_chain(
        [(s.getField("conf") >= EARLY_EXIT, s) for s in structs],
        F.greatest(*structs))

    u = F.upper(F.array_join(C.nonblank_lines(F.col("ch.vtext")), " "))
    staged = (
        par(read_documents(spark, sf_dir))
        .select("doc_id", chosen.alias("ch"))
        .select(
            "doc_id",
            F.col("ch.name").alias("best_variant"),
            F.col("ch.conf").alias("best_conf"),
            u.alias("u"),
        )
        # Exchange barrier: payee_raw references `u` once per pattern and
        # guard; without the barrier CollapseProject would inline the whole
        # variant-confidence machinery into every reference.
        .repartition(F.col("doc_id"))
    )
    return staged.select(
        "doc_id", "best_variant", "best_conf",
        C.payee_raw(F.col("u")).alias("payee_raw"),
    )


def sql_variant_keep_best():
    def vconf(v):
        return D.mean_line_conf(D.nonblank_lines(v))

    return f"""
WITH v AS (
  SELECT doc_id, coalesce(text, '') AS t,
         regexp_replace(coalesce(text, ''), {D.rx(vocab.TAG_PATTERN)}, '', 'g') AS dom,
         {D.collapse_ws("coalesce(text, '')")} AS ws
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
         upper(array_to_string({D.nonblank_lines('vtext')}, ' ')) AS u
  FROM sel
)
SELECT doc_id, best_variant, best_conf, {D.payee_raw('u')} AS payee_raw
FROM ft"""


# ---------------------------------------------------------------------------
# model phase (U2-U5 plumbing + K3 ensemble) — the registered queries
# exercise the deterministic fallbacks (no transformers installed);
# the `backend` column makes a real-model environment visibly diverge.
# ---------------------------------------------------------------------------

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
  SELECT {TRANSCRIPT_KEYS_SQL}, {D.words_of('upper(text[1:512])')} AS tw
  FROM documents
),
scored AS (
  SELECT conv_id, turn_idx, tw, {best} AS best FROM t
)
SELECT conv_id, turn_idx, {label_case} AS label,
       CAST(best AS DOUBLE) AS score, 'overlap' AS backend
FROM scored"""


CAP_SPAN_RX = r"\b([A-Z][A-Z]+(?:\s+[A-Z][A-Z]+){0,3})\b"


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
    hints = ", ".join(D.q(h) for h in M._FAKE_ORG_HINTS)
    return f"""
WITH t AS (
  SELECT {TRANSCRIPT_KEYS_SQL},
         regexp_extract_all(upper(text[1:512]), {D.rx(CAP_SPAN_RX)}, 1) AS spans
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
    answer = D.payee_raw("u")
    return f"""
WITH t AS (
  SELECT {TRANSCRIPT_KEYS_SQL}, {u} AS u FROM documents
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
    corrected = D.correct_spelling(snip)
    a = D.words_of(f"upper({snip})")
    b = D.words_of("corr")
    return f"""
WITH t AS (
  SELECT {TRANSCRIPT_KEYS_SQL}, text, {corrected} AS corr FROM documents
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


def q_model_ensemble(spark, sf_dir):
    """K3 ensemble confidence wired end-to-end: deterministic per-turn
    component signals combined with the reference's weights
    (ai_processor.py:75-80) via models.ensemble_confidence."""
    d = documents_as_transcripts(spark, sf_dir)
    ocr = C.mean_line_conf(C.nonblank_lines(F.col("text")))
    u512 = F.upper(F.substring(F.col("text"), 1, 512))
    caps = F.size(
        F.regexp_extract_all(u512, F.lit(CAP_SPAN_RX), F.lit(1))
    )
    ner = F.least(F.lit(1.0), caps / F.lit(10.0))
    context = stop_ratio(C.lower_terms(F.col("text")))
    # NULL for an empty turn, like DuckDB's x / 0 (ANSI / raises)
    spelling = F.lit(1.0) - F.try_divide(
        C.n_digit(F.col("text")), F.length(F.col("text"))
    )
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
    caps = f"len(regexp_extract_all(upper(text[1:512]), {D.rx(CAP_SPAN_RX)}, 1))"
    spelling = f"1.0 - {D.n_digit('text')} / length(text)"
    return f"""
WITH t AS (
  SELECT {TRANSCRIPT_KEYS_SQL}, text, {D.nonblank_lines('text')} AS lines,
         {D.lower_terms('text')} AS toks
  FROM documents
),
parts AS (
  SELECT conv_id, turn_idx,
    {D.mean_line_conf('lines')} AS ocr_conf,
    least(1.0, {caps} / 10.0) AS ner_conf,
    {stop_ratio_sql('toks')} AS context_conf,
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
