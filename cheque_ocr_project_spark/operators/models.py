"""Optional model-backed extraction phase (SURVEY.md §2.11 U2-U5).

The reference's AI path (ai_processor.py / pure_ai_processor.py) runs HF
pipelines per image: NER (dslim/bert-base-NER), zero-shot verification
(bart-large-mnli), QA extraction (distilbert-squad) and T5 spell
correction. Those models are non-deterministic across versions and are NOT
part of the per-turn equality contract (SURVEY.md §3.3) — the deterministic
replacements are the F13 spelling map and the difflib J2 match.

This module ships the *Spark plumbing* for that phase in the shape a
model-holding UDF must have at 100 TB:

- iterator-of-batches pandas UDF (``mapInPandas``) so the model loads ONCE
  per python worker, not per batch (the reference's singleton caches,
  cheque_classifier.py:274-281, become worker-process globals);
- ``transformers`` imported lazily behind a try; absent (this container),
  the stage degrades to a deterministic keyword-NER fake so the pipeline
  stays runnable and testable end-to-end;
- inputs truncated to 512 chars like the reference (ai_processor.py:159).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from cheque_ocr_project_spark.functions.columns import split_words
from cheque_ocr_project_spark.operators.extract import par

_WORKER_STATE: dict = {}

NER_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("entities", T.ArrayType(T.StructType([
        T.StructField("entity", T.StringType()),
        T.StructField("label", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]))),
    T.StructField("backend", T.StringType()),
])

_FAKE_ORG_HINTS = (
    "LTD", "PVT", "ENTERPRISES", "INDUSTRIES", "TRADERS", "BANK", "CO",
    "STORES", "AGENCIES", "TEXTILES",
)
_EXOTIC_WS_RE = re.compile("[\x1c\x1d\x1e\x1f\x85]")


_CAP_SPAN = re.compile(r"\b([A-Z][A-Z]+(?:[ \t\n\x0b\f\r]+[A-Z][A-Z]+){0,3})\b")


def _load_ner():
    """Once per python worker. Real model if transformers is installed,
    else the deterministic keyword fake (clearly labeled in `backend`)."""
    if "ner" in _WORKER_STATE:
        return _WORKER_STATE["ner"]
    try:  # pragma: no cover - transformers not in this container
        from transformers import pipeline

        model = pipeline("ner", model="dslim/bert-base-NER",
                         aggregation_strategy="simple")

        def run(text: str):
            return [
                {"entity": e["word"], "label": e["entity_group"],
                 "score": float(e["score"])}
                for e in model(text[:512])
            ], "hf"
    except ImportError:
        def run(text: str):
            out = []
            for m in _CAP_SPAN.finditer(text[:512].upper()):
                span = m.group(1)
                label = "ORG" if any(h in split_words(span) for h in _FAKE_ORG_HINTS) else "PER"
                out.append({"entity": span, "label": label,
                            "score": round(min(1.0, len(span) / 30 + 0.5), 4)})
            return out[:10], "fake"
    _WORKER_STATE["ner"] = run
    return run


def ner_entities(spark: SparkSession, transcripts: DataFrame) -> DataFrame:
    """Per-turn named entities (U2 shape: lazy per-worker model init)."""

    def batches(pdf_iter):
        run = _load_ner()
        for pdf in pdf_iter:
            ents, backends = [], []
            for text in pdf["text"]:
                e, backend = run(text or "")
                ents.append(e)
                backends.append(backend)
            yield pd.DataFrame({
                "conv_id": pdf["conv_id"].values,
                "turn_idx": pdf["turn_idx"].values,
                "entities": ents,
                "backend": backends,
            })

    return par(transcripts.select("conv_id", "turn_idx", "text")).mapInPandas(
        batches, schema=NER_SCHEMA
    )


def ensemble_confidence(ocr_conf, ner_conf, context_conf, spelling_conf):
    """K3 ensemble weights (ai_processor.py:75-80): native column math."""
    return (
        0.3 * ocr_conf + 0.4 * ner_conf + 0.2 * context_conf + 0.1 * spelling_conf
    )


# ---------------------------------------------------------------------------
# U3: zero-shot verification (ai_processor.py:127-139, 210-227)
# ---------------------------------------------------------------------------

ZERO_SHOT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("label", T.StringType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("backend", T.StringType()),
])

DEFAULT_ZS_LABELS = ("government cheque", "business payment", "personal cheque")


def zero_shot_overlap(text: str, labels) -> tuple[str, float]:
    """Deterministic fallback: label-word containment ratio; argmax with
    first-label tie-break. SQL-recomputable (plans/flagship.py)."""
    words = set(split_words(text[:512].upper()))
    best_label, best = labels[0], -1.0
    for lab in labels:
        lw = split_words(lab.upper())
        score = sum(1 for w in lw if w in words) / len(lw)
        if score > best:
            best_label, best = lab, score
    return best_label, best


def _load_zero_shot(labels):
    # keyed by the labels too: a reused worker serves later calls with
    # other labels
    key = ("zero_shot", tuple(labels))
    if key in _WORKER_STATE:
        return _WORKER_STATE[key]
    try:  # pragma: no cover - transformers not in this container
        from transformers import pipeline

        model = pipeline("zero-shot-classification",
                         model="facebook/bart-large-mnli")

        def run(text: str):
            out = model(text[:512], candidate_labels=list(labels))
            return out["labels"][0], float(out["scores"][0]), "hf"
    except ImportError:
        def run(text: str):
            label, score = zero_shot_overlap(text, labels)
            return label, score, "overlap"
    _WORKER_STATE[key] = run
    return run


def zero_shot_classify(spark: SparkSession, transcripts: DataFrame,
                       labels=DEFAULT_ZS_LABELS) -> DataFrame:
    """U3 plumbing: bart-large-mnli context verification when transformers
    is installed; deterministic keyword-overlap fallback otherwise (labeled
    in ``backend``). Lazy per-worker init, 512-char truncation like the
    reference (ai_processor.py:159)."""

    def batches(pdf_iter):
        run = _load_zero_shot(labels)
        for pdf in pdf_iter:
            labs, scores, backends = [], [], []
            for text in pdf["text"]:
                lab, score, backend = run(text or "")
                labs.append(lab)
                scores.append(score)
                backends.append(backend)
            yield pd.DataFrame({
                "conv_id": pdf["conv_id"].values,
                "turn_idx": pdf["turn_idx"].values,
                "label": labs, "score": scores, "backend": backends,
            })

    return par(transcripts.select("conv_id", "turn_idx", "text")).mapInPandas(
        batches, schema=ZERO_SHOT_SCHEMA
    )


# ---------------------------------------------------------------------------
# U4: QA extraction (pure_ai_processor.py:68-92)
# ---------------------------------------------------------------------------

QA_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("answer", T.StringType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("backend", T.StringType()),
])

DEFAULT_QA_QUESTION = "Who is the payee of this cheque?"


def qa_payee_heuristic(text: str) -> tuple[str | None, float]:
    """Deterministic fallback: the payee grammar's first non-bank match over
    the truncated turn (trailing newlines stripped so Python-`re` and RE2
    '$' agree); score = 0.5 + 0.5*min(1, len/30)."""
    from cheque_ocr_project_spark.oracle import grammars

    snippet = text[:512].rstrip("\n\r")
    answer = grammars.extract_payee(snippet)
    if answer is None:
        return None, 0.0
    return answer, 0.5 + 0.5 * min(1.0, len(answer) / 30.0)


def _load_qa(question: str):
    key = ("qa", question)  # as in _load_zero_shot
    if key in _WORKER_STATE:
        return _WORKER_STATE[key]
    try:  # pragma: no cover - transformers not in this container
        from transformers import pipeline

        model = pipeline("question-answering",
                         model="distilbert-base-cased-distilled-squad")

        def run(text: str):
            out = model(question=question, context=text[:512])
            return out["answer"], float(out["score"]), "hf"
    except ImportError:
        def run(text: str):
            answer, score = qa_payee_heuristic(text)
            return answer, score, "heuristic"
    _WORKER_STATE[key] = run
    return run


def qa_extract(spark: SparkSession, transcripts: DataFrame,
               question: str = DEFAULT_QA_QUESTION) -> DataFrame:
    """U4 plumbing: distilbert-squad extraction when transformers is
    installed; deterministic grammar heuristic otherwise."""

    def batches(pdf_iter):
        run = _load_qa(question)
        for pdf in pdf_iter:
            answers, scores, backends = [], [], []
            for text in pdf["text"]:
                ans, score, backend = run(text or "")
                answers.append(ans)
                scores.append(score)
                backends.append(backend)
            yield pd.DataFrame({
                "conv_id": pdf["conv_id"].values,
                "turn_idx": pdf["turn_idx"].values,
                "answer": answers, "score": scores, "backend": backends,
            })

    return par(transcripts.select("conv_id", "turn_idx", "text")).mapInPandas(
        batches, schema=QA_SCHEMA
    )


# ---------------------------------------------------------------------------
# U5: T5 spell correction (ai_processor.py:108-125, 177-208)
# ---------------------------------------------------------------------------

T5_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("corrected", T.StringType()),
    T.StructField("spell_conf", T.DoubleType()),
    T.StructField("backend", T.StringType()),
])


def spell_correct_deterministic(text: str) -> tuple[str, float]:
    """Deterministic fallback: the F13 literal map (oracle.cleaning), with
    the reference's word-zip confidence (ai_processor.py:196-204): fraction
    of aligned words unchanged."""
    from cheque_ocr_project_spark.oracle import cleaning

    # Pre-normalize the separators only PYTHON's \s knows (\x1c-\x1f FS/GS/
    # RS/US, \x85 NEL) to plain spaces before the parity oracle runs, so
    # the stage's output is recomputable by the RE2 SQL twin without
    # touching oracle/cleaning.py's reference semantics.
    snippet = _EXOTIC_WS_RE.sub(" ", text[:512])
    corrected = cleaning.correct_spelling_ai(snippet)
    a = split_words(snippet.upper())
    b = split_words(corrected.upper())
    denom = max(len(a), len(b))
    if denom == 0:
        return corrected, 1.0
    matches = sum(1 for x, y in zip(a, b) if x == y)
    return corrected, matches / denom


def _load_t5():
    if "t5" in _WORKER_STATE:
        return _WORKER_STATE["t5"]
    try:  # pragma: no cover - transformers not in this container
        from transformers import pipeline

        model = pipeline("text2text-generation", model="google/flan-t5-small")

        def run(text: str):
            prompt = f"Fix the spelling: {text[:512]}"
            out = model(prompt, max_length=128)[0]["generated_text"]
            a, b = split_words(text[:512].upper()), split_words(out.upper())
            denom = max(len(a), len(b))
            conf = (sum(1 for x, y in zip(a, b) if x == y) / denom
                    if denom else 1.0)
            return out, conf, "hf"
    except ImportError:
        def run(text: str):
            corrected, conf = spell_correct_deterministic(text)
            return corrected, conf, "map"
    _WORKER_STATE["t5"] = run
    return run


def t5_spell_correct(spark: SparkSession, transcripts: DataFrame) -> DataFrame:
    """U5 plumbing: flan-t5-small prompt correction when transformers is
    installed; the deterministic F13 replacement chain otherwise."""

    def batches(pdf_iter):
        run = _load_t5()
        for pdf in pdf_iter:
            outs, confs, backends = [], [], []
            for text in pdf["text"]:
                corrected, conf, backend = run(text or "")
                outs.append(corrected)
                confs.append(conf)
                backends.append(backend)
            yield pd.DataFrame({
                "conv_id": pdf["conv_id"].values,
                "turn_idx": pdf["turn_idx"].values,
                "corrected": outs, "spell_conf": confs, "backend": backends,
            })

    return par(transcripts.select("conv_id", "turn_idx", "text")).mapInPandas(
        batches, schema=T5_SCHEMA
    )
