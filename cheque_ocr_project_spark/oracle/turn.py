"""Full per-turn extraction record — the flagship oracle.

Combines every deterministic stage of the reference into one row per turn,
mirroring the lifecycle of issuer_processor_v.py:593-688 (issuer path +
status) and run_production.py → ocr_engine.process_cheque (payee path +
classification + field grammars):

  main-content strip (tool payloads) → line relation → classify →
  payee extract/clean/govt-rules → issuer FOR-scan/candidates/top-1 →
  field grammars (date/amount/account/MICR) → status + fixed columns.

The Spark pipeline emits exactly these columns; tests assert per-turn
equality under (conv_id, turn_idx) ordering.
"""

from __future__ import annotations

from cheque_ocr_project_spark.oracle import (
    boilerplate,
    grammars,
    issuer as issuer_mod,
    payee as payee_mod,
    vocab,
)

# Stable output column order for the flagship extraction record.
RESULT_FIELDS = (
    "main_text",
    "success",
    "error",
    "cheque_type",
    "is_government",
    "government_category",
    "payee_rule",
    "payee_raw",
    "payee_cleaned",
    "issuer",
    "issuer_conf",
    "confidence",
    "field_date",
    "field_amount",
    "field_account",
    "micr_city",
    "micr_bank",
    "micr_serial",
    "status",
    "opr_no",
    "file_mark",
)


def extract_turn_v3(text: str | None, role: str | None, tool: str | None,
                    drawer_dict: list[str],
                    threshold: float = issuer_mod.DEFAULT_THRESHOLD_V3,
                    cache: dict | None = None) -> dict:
    """V3 per-turn record: IssuerBatchProcessorV3 semantics
    (clean_v3 → junk/validity → conf-top-1 → dict match w/ prefix strip →
    status cascade). The multi-ROI loop (IssuerBatchProcessorV3.py:367-393)
    collapses in the graft: the turn's main content is the single 'region'."""
    if role == "tool":
        content = boilerplate.main_content(text, tool)
    else:
        content = text or ""
    lines = issuer_mod.split_lines(content)
    issuer, conf, matched = issuer_mod.extract_issuer_v3(lines, drawer_dict, cache)
    status = issuer_mod.status_v3(issuer, conf, matched, threshold)
    return {
        "issuer_v3": issuer,
        "confidence_v3": float(conf),
        "matched_with": matched,
        "status_v3": status,
    }


def extract_turn(text: str | None, role: str | None, tool: str | None,
                 drawer_dict: list[str],
                 threshold: float = issuer_mod.DEFAULT_THRESHOLD_V1,
                 cache: dict | None = None) -> dict:
    """One turn in, one flat extraction record out."""
    if role == "tool":
        content = boilerplate.main_content(text, tool)
    else:
        content = text or ""

    lines = issuer_mod.split_lines(content)
    payee_result = payee_mod.process_turn_payee(content, lines=lines)
    issuer_name, issuer_conf = issuer_mod.process_turn_issuer_v1(
        content, drawer_dict, threshold, cache, lines=lines
    )

    full_text = payee_result["full_text"]
    fields = grammars.extract_fields(full_text) if full_text else {}
    micr = grammars.extract_micr(full_text) if full_text else None

    status = "AUTO-UPDATED" if issuer_name != "XXX" else "REJECTED"

    return {
        "main_text": content,
        "success": payee_result["success"],
        "error": payee_result["error"],
        "cheque_type": payee_result["cheque_type"],
        "is_government": payee_result["is_government"],
        "government_category": payee_result["government_category"],
        "payee_rule": payee_result["payee_rule"],
        "payee_raw": payee_result["payee_raw"],
        "payee_cleaned": payee_result["payee_cleaned"],
        "issuer": issuer_name,
        "issuer_conf": float(issuer_conf),
        "confidence": float(payee_result["confidence"]),
        "field_date": fields.get("date"),
        "field_amount": fields.get("amount"),
        "field_account": fields.get("account"),
        "micr_city": micr[0] if micr else None,
        "micr_bank": micr[1] if micr else None,
        "micr_serial": micr[2] if micr else None,
        "status": status,
        "opr_no": vocab.FIXED_OPR_NO,
        "file_mark": vocab.FIXED_FILE_MARK,
    }
