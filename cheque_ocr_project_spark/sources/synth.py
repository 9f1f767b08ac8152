"""Deterministic synthetic transcripts generator (FIXTURES.md §1-§3).

Seeded, wall-clock-free: same (seed, n_convs) always yields identical rows.
Content draws every branch of the reference grammars so per-turn equality
tests exercise all operators: payee patterns, issuer FOR grammars, field
lines, government/DD/MC/crossed markers, junk boilerplate, OCR-confusion
text, titles/suffixes, misspellings, HTML/PDF tool payloads, and edge cases.

Conversation lengths are heavy-tailed (a few 'agent session' outliers) to
exercise salted partitioning.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pandas as pd

from cheque_ocr_project_spark.oracle import fuzzy

_NAMES = [
    "RAJESH KUMAR", "SHARMA STEEL INDUSTRIES", "ANIL VERMA", "GUPTA TRADERS",
    "PATEL BROTHERS", "MEHTA ELECTRONICS", "JOSHI MEDICAL STORES",
    "PANDEY CONSTRUCTION", "TIWARI GARMENTS", "MISHRA PHARMA",
    "SUNITA DEVI", "RAM PRASAD", "AHMED KHAN", "IMRAN ANSARI",
    "VIKRAM SONI", "JAIN AGENCIES", "AGARWAL TEXTILES", "GOYAL FURNITURE",
    "MITTAL AUTOMOBILES", "HARJEET KAUR", "SANDHU TRANSPORT CO",
    "NEELAM JINDAL", "MOHD QURBAN", "DUDHI INDUSTRIES", "BATRA SCREW",
    "DEV APPLIANCES", "SURYA GOAL", "ARIHANT NEOCO", "NARENDRA FASTNERS",
    "KIRAN ENTERPRISES", "LAKSHMI JEWELLERS", "BOSE HOTEL", "GHOSH RESTAURANT",
    "RAO CLINIC", "REDDY HOSPITAL", "SARKAR FASHION", "MALIK BUILDER",
    "GILL STORES", "DHILLON MART", "CHATTERJEE AND COMPANY",
]

_MISSPELLED = [
    "SHARMA STEELNDUSTRIES", "DEVAPRLIANGES", "KIRAN ENTENPES",
    "SURYA COAL", "ARIHANTINEOCOO", "PLOT CURUGRAM ESTATE",
]

_JUNK_LINES = [
    "PLEASE SIGN ABOVE", "AUTHORISED SIGNATORY", "HDFC BANK LTD",
    "STATE BANK OF INDIA MUMBAI BRANCH", "NON-CASH TRANSACTION ONLY",
    "CTS CLEARING 400002", "A/C PAYEE ONLY", "NOT OVER RS 50000",
    "VALID FOR THREE MONTHS", "JIQ", "VFG", "JDP",
    "SECTOR 12 ROAD FARIDABAD PIN 121007", "OOOOO", "IIIII", "ZZZZZ",
    "MOBILE 9876543210 EMAIL INFO AT EXAMPLE",
]

_OCR_CONFUSION = [
    "5HARMA 5TEEL 1NDUSTRIES", "RAJE5H KUMAR", "GUPTA TRADER5",
    "PATE1 BR0THERS", "AN|L VERMA", "J05HI MEDICAL 5TORES",
]

_GOVT_LINES = [
    "GOVERNMENT ACCOUNT NOT EXCEEDING RS 100000",
    "NOT TRANSFERABLE CHEQUE DRAWING DDO OFFICE",
    "PAY AND ACCOUNTS OFFICE NEW DELHI",
    "GOVERNMENT OF INDIA MINISTRY OF FINANCE",
    "NOT TRANSFERABLE PAO SALARY SECTION OFFICER",
    "TREASURY OFFICER DISBURSEMENT",
]

_INSTRUMENT_LINES = [
    "DEMAND DRAFT PAYABLE AT PAR",
    "PAY ORDER LOCAL CLEARANCE",
    "BANKERS CHEQUE ISSUED BY BRANCH",
    "A/C PAYEE NOT NEGOTIABLE",
    "CROSSED CHEQUE",
    "SELF",
]

_TITLES = ["DR ", "ADV ", "MR. ", "SMT ", "SHRI ", "M/S ", "MESSRS ", "PROF "]
_SUFFIXES = [" PVT LTD", " LLP", " ENTERPRISES", " INDUSTRIES", " AND CO",
             " PRIVATE LIMITED", " TRADERS", ""]

_HTML_BOILER = [
    '<div class="nav"><a href="/home">Home</a> <a href="/about">About</a> '
    '<a href="/contact">Contact</a></div>',
    '<script>var tracker = init("UA-555");</script>',
    '<style>.footer { color: #888; }</style>',
    '<footer><a href="/terms">Terms</a> | <a href="/privacy">Privacy</a></footer>',
    '<div class="cookie-banner">We use cookies. <a href="/ok">Accept</a></div>',
]


def _html_payload(rng: random.Random, body_lines: list[str]) -> str:
    lines = [rng.choice(_HTML_BOILER)]
    for body in body_lines:
        lines.append(f"<p>{body} and the remaining balance of the account was "
                     f"settled in the quarterly statement review.</p>")
        if rng.random() < 0.5:
            lines.append(rng.choice(_HTML_BOILER))
    lines.append(rng.choice(_HTML_BOILER))
    return "\n".join(lines)


def _pdf_payload(rng: random.Random, body_lines: list[str]) -> str:
    header = "QUARTERLY ACCOUNT STATEMENT"
    lines = []
    for page, body in enumerate(body_lines, start=1):
        lines += [header, f"{body} as recorded in the statutory ledger for the period.",
                  f"Page {page}"]
    lines += [header, header]  # push the header over the repeat threshold
    return "\n".join(lines)


def _cheque_turn(rng: random.Random) -> str:
    """One cheque-like multi-line turn mixing payee/issuer/field/junk lines."""
    name = rng.choice(_NAMES)
    issuer_name = rng.choice(_NAMES)
    title = rng.choice(_TITLES) if rng.random() < 0.4 else ""
    suffix = rng.choice(_SUFFIXES)
    lines: list[str] = []

    roll = rng.random()
    if roll < 0.35:
        lines.append(f"PAY TO : {title}{name}{suffix}")
    elif roll < 0.5:
        lines.append(f"ORDER OF {name}")
    elif roll < 0.6:
        lines.append(f"FAVOUR OF {name}{suffix}")
    elif roll < 0.7:
        lines.append(f"BENEFICIARY: {name}")
    elif roll < 0.8:
        lines.append(f"{name} RUPEES FIFTY THOUSAND ONLY")
    else:
        lines.append(name)

    if rng.random() < 0.3:
        lines.append(rng.choice(_GOVT_LINES))
    elif rng.random() < 0.3:
        lines.append(rng.choice(_INSTRUMENT_LINES))

    if rng.random() < 0.5:
        lines.append(f"Date: {rng.randint(1, 28):02d}.{rng.randint(1, 12):02d}.2026")
    if rng.random() < 0.5:
        lines.append(f"Rs. {rng.randint(1, 99)},{rng.randint(100, 999)}.00/-")
    if rng.random() < 0.4:
        lines.append(f"A/C No: {rng.randint(10**12, 10**13 - 1)}")
    if rng.random() < 0.3:
        lines.append(f"{rng.randint(10**8, 10**9-1)} {rng.randint(10**8, 10**9-1)} "
                     f"{rng.randint(10**5, 10**6-1)}")

    for _ in range(rng.randint(0, 3)):
        lines.append(rng.choice(_JUNK_LINES))
    if rng.random() < 0.25:
        lines.append(rng.choice(_OCR_CONFUSION))
    if rng.random() < 0.2:
        lines.append(rng.choice(_MISSPELLED))

    marker = rng.random()
    if marker < 0.4:
        lines.append(f"FOR {issuer_name}")
    elif marker < 0.5:
        lines.append(f"F/O {issuer_name}")
    elif marker < 0.6:
        lines.append(f"PROP {issuer_name}")
    elif marker < 0.75:
        lines.append(f"{issuer_name} AUTHORISED SIGNATORY")
    elif marker < 0.85:
        lines.append(f"{issuer_name} CURRENT A/C")

    rng.shuffle(lines)
    return "\n".join(lines)


_EDGE_TEXTS = ["", "   ", "AB", "1234567890", "X" * 49 + "Q",
               "OOOOIIIIZZZZ", "PAY", "M/S", None]


def generate_transcripts(n_convs: int = 200, seed: int = 7,
                         outlier_turns: int = 800) -> pd.DataFrame:
    """Transcripts table (conv_id, turn_idx, role, text, tool, ts)."""
    rng = random.Random(seed)
    base_ts = datetime(2026, 2, 23, 9, 0, 0)
    rows = []
    for c in range(n_convs):
        conv_id = f"conv-{seed}-{c:05d}"
        if c % 97 == 0:
            n_turns = outlier_turns  # heavy-tail agent session
        else:
            n_turns = rng.randint(3, 50)
        ts = base_ts + timedelta(minutes=c * 7)
        for t in range(n_turns):
            r = rng.random()
            if r < 0.30:
                role, tool = "user", None
                text = _cheque_turn(rng)
            elif r < 0.62:
                role, tool = "assistant", None
                text = _cheque_turn(rng)
            elif r < 0.80:
                role, tool = "tool", "web_fetch"
                text = _html_payload(rng, [_cheque_turn(rng).replace("\n", " ")])
            elif r < 0.92:
                role, tool = "tool", "pdf_extract"
                text = _pdf_payload(rng, [_cheque_turn(rng).replace("\n", " ")])
            else:
                role, tool = "user", None
                text = rng.choice(_EDGE_TEXTS)
            ts = ts + timedelta(seconds=rng.randint(1, 120))
            rows.append((conv_id, t, role, text, tool, ts))
    return pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )


def generate_master(seed: int = 7, n_extra: int = 120) -> pd.DataFrame:
    """Keyed dimension table whose DRAWER_NM column feeds the fuzzy dict
    (FIXTURES.md §2/§3): known names + near-duplicates + junk rows."""
    rng = random.Random(seed + 1)
    rows = []
    for i, name in enumerate(_NAMES):
        rows.append((f"IMG_{i:05d}.tif", name))
    for i in range(n_extra):
        name = rng.choice(_NAMES)
        variant = rng.random()
        if variant < 0.3 and len(name) > 6:
            pos = rng.randrange(len(name) - 1)
            name = name[:pos] + name[pos + 1] + name[pos] + name[pos + 2:]
        elif variant < 0.5:
            name = "FOR " + name
        elif variant < 0.6:
            name = rng.choice(_JUNK_LINES)
        rows.append((f"IMG_{len(_NAMES) + i:05d}.tif", name))
    return pd.DataFrame(rows, columns=["image_file", "drawer_nm"])


def default_drawer_dict() -> list[str]:
    """The fuzzy drawer dictionary built from ``generate_master``'s names —
    the dictionary the flagship registry rows and jobs use by default."""
    return fuzzy.build_drawer_dict(generate_master(seed=7).drawer_nm.tolist())
