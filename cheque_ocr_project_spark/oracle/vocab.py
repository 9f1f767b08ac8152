"""Constant vocabularies of the reference extraction grammars.

These term sets / pattern lists are *data* reproduced verbatim from the
reference (they define the extraction semantics we must match per-turn):

- junk / bank / name-part sets:      issuer_processor_v.py:18-55
- V3 junk regex list:                IssuerBatchProcessorV3.py:65-129
- title / suffix / special maps:     payee_cleaner.py:28-99
- government markers & entities:     cheque_classifier.py:73-120,
                                     government_payee_rules.py:29-125
- spelling-correction map:           dbf_processor.py:34-67
- field, filename and payee grammars: payee_cleaner.py:157-210,
                                     custom_csv.py:24-46

Every regex and term list the oracle shares with its Catalyst and DuckDB
twins lives here once; a twin that needs a rewritten form (RE2 has no
lookahead) keeps it beside its builder and names the entry it rewrites.

Where the reference uses a ``dict`` the insertion order is semantic (the
replacement chains are order-sensitive); we keep the exact order.
"""

from __future__ import annotations

# --- issuer_processor_v.py:18-24 (set: membership only, order-free) ---------
JUNK_TERMS_V1 = frozenset({
    "NON-CASH TRANSACTION ONLY", "WBO AHMEDNAGAF", "THREE MONTHS", "3 MONTHS",
    "PLEASE SIGN", "SIGN HERE", "SIGN ABOVE", "ROAD", "MUMBAI", "MAHARASHTRA",
    "FARIDABAD", "BEARER", "OR BEARER", "ORDER", "PAY", "NOT OVER", "RS.",
    "RUPEES", "A/C PAYEE", "PAYEE ONLY", "ONLY", "BRANCH", "VIL", "DIST",
    "STATE", "PIN", "CODE", "ADDRESS", "CONTACT", "PHONE", "MOBILE", "EMAIL",
    "GST", "PAN", "TAN", "AUTHORISED", "AUTHORIZED", "SIGNATORY", "SIGNATURE",
    "A/C NO", "Plsse sign aboy", "vigag", "CTS CLEARING", "SAVINGSAC",
    "PROPRIETOR", "CURRENTAC", "A/C", "PAYEE", "NOTOVER", "RS", "ACCOUNT",
    "AMOUNT", "DATE", "CHEQUE", "HDFC BANK LTD", "HDFC BANK", "STATE BANK",
    "SBI", "ICICI", "AXIS", "YES", "IDFC", "KOTAK", "INDUSIND", "PNB",
})
# --- issuer_processor_v.py:220-242 (checked after the set, in order) --------
JUNK_MARKERS_V1 = ("SIGN", "SGN", "BEARER", "ORDER")

# --- issuer_processor_v.py:26-29 --------------------------------------------
BANK_TERMS = frozenset({
    "BANK", "STATE BANK", "HDFC", "ICICI", "SBI", "AXIS", "IDFC", "KOTAK",
    "INDUSIND", "PNB", "UNION BANK", "CANARA", "HDFC BANK LTD", "IDFC FIRST",
    "RBL", "BOB", "CENTRAL BANK", "CORPORATION BANK", "ALLAHABAD BANK",
})

# --- issuer_processor_v.py:34-46 --------------------------------------------
COMMON_NAME_PARTS = frozenset({
    "KUMAR", "SINGH", "SHARMA", "VERMA", "GUPTA", "PATEL", "SHAH", "MEHTA",
    "JOSHI", "PANDEY", "TIWARI", "MISHRA", "DUBEY", "TRIPATHI", "CHOUDHARY",
    "CHAUDHARY", "YADAV", "JAISWAL", "DAS", "BANERJEE", "CHATTERJEE",
    "MUKHERJEE", "SARKAR", "BOSE", "GHOSH", "RAO", "REDDY", "KUMARI",
    "DEVI", "PRASAD", "RAM", "LAL", "AHMED", "KHAN", "ANSARI", "SIDDIQUI",
    "ALI", "HUSSAIN", "RAJ", "SONI", "JAIN", "AGARWAL", "GOYAL", "MITTAL",
    "MALIK", "KAUR", "GILL", "DHILLON", "BRAR", "SANDHU", "STORE", "STORES",
    "MART", "TRADERS", "ENTERPRISES", "AGENCIES", "BROTHERS", "AND", "CO",
    "COMPANY", "INDUSTRIES", "PHARMA", "MEDICAL", "HOSPITAL", "CLINIC",
    "RESTAURANT", "HOTEL", "GARMENTS", "TEXTILES", "FASHION", "JEWELLERS",
    "FURNITURE", "ELECTRONICS", "AUTOMOBILES", "CONSTRUCTION", "BUILDER",
})

# --- issuer_processor_v.py:49-55 (list: tried in order, any match rejects) --
GARBAGE_PATTERNS = (
    r"^[OIZ]{5,}$",
    r"^[A-Z][OIZ]{4,}$",
    r".*[OIZ]{5,}.*",
    r"^[A-Z]{1,2}$",
    r"^[A-Z][\s]*[A-Z]$",
)
# issuer_processor_v.py:116-139: the OIZ-run rule, searched before the list
GARBAGE_OIZ_RUN = r"O{4,}|I{4,}|Z{4,}"


def _garbage_search_form(p: str) -> str:
    r"""``p`` under re.match, as a pattern Java and RE2 search with the same
    result: every listed pattern is ^-anchored but '.*X.*', which re.match
    reads as X after a run of non-newline characters, ^[^\n]*X (spelled as
    a class: Java's '.' also stops at \r, \x85, \u2028 and \u2029,
    Python's and RE2's at \n only); and Python's '$' also matches before a
    final \n, RE2's only at the end and Java's before any final line
    terminator, so '$' is spelled \n?\z, which Java and RE2 read as Python
    reads '$'."""
    if not p.startswith("^"):
        p = r"^[^\n]*" + p.removeprefix(".*").removesuffix(".*")
    if p.endswith("$"):
        p = p.removesuffix("$") + r"\n?\z"
    return p


# the run rule plus GARBAGE_PATTERNS in search form, for the engine twins
# (their regex predicates search, re.match anchors)
GARBAGE_SEARCH_PATTERNS = (GARBAGE_OIZ_RUN,) + tuple(
    map(_garbage_search_form, GARBAGE_PATTERNS))

# --- issuer_processor_v.py:261-264 ------------------------------------------
LOCATION_KEYWORDS = (
    "ROAD", "NAGAR", "COLONY", "MUMBAI", "DELHI",
    "FARIDABAD", "STATE", "DIST", "PIN",
)

# --- issuer_processor_v.py:433-435 (candidate score penalty terms) ----------
SUSPICIOUS_SCORE_TERMS = (
    "PLEASE", "SIGN", "ABOVE", "BEARER", "ORDER", "CTS CLEARING",
    "SAVINGSAC", "PROPRIETOR", "CURRENTAC", "A/C", "PAYEE", "ONLY",
    "NOTOVER", "NOT OVER", "RS",
)

# --- issuer_processor_v.py:528-530 (looks_like_real_name rejects) -----------
SUSPICIOUS_NAME_TERMS = (
    "BANK", "IFSC", "BRANCH", "PLEASE", "SIGN",
    "ACCOUNT", "AMOUNT", "RUPEES", "PAYEE",
    "BEARER", "ORDER", "STAMP",
)
# --- issuer_processor_v.py:499-550 (short names looks_like_real_name keeps) --
SHORT_NAME_OK = ("CO", "LTD", "PVT", "INC", "M/S")

# --- issuer_processor_v.py:394-396 / 474 ------------------------------------
FOR_MARKERS = ("FOR ", "F/O ", "F/ ", "PROP ")
# a cleaned line holding one of these is a FOR line ("F/" has no space)
FOR_LINE_MARKERS = ("FOR ", "F/O ", "F/", "PROP ")

# --- IssuerBatchProcessorV3.py:65-129 (searched in order, 60% coverage) -----
JUNK_PATTERNS_V3 = (
    r"AUTHORISED?S?I?Q?N?A?T?O?R?Y?",
    r"AUTHORIZEDS?I?Q?N?A?T?O?R?Y?",
    r"SIGNAT(?:ORY|URE|ORY\(IES\))",
    r"PLEASE\s+SIGN\s+ABOVE",
    r"PLEASE\s+SGN\s+ABOVE",
    r"SIGN\s+ABOVE",
    r"SIGN\s+HERE",
    r"SIGN\s+BELOW",
    r"PROPRIETOR",
    r"PROPRIER",
    r"PROP\.",
    r"PARTNERS?",
    r"PARTNERSHIP",
    r"CURRENT",
    r"SAVINGS",
    r"CASH\s+CREDIT",
    r"OVERDRAFT",
    r"LOAN\s+ACCOUNT",
    r"ACCOUNT\s+PAYEE",
    r"A/C\s+PAYEE",
    r"PAYEE",
    r"DRAWER",
    r"DRAWEE",
    r"BANK\s+COPY",
    r"BANK\s+USE\s+ONLY",
    r"FOR\s+BANK\s+USE",
    r"BRANCH\s+COPY",
    r"CUSTOMER\s+COPY",
    r"CHEQUE",
    r"CHECK",
    r"PAY\s+TO",
    r"PAYABLE",
    r"AMOUNT",
    r"RUPEES",
    r"RS\.",
    r"TOTAL",
    r"BALANCE",
    r"EXECUTOR",
    r"TRUSTEE",
    r"GUARDIAN",
    r"CANCELLED",
    r"VOID",
    r"SAMPLE",
    r"SPECIMEN",
    r"DUPLICATE",
    r"COUNTERFOIL",
    r"STUB",
    r"CHALLAN",
    r"FORM",
    r"^[A-Z]{2,4}$",
)

# --- IssuerBatchProcessorV3.py:151-159 (50% coverage rule) ------------------
JUNK_VARIATIONS_V3 = (
    "AUTHORISED", "AUTHORIZED", "AUTHORIS", "AUTHORIZ",
    "SIGNATORY", "SIGNATURE", "SIGN", "SGN",
    "PROPRIETOR", "PROPRIER", "PROP",
    "CURRENT", "SAVINGS", "ACCOUNT",
    "PAYEE", "DRAWER", "CHEQUE", "CHECK",
    "BANK", "BRANCH", "COPY",
    "AMOUNT", "RUPEES", "TOTAL", "BALANCE",
)

# --- IssuerBatchProcessorV3.py:139 (short-caps whitelist) -------------------
SHORT_CAPS_OK_V3 = ("LTD", "PVT", "INC", "CORP", "CO.", "M/S")
SHORT_CAPS_PATTERN = r"^[A-Z]{2,4}$"
# --- IssuerBatchProcessorV3.py:447-473 (short names kept from REVIEW-SHORT)
SHORT_REVIEW_OK_V3 = ("LTD", "PVT", "INC", "CO.")

# --- IssuerBatchProcessorV3.py:210-215 (bank list, 70% coverage rule) -------
BANK_NAMES_V3 = (
    "BANK", "STATE BANK", "HDFC", "ICICI", "SBI", "AXIS",
    "YES BANK", "IDFC", "KOTAK", "INDUSIND", "PNB", "CANARA",
    "UNION BANK", "BOB", "BARODA", "SYNDICATE", "CORPORATION",
    "BANK OF INDIA", "BANK OF BARODA", "PUNJAB NATIONAL BANK",
)

# --- IssuerBatchProcessorV3.py:266-279 (prefix strip, applied in order) -----
PREFIX_PATTERNS_V3 = (
    r"^FOR\s+",
    r"^FOR\s+M/S\s+",
    r"^M/S\s+",
    r"^M/S\.\s+",
    r"^MESSRS\s+",
    r"^MESSRS\.\s+",
    r"^SHRI\s+",
    r"^SRI\s+",
    r"^MR\.\s+",
    r"^MRS\.\s+",
    r"^MS\.\s+",
    r"^DR\.\s+",
)

# --- payee_cleaner.py:28-65 (applied in order, case-insensitive) ------------
TITLE_PATTERNS = (
    r"^DR\.?\s+", r"^DR\s+",
    r"^ADV\.?\s+", r"^ADV\s+",
    r"^CA\.?\s+", r"^CA\s+",
    r"^CS\.?\s+", r"^CS\s+",
    r"^CMA\.?\s+", r"^CMA\s+",
    r"^ICWA\.?\s+", r"^ICWA\s+",
    r"^ENG\.?\s+", r"^ENG\s+",
    r"^ARCH\.?\s+", r"^ARCH\s+",
    r"^PROF\.?\s+", r"^PROF\s+",
    r"^MR\.?\s+", r"^MR\s+",
    r"^MRS\.?\s+", r"^MRS\s+",
    r"^MS\.?\s+", r"^MS\s+",
    r"^MISS\.?\s+", r"^MISS\s+",
    r"^MASTER\.?\s+", r"^MASTER\s+",
    r"^KUM\.?\s+", r"^KUMARI\.?\s+",
    r"^SMT\.?\s+", r"^SMT\s+",
    r"^SHRI\.?\s+", r"^SHRI\s+",
    r"^SHRIMATI\.?\s+", r"^SHRIMATI\s+",
    r"^M/S\.?\s+", r"^M/S\s+", r"^M/S[.]?\s*",
    r"^MESSRS\.?\s+", r"^MESSRS\s+",
    r"^MSME\.?\s+", r"^MSME\s+",
    r"^PT\.?\s+", r"^PANDIT\.?\s+",
    r"^SWAMI\.?\s+",
    r"^MAULVI\.?\s+",
    r"^MAULANA\.?\s+",
    r"^QAZI\.?\s+",
    r"^FATHER\.?\s+", r"^FR\.?\s+",
    r"^BROTHER\.?\s+", r"^BR\.?\s+",
    r"^SISTER\.?\s+", r"^SR\.?\s+",
)

# --- payee_cleaner.py:68-85 (applied in order) ------------------------------
COMPANY_SUFFIX_PATTERNS = (
    r"\s+PVT\.?\s+LTD\.?$", r"\s+PVT\s+LTD\.?$",
    r"\s+PRIVATE\s+LIMITED$",
    r"\s+LTD\.?$", r"\s+LIMITED$",
    r"\s+LLP$", r"\s+LLC$",
    r"\s+INC\.?$", r"\s+INCORPORATED$",
    r"\s+CO\.?$", r"\s+COMPANY$",
    r"\s+CORP\.?$", r"\s+CORPORATION$",
    r"\s+PVT$", r"\s+PRIVATE$",
    r"\s+ENTERPRISES$", r"\s+ENTERPRISE$",
    r"\s+INDUSTRIES$", r"\s+INDUSTRY$",
    r"\s+TRADERS$", r"\s+TRADING$",
    r"\s+CONTRACTORS$", r"\s+CONTRACTOR$",
    r"\s+SUPPLIERS$", r"\s+SUPPLIER$",
    r"\s+WORKS$", r"\s+WORK$",
    r"\s+ASSOCIATES$", r"\s+ASSOCIATE$",
    r"\s+GROUP$", r"\s+HOLDINGS$",
)

# --- payee_cleaner.py:88-99 (dict order is the replacement order) -----------
SPECIAL_CHAR_MAP = (
    ("&", "AND"),
    ("＆", "AND"),   # full-width ampersand
    ("+", "AND"),
    ("@", "AT"),
    ("%", "PERCENT"),
    ("#", "NUMBER"),
    ("$", "DOLLAR"),
    ("€", "EURO"),
    ("£", "POUND"),
    ("¥", "YEN"),
)

# --- payee_cleaner.py:217-227 -----------------------------------------------
PAYEE_BANK_TERMS = (
    "STATE BANK", "SBI", "BANK OF", "CANARA", "PNB",
    "BOB", "HDFC", "ICICI", "AXIS", "KOTAK", "YES BANK",
    "IDBI", "UNION BANK", "INDIAN BANK", "CENTRAL BANK",
)
PAYEE_METADATA_TERMS = (
    "BRANCH", "IFSC", "MICR", "CODE", "CITY", "DELHI",
    "MUMBAI", "KOLKATA", "CHENNAI", "BANGALORE",
)

# --- payee_cleaner.py:157-175 (ordered: first non-bank match wins) ----------
PAYEE_PATTERNS = (
    r"PAY\s*TO\s*[:\s]*([A-Z][A-Z\s\.]+?)(?=\s+RUPEES|\s+RS\.?|\s*$)",
    r"ORDER\s*OF\s*[:\s]*([A-Z][A-Z\s\.]+?)(?=\s+RUPEES|\s+RS\.?|\s*$)",
    r"[Pp][Aa][Yy]\s*[:\s]*([A-Z][A-Z\s\.]{2,30})",
    r"BEARER\s*[:\s]*([A-Z][A-Z\s\.]+)",
    r"OR\s*BEARER\s*[:\s]*([A-Z][A-Z\s\.]+)",
    r"FAVOUR\s+OF\s*[:\s]*([A-Z][A-Z\s\.]+)",
    r"FAVOR\s+OF\s*[:\s]*([A-Z][A-Z\s\.]+)",
    r"BENEFICIARY\s*[:\s]*([A-Z][A-Z\s\.]+)",
    r"([A-Z][A-Z\s\.]{3,30})\s+(?:RUPEES|RS\.?)",
    r"^([A-Z][A-Z\s\.]{5,50})$",
)
# lookahead-free rewrites of PAYEE_PATTERNS for RE2 (DuckDB has no
# lookahead) — group 1 is identical (the asserted terminator becomes
# consumed; capture unaffected)
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
# literal prefilter per PAYEE_PATTERNS entry (a match needs one of them;
# the regex stays authoritative); None = no guard, ^-anchored and cheap
PAYEE_GUARDS = (
    ("PAY",), ("ORDER",), ("PAY",), ("BEARER",), ("BEARER",),
    ("FAVOUR",), ("FAVOR",), ("BENEFICIARY",), ("RUPEES", "RS"), None,
)

# --- cheque_classifier.py:73-120 --------------------------------------------
GOVT_MARKERS_HIGH = (
    "GOVERNMENT OF INDIA", "GOVT OF INDIA", "RESERVE BANK OF INDIA", "RBI",
    "PAY AND ACCOUNTS OFFICE", "PAO", "GOVERNMENT ACCOUNT",
)
GOVT_MARKERS_MEDIUM = (
    "CENTRAL GOVERNMENT", "STATE GOVERNMENT", "PUBLIC SECTOR BANK",
    "ACCREDITED BANK", "NOT TRANSFERABLE", "CHEQUE DRAWING DDO", "DDO",
    "DRAWING AND DISBURSING OFFICER",
)
# cheque_classifier.py:172-194: category II is NOT TRANSFERABLE plus one of
GOVT_NOT_TRANSFERABLE_TERMS = ("GOVT", "GOVERNMENT", "PAO", "DDO")
DD_MARKERS = ("DEMAND DRAFT", "DD", "DRAFT", "BANK DRAFT")
MC_MARKERS = (
    "MANAGERS CHEQUE", "MANAGER'S CHEQUE", "MC",
    "PAY ORDER", "BANKER'S CHEQUE", "BANKERS CHEQUE",
)
CROSSED_PATTERNS = (
    r"A/C\s*PAYEE",
    r"ACCOUNT\s*PAYEE",
    r"AC\s*PAYEE",
    r"CROSSED",
    r"NON[-\s]NEGOTIABLE",
    r"NOT\s+NEGOTIABLE",
)
MICR_PATTERN = r"(\d{9})\s+(\d{9})\s+(\d{6,9})"

# --- payee_cleaner.py:186-210 (date / amount / account field grammars) -----
DATE_PATTERN = r"Date:\s*(\d{2})[./](\d{2})[./](\d{4})"
AMOUNT_PATTERN = r"[₹Rs\.]*\s*([\d,]+(?:\.\d{2})?)[/\-]?"
ACCOUNT_NO_PATTERN = r"A/C No\.?[\s:]*(\d{10,20})"

# --- custom_csv.py:24-46 (filename amount and date) -------------------------
FNAME_AMOUNT_PATTERN = r"(\d+\.\d{2})"
FNAME_DATE_PATTERN = r"(\d{8})"

# --- cheque_classifier.py:253-270 (classifier designation regexes) ----------
OFFICER_DESIGNATION_PATTERNS = (
    r"SECTION\s+OFFICER[^A-Z]*([A-Z&\s]+)",
    r"ACCOUNTS\s+OFFICER",
    r"DRAWING\s+AND\s+DISBURSING\s+OFFICER",
    r"DDO",
    r"PAY\s+AND\s+ACCOUNTS\s+OFFICER",
    r"PAO",
    r"CHIEF\s+ACCOUNTS\s+OFFICER",
    r"FINANCIAL\s+ADVISOR",
)

# --- government_payee_rules.py:29-71 ----------------------------------------
GOVT_ENTITIES = (
    "GOVERNMENT OF INDIA", "GOVT OF INDIA", "CENTRAL GOVERNMENT",
    "INCOME TAX DEPARTMENT", "CUSTOMS DEPARTMENT", "GST DEPARTMENT",
    "CENTRAL EXCISE", "RAILWAYS", "INDIAN RAILWAYS",
    "DEFENCE", "INDIAN ARMY", "INDIAN NAVY", "INDIAN AIR FORCE",
    "POSTAL DEPARTMENT", "INDIA POST", "TELEGRAPH DEPARTMENT",
    "PUBLIC WORKS DEPARTMENT", "PWD", "CPWD", "NPWD",
    "CENTRAL PUBLIC WORKS", "CENTRAL WATER COMMISSION",
    "STATE GOVERNMENT", "GOVT OF", "SARKAR",
    "ELECTRICITY BOARD", "ELECTRICITY DEPARTMENT", "POWER CORPORATION",
    "WATER BOARD", "JAL BOARD", "IRRIGATION DEPARTMENT",
    "PUBLIC HEALTH ENGINEERING", "PHE",
    "NAGAR PALIKA", "MUNICIPAL CORPORATION", "MUNICIPAL COUNCIL",
    "ZILLA PARISHAD", "PANCHAYAT", "GRAM PANCHAYAT",
    "FOREST DEPARTMENT", "FISHERIES DEPARTMENT",
    "AGRICULTURE DEPARTMENT", "HORTICULTURE DEPARTMENT",
    "HEALTH DEPARTMENT", "MEDICAL SERVICES", "CIVIL HOSPITAL",
    "EDUCATION DEPARTMENT", "SCHOOL EDUCATION", "HIGHER EDUCATION",
    "SOCIAL WELFARE", "WOMEN AND CHILD DEVELOPMENT",
    "TRANSPORT DEPARTMENT", "ROAD TRANSPORT", "RTO",
    "PROPERTY TAX", "HOUSE TAX", "LAND REVENUE",
    "MUNICIPALITY", "MUNICIPAL BOARD", "CANTONMENT BOARD",
    "DEVELOPMENT AUTHORITY", "HOUSING BOARD", "SLUM BOARD",
    "IMPROVEMENT TRUST", "CITY TRUST",
    "PORT TRUST", "PORT AUTHORITY", "AIRPORT AUTHORITY",
    "TOURISM DEVELOPMENT", "INDUSTRIAL DEVELOPMENT",
    "BANK OF INDIA", "STATE BANK OF INDIA", "SBI", "CANARA BANK",
    "PUNJAB NATIONAL BANK", "PNB", "BANK OF BARODA", "BOB",
    "UNION BANK", "INDIAN BANK", "CENTRAL BANK",
    "LIFE INSURANCE CORPORATION", "LIC", "GIC",
    "OIL AND NATURAL GAS", "ONGC", "INDIAN OIL", "IOC",
    "BHARAT PETROLEUM", "BPCL", "HINDUSTAN PETROLEUM", "HPCL",
    "GAIL", "POWER GRID", "NTPC", "NHPC", "SJVN",
    "BHEL", "HAL", "BEL", "BEML", "COAL INDIA", "SAIL",
    "NMDC", "HCL", "NALCO", "MOIL",
)

# --- government_payee_rules.py:74-86 ----------------------------------------
GOVT_PAYEE_PATTERNS = (
    r"PAY[:\s]*GOVT",
    r"PAY[:\s]*GOVERNMENT",
    r"FAVOUR[:\s]*GOVT",
    r"FAVOUR[:\s]*GOVERNMENT",
    r"TO\s+THE\s+([A-Z\s]+DEPARTMENT)",
    r"([A-Z\s]+BOARD)",
    r"([A-Z\s]+MUNICIPALITY)",
    r"([A-Z\s]+COMMITTEE)",
    r"([A-Z\s]+AUTHORITY)",
    r"([A-Z\s]+TRUST)",
    r"([A-Z\s]+CORPORATION)",
)

# --- government_payee_rules.py:195-199 (<=4-word short-name indicators) -----
GOVT_INDICATORS = (
    "GOVT", "GOVERNMENT", "MUNICIPAL", "NAGAR", "GRAM",
    "ZILLA", "PANCHAYAT", "ELECTRICITY", "WATER",
    "IRRIGATION", "FOREST", "HEALTH", "EDUCATION",
    "TRANSPORT", "DEVELOPMENT", "AUTHORITY", "BOARD",
    "TRUST", "CORPORATION", "COMMITTEE",
)

# --- government_payee_rules.py:89-125 (literal list, scanned in order) ------
OFFICER_DESIGNATIONS = (
    "SECTION OFFICER",
    "ACCOUNTS OFFICER",
    "FINANCE OFFICER",
    "DRAWING AND DISBURSING OFFICER",
    "DDO",
    "PAY AND ACCOUNTS OFFICER",
    "PAO",
    "CHIEF ACCOUNTS OFFICER",
    "FINANCIAL ADVISOR",
    "CONTROLLER OF ACCOUNTS",
    "DEPUTY CONTROLLER",
    "ASSISTANT CONTROLLER",
    "SENIOR ACCOUNTS OFFICER",
    "JUNIOR ACCOUNTS OFFICER",
    "ACCOUNTS ASSISTANT",
    "TREASURY OFFICER",
    "DEPUTY TREASURY OFFICER",
    "ASSISTANT TREASURY OFFICER",
    "BANK OFFICER",
    "SENIOR MANAGER",
    "CHIEF MANAGER",
    "GENERAL MANAGER",
    "DEPUTY GENERAL MANAGER",
    "ASSISTANT GENERAL MANAGER",
    "EXECUTIVE DIRECTOR",
    "DIRECTOR",
    "JOINT DIRECTOR",
    "DEPUTY DIRECTOR",
    "ASSISTANT DIRECTOR",
    "UNDER SECRETARY",
    "DEPUTY SECRETARY",
    "JOINT SECRETARY",
    "ADDITIONAL SECRETARY",
    "PRINCIPAL SECRETARY",
    "CHIEF SECRETARY",
)

# --- government_payee_rules.py:226 ------------------------------------------
PAYEE_SECTION_INDICATORS = ("PAY", "PAY TO", "ORDER OF", "FAVOUR OF", "BENEFICIARY")
# payee-marker turns of the conversation-progress state
# (streaming/stateful.py and its DuckDB twin)
PAYEE_MARKERS = ("PAY", "ORDER OF", "FAVOUR OF", "BENEFICIARY")

# --- dbf_processor.py:34-60 (dict order is the replacement order) -----------
SPELLING_CORRECTIONS = (
    ("STEELNDUSTRIES", "STEEL INDUSTRIES"),
    ("STEELHDUSTRIES", "STEEL INDUSTRIES"),
    ("STEELIHDUSTRIES", "STEEL INDUSTRIES"),
    ("STEELIINDUSTRIES", "STEEL INDUSTRIES"),
    ("STEELINDUSTRIES", "STEEL INDUSTRIES"),
    ("STEL INDUSTWUES", "STEEL INDUSTRIES"),
    ("DEVAPRLIANGES", "DEV APPLIANCES"),
    ("APRLIANGES", "APPLIANCES"),
    ("COAL", "GOAL"),
    ("SURYA COAL", "SURYA GOAL"),
    ("ENTENPES", "ENTERPRISES"),
    ("ENTSEPS", "ENTERPRISES"),
    ("KISPA", "KIXPA"),
    ("ARIHANTINEOCOO", "ARIHANT NEOCO"),
    ("CURUGRAM", "GURUGRAM"),
    ("FASTNERS", "FASTNERS"),
    ("NARENDRA FASTNERS", "NARENDRA FASTNERS"),
    ("HARJEET KAUR", "HARJEET KAUR"),
    ("SATBANT KAUR", "SATBANT KAUR"),
    ("NEELAM JINDAL", "NEELAM JINDAL"),
    ("MOHD QURBAN", "MOHD QURBAN"),
    ("DUDHI INDUSTRIES", "DUDHI INDUSTRIES"),
    ("ROHIN", "ROHIT"),
    ("POLYPLAST", "POLYPLAST PVT LTD"),
    ("BATRA SCREW", "BATRA SCREW INDUSTRIES"),
)

# --- dbf_processor.py:61-67 (substring deletions, list order) ---------------
GARBAGE_WORDS = (
    "RUPEES", "WOTFTHO", "BEARER", "QRBEARER", "RQR",
    "XXX", "RUPEE", "RS", "AMOUNT", "TOTAL", "PAY",
    "OR BEARER", "A/C", "ACCOUNT", "BANK", "BRANCH",
    "IFSC", "CODE", "DATE", "VALID", "MONTHS", "FROM",
    "THE", "OF", "ISSUE", "ONLY", "AND", "FOR", "TO",
)

# --- dbf_processor.py:79 (FOR-candidate end markers, applied in order) ------
AI_END_MARKERS = (
    " AUTH", " SIGN", " I/", " D ", " AUTHORISED", " AUTHORIZED",
    " A/C", " ACCOUNT",
)

# --- dbf_processor.py:86-92 (before-signature grammars, in order) -----------
AUTH_SIGNATORY_PATTERNS = (
    r"([A-Z][A-Z\s\.]{3,50}?)\s+Auth\s*Signatory",
    r"([A-Z][A-Z\s\.]{3,50}?)\s+Authorised\s+Signatory",
    r"([A-Z][A-Z\s\.]{3,50}?)\s+AUTHORISED\s+SIGNATORY",
    r"([A-Z][A-Z\s\.]{3,50}?)\s+Signature",
    r"([A-Z][A-Z\s\.]{3,50}?)\s+Sign",
)

# --- dbf_processor.py:98-104 (before-account grammars, in order) ------------
ACCOUNT_PATTERNS = (
    r"([A-Z][A-Z\s\.]{3,50}?)\s+\d+\s+A\/C\.?",
    r"([A-Z][A-Z\s\.]{3,50}?)\s+A\/C\.?\s+NO\.?",
    r"([A-Z][A-Z\s\.]{3,50}?)\s+\d{10,20}",
    r"([A-Z][A-Z\s\.]{3,50}?)\s+CURRENT\s+A\/C",
    r"([A-Z][A-Z\s\.]{3,50}?)\s+SAVINGS\s+A\/C",
)

# --- parallel_processor.py:28-44 (simple issuer extractor) ------------------
SIMPLE_BANK_NAMES = (
    "STATE BANK OF INDIA", "HDFC BANK", "ICICI BANK", "AXIS BANK",
    "PUNJAB NATIONAL BANK", "BANK OF BARODA", "CANARA BANK",
    "UNION BANK OF INDIA", "KOTAK MAHINDRA BANK", "INDUSIND BANK",
    "YES BANK", "IDBI BANK", "BANK OF INDIA", "CENTRAL BANK OF INDIA",
)
SIMPLE_BUSINESS_IDENTIFIERS = (
    "PVT LTD", "PRIVATE LIMITED", "LIMITED", "LTD", "ENTERPRISES",
    "INDUSTRIES", "TRADERS", "COMPANY", "CORPORATION",
)
SIMPLE_IGNORE_WORDS = frozenset({
    "RUPEES", "AMOUNT", "TOTAL", "PAY", "BEARER", "A/C", "ACCOUNT",
    "BRANCH", "IFSC", "CODE", "DATE", "VALID", "MONTHS", "FROM",
    "AUTHORISED", "SIGNATORY", "SIGNATURE", "SIGN",
})
SIMPLE_FOR_DELIMITERS = ("AUTHORISED", "SIGN", "ACCOUNT", "A/C", "\n")

# --- fast_ai_processor.py:52-67 (its own, DIFFERENT map: note
# FASTNERS->FASTENERS here vs FASTNERS->FASTNERS in dbf_processor) ---------
FAST_SPELLING_CORRECTIONS = (
    ("STEELNDUSTRIES", "STEEL INDUSTRIES"),
    ("STEELHDUSTRIES", "STEEL INDUSTRIES"),
    ("STEELINDUSTRIES", "STEEL INDUSTRIES"),
    ("ENTENPES", "ENTERPRISES"),
    ("ENTSEPS", "ENTERPRISES"),
    ("ENTERPRISESS", "ENTERPRISES"),
    ("CURUGRAM", "GURUGRAM"),
    ("GURGAON", "GURUGRAM"),
    ("APRLIANGES", "APPLIANCES"),
    ("DEVAPRLIANGES", "DEV APPLIANCES"),
    ("FASTNERS", "FASTENERS"),
    ("KISPA", "KIXPA"),
    ("ROHIN", "ROHIT"),
    ("POLYPLAST", "POLYPLAST PVT LTD"),
)

# --- fast_ai_processor.py:119-137 (fast pattern extractor, in order) -------
FAST_PAYEE_PATTERNS = (
    r"PAY\s+([A-Z][A-Z\s\.]{3,50}?)(?:\s+OR|\s+$|\n)",
    r"ORDER\s+OF\s+([A-Z][A-Z\s\.]{3,50}?)(?:\s+OR|\s+$|\n)",
    r"BENEFICIARY\s+([A-Z][A-Z\s\.]{3,50}?)(?:\s+$|\n)",
)
FAST_ISSUER_PATTERNS = (
    r"FOR\s+([A-Z][A-Z\s\.]{3,50}?)(?:\s+AUTH|\s+SIGN|\s+$)",
    r"([A-Z][A-Z\s\.]{5,50}?)\s+AUTHORISED\s+SIGNATORY",
    r"([A-Z][A-Z\s\.]{5,50}?)\s+SIGNATURE",
)

# --- character classes of the cleaning and counting stages ------------------
NON_CHARSET_V1 = r"[^A-Z0-9 .,&/-]"        # cleaning.clean_text_v1/v2
NON_CHARSET_V3 = r"[^A-Za-z0-9 ,.&/-]"     # cleaning.clean_text_v3
NON_WORDISH = r"[^\w\s\.\-]"              # cleaning.clean_payee
NON_ALPHA_SPACE = r"[^A-Z\s]"              # cleaning.correct_spelling_ai
NON_WORD_OR_SPACE = r"[^\w\s]"             # clean_name_simple / _fast
NON_ALPHA = r"[^A-Za-z]"                   # letter counts
TAG_PATTERN = r"<[^>]*>"                   # one HTML tag

# --- main-content line rules (oracle/boilerplate.py; case-insensitive) ------
ANCHOR_PATTERN = r"<a\b[^>]*>(.*?)</a>"
SCRIPT_HINT_PATTERN = r"<\s*(script|style)\b"
PAGE_NO_PATTERN = r"^\s*(page\s+)?\d+(\s+of\s+\d+)?\s*$"

# Fixed output constants — issuer_processor_v.py:58-61
FIXED_OPR_NO = "AS601"
FIXED_FILE_MARK = False
