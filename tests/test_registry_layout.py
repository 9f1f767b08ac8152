"""The registry is split by query family: each Spark query lives in the
module of its DuckDB twin, no module outgrows review, the family merge
drops no row, the twins render oracle predicates through
functions/ducksql.py instead of their own copies, and no twin pastes a
renderer once per read."""

import ast
import inspect
import re
from functools import partial
from pathlib import Path

import cheque_ocr_project_spark
from cheque_ocr_project_spark.functions import ducksql as D
from cheque_ocr_project_spark.oracle.classify import CHEQUE_CLASSES, ORDER
from cheque_ocr_project_spark.plans import queries as Q

PKG = Path(cheque_ocr_project_spark.__file__).parent
MAX_LINES = 1500
MAX_SQL_CHARS = 100_000
MAX_SQL_TOTAL = 540_000  # 516,171 measured, under 5% headroom


def test_no_module_over_max_lines():
    long = {}
    for p in PKG.rglob("*.py"):
        n = len(p.read_text().splitlines())
        if n > MAX_LINES:
            long[str(p.relative_to(PKG))] = n
    assert not long, long


def test_twin_lives_beside_its_query():
    misplaced = {}
    for name, (fn, sql) in Q.registry().items():
        if callable(sql):
            twin = sql.func if isinstance(sql, partial) else sql
            if twin.__module__ != fn.__module__:
                misplaced[name] = (fn.__module__, twin.__module__)
    assert not misplaced, misplaced


def test_family_merge_keeps_every_row():
    sizes = {f.__name__: len(f.REGISTRY) for f in Q.FAMILIES}
    assert sum(sizes.values()) == len(Q.queries()) == 114, sizes


def test_oracle_sql_texts_stay_small():
    """A renderer pastes its argument once per read, so a twin that passes
    a derived expression, or repeats a predicate once per cascade branch,
    multiplies its text (the flagship statement was 263 KB before its
    cascades went through ducksql.first_where)."""
    sizes = {name: len(sql) for name, sql in Q.oracle_sql().items()}
    big = {name: n for name, n in sizes.items() if n > MAX_SQL_CHARS}
    assert not big, big
    assert sum(sizes.values()) <= MAX_SQL_TOTAL, sum(sizes.values())


# oracle predicates and stages that several DuckDB twins render
SHARED_RENDERERS = (
    "any_term", "n_alpha", "n_digit", "collapse_ws", "pystrip", "words_of",
    "is_garbage", "is_junk_v1", "is_junk_v3", "is_valid_drawer_v1",
    "looks_like_real_name", "is_bank_or_metadata", "is_government_entity",
    "designation_literal", "clean_text_v1", "clean_text_v3",
    "remove_prefixes_v3", "clean_payee", "line_conf", "first_where",
    "common_name_part_count", "field_grammars", "cheque_classes",
    "cheque_outputs",
)


def test_plans_define_no_ducksql_renderer():
    """functions/ducksql.py is the one DuckDB renderer of each oracle
    predicate and stage: it defines the shared ones, and no plans/ module
    defines a top-level function under the name of a public renderer."""
    renderers = {
        n for n, f in vars(D).items()
        if inspect.isfunction(f) and f.__module__ == D.__name__
        and not n.startswith("_")
    }
    copies = {}
    for p in (PKG / "plans").glob("*.py"):
        tree = ast.parse(p.read_text())
        names = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
        shadowed = names & (renderers | set(SHARED_RENDERERS))
        if shadowed:
            copies[p.name] = sorted(shadowed)
    assert not copies, copies
    assert set(SHARED_RENDERERS) <= renderers, (
        sorted(set(SHARED_RENDERERS) - renderers)
    )


def test_transcript_key_split_in_sql_once():
    """The documents→transcripts key split is written in SQL only beside
    its Spark twin, sources/io.py."""
    holders = sorted(
        str(p.relative_to(PKG)) for p in PKG.rglob("*.py")
        if "// 2147483648" in p.read_text()
    )
    assert holders == ["sources/io.py"], holders


_RX_META = set("\\^$.|?*+()[]{}")
# shared constants that are not a grammar of the oracle, each with the
# reason it may be spelled in more than one module
GRAMMAR_COPY_ALLOWLIST: dict = {}


def _str_constants(tree) -> set:
    """Every string constant of a module, docstrings excluded."""
    docs = {
        id(n.body[0].value) for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.ClassDef))
        and n.body and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    return {
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
        and id(n) not in docs
    }


def _str_sequences(tree) -> set:
    """Every tuple or list literal of two or more string constants."""
    return {
        tuple(e.value for e in n.elts) for n in ast.walk(tree)
        if isinstance(n, (ast.Tuple, ast.List)) and len(n.elts) >= 2
        and all(isinstance(e, ast.Constant) and isinstance(e.value, str)
                for e in n.elts)
    }


def test_oracle_grammar_spelled_once():
    """Each regex and term list the oracle shares with its Catalyst and
    DuckDB twins is spelled once, in oracle/vocab.py (or in the one module
    that uses it); every other module reads it from there."""
    trees = {
        str(p.relative_to(PKG)): ast.parse(p.read_text())
        for p in sorted(PKG.rglob("*.py"))
    }
    consts = {m: _str_constants(t) for m, t in trees.items()}
    regexes = {
        s for m, c in consts.items() if m.startswith("oracle/")
        for s in c if len(s) >= 6 and _RX_META & set(s)
    }
    copies = {}
    for s in sorted(regexes - set(GRAMMAR_COPY_ALLOWLIST)):
        holders = sorted(m for m, c in consts.items() if s in c)
        if len(holders) > 1:
            copies[s] = holders
    seqs: dict = {}
    for m, t in trees.items():
        if m.startswith(("oracle/", "functions/")):
            for seq in _str_sequences(t):
                seqs.setdefault(seq, []).append(m)
    for seq, holders in seqs.items():
        if len(holders) > 1 and seq not in GRAMMAR_COPY_ALLOWLIST:
            copies[seq] = holders
    assert not copies, "\n".join(f"{k!r}: {v}" for k, v in copies.items())


def _spelled_in(path: Path, pattern: str) -> list:
    """``module:function`` of every source line of ``path`` matching the
    regex ``pattern``, named by its enclosing top-level function."""
    src = path.read_text()
    spans = [(n.lineno, n.end_lineno, n.name) for n in ast.parse(src).body
             if isinstance(n, ast.FunctionDef)]
    mod = str(path.relative_to(PKG))
    out = []
    for i, line in enumerate(src.splitlines(), 1):
        if re.search(pattern, line):
            fn = next((n for a, b, n in spans if a <= i <= b), "<module>")
            out.append(f"{mod}:{fn}")
    return out


def test_corpus_signals_spelled_once():
    """Each corpus text signal has one Catalyst builder and one DuckDB
    renderer: the term pattern and the punctuation class are each spelled
    on one line of each, and each Gopher bound once per engine in
    plans/corpus.py, so a rule fix lands once per engine."""
    signals = {
        re.escape("[a-z]+"): ["functions/columns.py:lower_terms",
                              "functions/ducksql.py:lower_terms"],
        re.escape("[^.,;:!?]"): ["plans/text_stats.py:quality",
                                 "plans/text_stats.py:quality_sql"],
    }
    copies = {}
    for pattern, want in signals.items():
        got = sorted(h for p in sorted(PKG.rglob("*.py"))
                     for h in _spelled_in(p, pattern))
        if got != want:
            copies[pattern] = got
    gates = ["plans/corpus.py:gopher_gates", "plans/corpus.py:gopher_gates_sql"]
    for bound in (r">= 50\b", r"<= 100000\b", r">= 3\.0\b", r"<= 10\.0\b"):
        got = _spelled_in(PKG / "plans" / "corpus.py", bound)
        if got != gates:
            copies[bound] = got
    assert not copies, "\n".join(f"{k}: {v}" for k, v in copies.items())


def test_corpus_gates_and_fingerprint_spelled_once():
    """The English and quality gate thresholds are each named once, beside
    stop_ratio/quality, and the exact-dedup fingerprint (md5 of the
    whitespace-collapsed, upper-cased text) has one builder per engine, so
    lang_id, the corpus filters, fingerprint and the dedup queries cannot
    drift apart."""
    modules = [str(p.relative_to(PKG)) for p in sorted(PKG.rglob("*.py"))]
    checks = [
        (r"\b0\.05\b", modules, ["plans/text_stats.py:<module>"]),
        (r">= 0\.5\b", ["plans/text_stats.py", "plans/corpus.py"], []),
        (r"\bmd5\(", modules, ["functions/columns.py:text_fingerprint",
                               "functions/ducksql.py:text_fingerprint"]),
    ]
    copies = {}
    for pattern, where, want in checks:
        got = sorted(h for m in where for h in _spelled_in(PKG / m, pattern))
        if got != want:
            copies[pattern] = got
    assert not copies, "\n".join(f"{k}: {v}" for k, v in copies.items())


def test_cheque_signals_spelled_once():
    """The whitespace word split and the four field grammars each have one
    Catalyst builder and one DuckDB renderer, and the cascade's type and
    payee-rule labels are named once, in oracle/classify.py's
    CHEQUE_CLASSES table, so a grammar or label fix lands once per engine."""
    modules = sorted(PKG.rglob("*.py"))
    fields = {"functions/columns.py:field_grammars",
              "functions/ducksql.py:field_grammars"}
    checks = [
        # Java \S+ (the DuckDB renderer spells it through ducksql.rx)
        (r"\\{1,2}S\+", modules, {"functions/ducksql.py:words_of"}),
        # \S+ expanded for RE2, [^ \t\n\x0b\f\r]+
        (r"\[\^ (\\{1,2}[tnfr]|\\{1,2}x0[bB]){5}\]\+", modules, set()),
        # the split on \s+ (doc_words keeps its empty words: the Gopher
        # rules count them)
        (r'split\(.*r"\\s\+"', modules,
         {"functions/columns.py:words_of", "functions/columns.py:doc_words"}),
        (r"vocab\.(DATE|AMOUNT|ACCOUNT_NO|MICR)_PATTERN\b",
         [m for m in modules if m.parent.name != "oracle"], fields),
    ]
    labels = {
        getattr(r, f) for r in (*CHEQUE_CLASSES, ORDER)
        for f in ("type", "payee_rule") if "_" in getattr(r, f)
    }
    for label in sorted(labels):
        checks.append((f"[\"']{label}[\"']", modules,
                       {"oracle/classify.py:<module>"}))
    copies = {}
    for pattern, where, want in checks:
        got = {h for p in where for h in _spelled_in(p, pattern)}
        if got != want:
            copies[pattern] = sorted(got)
    assert not copies, "\n".join(f"{k}: {v}" for k, v in copies.items())
