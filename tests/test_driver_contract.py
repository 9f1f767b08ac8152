"""Mirror of the driver's correctness gate: run each queries() entry on
Spark and its oracle_sql() on DuckDB over the same parquet (sf0.01) and
compare row counts + order-insensitive values."""

import math

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(str)
        else:
            df[c] = df[c].astype("Int64") if pd.api.types.is_integer_dtype(df[c]) else df[c]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


@pytest.mark.parametrize("name", sorted(entrymod.oracle_sql().keys()))
def test_query_matches_duckdb(spark, duck, name):
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, SF_DIR).toPandas()
    ddf = duck.execute(entrymod.oracle_sql()[name]).df()
    assert sorted(sdf.columns) == sorted(ddf.columns), (
        f"{name}: column mismatch {sorted(sdf.columns)} vs {sorted(ddf.columns)}"
    )
    a, b = _canon(sdf), _canon(ddf)
    assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
    for col in a.columns:
        av, bv = list(a[col]), list(b[col])
        bad = [
            i for i, (x, y) in enumerate(zip(av, bv))
            if not (
                (pd.isna(x) and pd.isna(y))
                or x == y
                or (
                    isinstance(x, float) and isinstance(y, float)
                    and math.isclose(x, y, rel_tol=0, abs_tol=2e-6)
                )
            )
        ]
        assert not bad, (
            f"{name}.{col}: {len(bad)} mismatches; first row {bad[0]}: "
            f"spark={av[bad[0]]!r} duck={bv[bad[0]]!r}"
        )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() >= 0
    assert "payee_cleaned" in df.columns
    assert "issuer" in df.columns


def test_corpus_filter_v2_rep_gate_bites(spark, tmp_path):
    """Planted positive for the repetition gate: the synthetic sf corpus
    never reaches the Gopher-realistic 1/5 top-bigram threshold inside the
    composed survivor set, so this proves the gate drops a doc that passes
    every OTHER gate — on Spark and on the DuckDB twin alike."""
    from cheque_ocr_project_spark.plans import corpus

    base_words = (
        "market price steel copper trade demand supply rose under heavy "
        "industrial output while regional factories reported strong "
        "quarterly growth and the broader economy continued that expansion "
        "with firm credit conditions supporting new capital investment "
        "plans across the northern manufacturing belt this season overall"
    ).split()
    clean = " ".join(base_words + [w + "x" for w in base_words])  # 60+ distinct words
    spam = " ".join(["the spam"] * 40)   # top bigram covers ~half the slots
    docs = pd.DataFrame({
        "doc_id": pd.array([1, 2], dtype="int64"),
        "text": [clean, spam],
        "lang": "en",
        "source": "web",
    })
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    d = tmp_path / "rep_sf"
    d.mkdir()
    docs.to_parquet(d / "documents.parquet", index=False)

    out = corpus.q_corpus_filter_v2(spark, str(d)).toPandas()
    kept = set(out["doc_id"])
    assert 1 in kept, "clean doc should survive the composed gate"
    assert 2 not in kept, "repetitive doc must be dropped by the rep gate"
    # ...and only the rep gate: it survives the v1 filter + structural set
    v1 = set(corpus.q_corpus_filter(spark, str(d)).toPandas()["doc_id"])
    assert 2 in v1

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    oracle = con.execute(corpus.sql_corpus_filter_v2()).df()
    assert set(oracle["doc_id"]) == kept


def test_corpus_filter_v3_staged_semantics_and_plan(spark, tmp_path):
    """VERDICT r05 #2. (a) Semantics: in v3 a doc that FAILS the cheap
    gate can no longer shadow a near-duplicate that passes it. Planted
    pair: doc 1 = doc 2 plus one 190-char '!' token — SimHash hamming 1
    (one token of 60 barely moves the majority vote) but quality 0.452 <
    0.5 (the punctuation mass). v2 computes shadowing before the gates,
    so doc 2 is shadowed and BOTH vanish; v3 gates first, so doc 2
    survives — on Spark and on the v3 DuckDB oracle alike. (b) Plan:
    the staged shape reads at most 5 scans (the composed v2 carries 12)."""
    from cheque_ocr_project_spark.plans import corpus

    base = (
        "the market rate and steel price rose over a long term of trade "
        "in the north region and firms kept more coal to sell when the "
        "cold season came back with snow and wind over open plains the "
        "crews hauled iron ore and grain to the port dock site and sold "
        "most of it at fair value each week"
    )
    shadower = base + " " + "!" * 190
    docs = pd.DataFrame({
        "doc_id": pd.array([1, 2], dtype="int64"),
        "text": [shadower, base],
        "lang": "en",
        "source": "web",
    })
    docs["n_chars"] = docs["text"].str.len().astype("int64")
    d = tmp_path / "v3_sf"
    d.mkdir()
    docs.to_parquet(d / "documents.parquet", index=False)

    v3 = corpus.q_corpus_filter_v3(spark, str(d)).toPandas()
    assert set(v3["doc_id"]) == {2}, v3
    # v2 = {} doubles as proof the planted pair IS a near-dup: doc 2 can
    # only be absent from v2 via shadowing (it passes every v2 gate)
    v2 = corpus.q_corpus_filter_v2(spark, str(d)).toPandas()
    assert set(v2["doc_id"]) == set(), v2
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'"
    )
    oracle = con.execute(corpus.sql_corpus_filter_v3()).df()
    assert set(oracle["doc_id"]) == {2}

    plan = corpus.q_corpus_filter_v3(
        spark, SF_DIR
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") <= 5, plan


def test_entry_pins_utc_on_non_utc_driver(spark, duck):
    """ADVICE r04: a non-UTC driver session must not diverge from the
    naive-timestamp oracle — every contract callable pins the session
    timezone before building its plan."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        sdf = entrymod.queries()["event_rollup"](spark, SF_DIR).toPandas()
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        ddf = duck.execute(entrymod.oracle_sql()["event_rollup"]).df()
        a, b = _canon(sdf), _canon(ddf)
        assert len(a) == len(b)
        assert list(a["hr"].astype(str)) == list(b["hr"].astype(str))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_oracle_sql_independent_of_hash_seed():
    """The oracle SQL text must not depend on the hash seed: set iteration
    order changes with PYTHONHASHSEED, so any renderer that walks a set
    unsorted makes the gate's SQL differ from run to run."""
    import json
    import os
    import subprocess
    import sys
    from pathlib import Path

    render = ("import json, __spark_entry__ as E; "
              "print(json.dumps(E.oracle_sql()))")
    texts = []
    for seed in ("1", "2"):
        out = subprocess.run(
            [sys.executable, "-c", render], check=True, capture_output=True,
            text=True, cwd=Path(__file__).resolve().parents[1],
            env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout
        texts.append(json.loads(out.splitlines()[-1]))
    assert len(texts[0]) == len(entrymod.oracle_sql())
    differ = sorted(k for k in texts[0].keys() | texts[1].keys()
                    if texts[0].get(k) != texts[1].get(k))
    assert not differ, differ


# the rows whose quality or spelling ratio divides by the text length
EMPTY_TEXT_ROWS = ("quality_score", "corpus_filter", "corpus_filter_v2",
                   "corpus_filter_v3", "model_ensemble")


def test_empty_documents_match_duckdb(spark, tmp_path):
    """An empty and a whitespace-only document: every row that divides by
    the text length collects (ANSI mode raises DIVIDE_BY_ZERO on a plain
    /) and equals its DuckDB twin, where x / 0 is NULL; the staged
    corpus_job completes on the same input."""
    import shutil
    from pathlib import Path

    from cheque_ocr_project_spark import corpus_job

    src = Path(entrymod.SF0001)
    sf = tmp_path / "sf_empty"
    sf.mkdir()
    for p in src.glob("*.parquet"):
        if p.name != "documents.parquet":
            shutil.copy(p, sf / p.name)
    docs = pd.read_parquet(src / "documents.parquet")
    extra = docs.tail(2).copy()
    extra["doc_id"] = docs["doc_id"].max() + pd.array([1, 2], dtype="int64")
    extra["text"] = ["", " \t\n "]
    extra["n_chars"] = extra["text"].str.len()
    pd.concat([docs, extra]).astype(docs.dtypes).to_parquet(
        sf / "documents.parquet", index=False)

    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    for name in EMPTY_TEXT_ROWS:
        a = _canon(entrymod.queries()[name](spark, str(sf)).toPandas())
        b = _canon(con.execute(entrymod.oracle_sql()[name]).df())
        assert len(a) == len(b), f"{name}: rows {len(a)} vs {len(b)}"
        for col in a.columns:
            bad = [
                (x, y) for x, y in zip(a[col], b[col])
                if not ((pd.isna(x) and pd.isna(y)) or x == y
                        or (isinstance(x, float) and isinstance(y, float)
                            and math.isclose(x, y, rel_tol=0, abs_tol=2e-6)))
            ]
            assert not bad, f"{name}.{col}: {len(bad)} mismatches, e.g. {bad[0]}"
    counts = corpus_job.run(spark, str(sf), str(tmp_path / "job"))
    assert counts["survivors"] > 0, counts
