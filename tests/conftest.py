import math

import pandas as pd
import pytest
from pyspark.sql import SparkSession


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("cheque_ocr_project_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        # load-bearing for the skewed tf⋈df term join in q_tfidf_topk
        # (hot-key mitigation is AQE config, not plan shape)
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def fixture_data():
    from cheque_ocr_project_spark.oracle import fuzzy
    from cheque_ocr_project_spark.sources import synth

    transcripts = synth.generate_transcripts(n_convs=60, seed=7, outlier_turns=300)
    master = synth.generate_master(seed=7)
    drawer_dict = fuzzy.build_drawer_dict(master.drawer_nm.tolist())
    return transcripts, master, drawer_dict


@pytest.fixture(scope="session")
def transcripts_sdf(spark, fixture_data):
    transcripts, _master, _dd = fixture_data
    sdf = spark.createDataFrame(transcripts)
    sdf = sdf.withColumn("turn_idx", sdf["turn_idx"].cast("int"))
    return sdf.cache()


def pytest_terminal_summary(terminalreporter):
    """Name the golden-corpus parity tests that skipped for want of the
    reference corpus, so the gap shows as more than a skip count."""
    skipped = [r for r in terminalreporter.stats.get("skipped", [])
               if "test_golden_corpus_parity.py" in r.nodeid]
    if skipped:
        from test_golden_corpus_parity import FINAL, GOLDEN

        terminalreporter.write_line(
            f"WARNING: golden-corpus parity not checked: {GOLDEN} and "
            f"{FINAL} absent, {len(skipped)} tests skipped",
            yellow=True)


def oracle_frame(transcripts: pd.DataFrame, drawer_dict) -> pd.DataFrame:
    """Expected extraction records computed by the pure-Python oracle."""
    from cheque_ocr_project_spark.oracle import turn as oracle_turn

    rows = []
    for r in transcripts.itertuples():
        rec = oracle_turn.extract_turn(r.text, r.role, r.tool, drawer_dict)
        rec["conv_id"] = r.conv_id
        rec["turn_idx"] = r.turn_idx
        rows.append(rec)
    cols = ["conv_id", "turn_idx", *oracle_turn.RESULT_FIELDS]
    return pd.DataFrame(rows, columns=cols)


_KEY = ["conv_id", "turn_idx"]
_FLOAT_COLS = {"issuer_conf", "confidence"}


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.sort_values(_KEY).reset_index(drop=True)
    return df[sorted(df.columns)]


def assert_frames_equal(actual: pd.DataFrame, expected: pd.DataFrame, tag: str):
    actual = _normalize(actual)
    expected = _normalize(expected)
    assert len(actual) == len(expected), f"{tag}: row count mismatch"
    mismatch_report = []
    for col in expected.columns:
        a, e = actual[col], expected[col]
        if col in _FLOAT_COLS:
            bad = [
                i
                for i, (x, y) in enumerate(zip(a, e))
                if not (
                    (pd.isna(x) and pd.isna(y))
                    or (not pd.isna(x) and not pd.isna(y) and math.isclose(x, y, rel_tol=0, abs_tol=1e-12))
                )
            ]
        else:
            bad = [
                i
                for i, (x, y) in enumerate(zip(a, e))
                if not ((pd.isna(x) and pd.isna(y)) or x == y)
            ]
        if bad:
            i = bad[0]
            mismatch_report.append(
                f"{tag}: column {col}: {len(bad)} mismatches; first at "
                f"{expected.loc[i, 'conv_id']}/{expected.loc[i, 'turn_idx']}: "
                f"actual={actual.loc[i, col]!r} expected={expected.loc[i, col]!r}"
            )
    assert not mismatch_report, "\n".join(mismatch_report)
