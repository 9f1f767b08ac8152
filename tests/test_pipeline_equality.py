"""Per-turn equality: every extraction engine == the pure-Python oracle.

This is the graft's correctness gate (north rule: per-turn text equality
under stable (conv_id, turn_idx) ordering).
"""

import math

import pandas as pd
import pytest

from cheque_ocr_project_spark.plans import pipeline as P
from tests.conftest import oracle_frame

KEY = ["conv_id", "turn_idx"]
FLOAT_COLS = {"issuer_conf", "confidence"}


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.sort_values(KEY).reset_index(drop=True)
    return df[sorted(df.columns)]


def _assert_frames_equal(actual: pd.DataFrame, expected: pd.DataFrame, tag: str):
    actual = _normalize(actual)
    expected = _normalize(expected)
    assert len(actual) == len(expected), f"{tag}: row count mismatch"
    mismatch_report = []
    for col in expected.columns:
        a, e = actual[col], expected[col]
        if col in FLOAT_COLS:
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


@pytest.fixture(scope="module")
def expected(fixture_data):
    transcripts, _master, drawer_dict = fixture_data
    return oracle_frame(transcripts, drawer_dict)


def test_vectorized_pipeline_matches_oracle(spark, transcripts_sdf, fixture_data, expected):
    """The pandas-Series-vectorized batch kernel (zero per-row Python; the
    measured-fastest 'arrow' engine is the default) must match the oracle
    per turn."""
    _t, _m, drawer_dict = fixture_data
    out = P.extract_pipeline(
        spark, transcripts_sdf, drawer_dict, engine="vectorized"
    ).toPandas()
    _assert_frames_equal(out, expected, "vectorized")


def test_arrow_pipeline_matches_oracle(spark, transcripts_sdf, fixture_data, expected):
    _t, _m, drawer_dict = fixture_data
    out = P.extract_pipeline(
        spark, transcripts_sdf, drawer_dict, engine="arrow"
    ).toPandas()
    _assert_frames_equal(out, expected, "arrow")


def test_stable_ordering(spark, transcripts_sdf, fixture_data):
    """Window-over-partition ordering assigns contiguous ranks per conv."""
    _t, _m, drawer_dict = fixture_data
    out = P.ordered(P.extract_pipeline(spark, transcripts_sdf, drawer_dict))
    pdf = out.select("conv_id", "turn_idx", "turn_rank").toPandas()
    for _conv, grp in pdf.groupby("conv_id"):
        grp = grp.sort_values("turn_idx")
        assert list(grp.turn_rank) == list(range(1, len(grp) + 1))


def test_normalize_separators_closes_exotic_ws_divergence(spark, fixture_data):
    """The documented residual (PLANS.md round 4): on \\x1c-\\x1f / NEL /
    Unicode-space input Python and Java regex tokenize differently. With
    the scan-boundary normalizer (job.py --normalize-ws) applied to the
    input, every engine matches the oracle on exactly those rows — closing
    the gap without touching the reference-parity oracle itself."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cheque_ocr_project_spark.functions import columns as C

    _t, _m, drawer_dict = fixture_data
    rows = []
    texts = [
        "PAY TO : GUPTA\x85TRADERS",            # NEL inside the name
        "M/S　SHARMA STEEL INDUSTRIES",     # ideographic space
        "PAY TO\x1cRAMESH KUMAR\x1d& SONS",     # ASCII file/group seps
        "FOR AGGARWAL TRADING CO",    # NBSP + em space
        "RUPEES\x1e ONE LAKH ONLY\x1f",
    ]
    for i, t in enumerate(texts):
        rows.append(("exotic", i, "user", t, None, None))
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    sdf = spark.createDataFrame(pdf)
    sdf = sdf.withColumn("turn_idx", sdf["turn_idx"].cast("int"))

    # the rows genuinely exercise the divergence: raw input splits
    # differently under the two dialects
    py_tokens = [len(t.split()) for t in texts]
    java_tokens = [
        r.n for r in sdf.select(
            F.size(F.filter(F.split("text", r"[ \t\n\x0B\f\r]+"),
                            lambda w: w != "")).alias("n")
        ).collect()
    ]
    assert py_tokens != java_tokens, "fixture no longer exercises the gap"

    norm_sdf = sdf.withColumn("text", C.normalize_separators(F.col("text")))
    norm_pdf = pdf.copy()
    norm_pdf["text"] = norm_pdf["text"].map(
        lambda t: "".join(
            " " if c in C.EXOTIC_SEPARATORS else c for c in t
        )
    )
    expected = oracle_frame(norm_pdf, drawer_dict)
    for engine in P.ENGINES:
        out = P.extract_pipeline(
            spark, norm_sdf, drawer_dict, engine=engine
        ).toPandas()
        _assert_frames_equal(out, expected, f"normalized-{engine}")


def test_engine_list_is_the_single_source(spark, transcripts_sdf, capsys):
    """Engine names outside P.ENGINES are rejected, and job.py --engine
    offers exactly P.ENGINES (default first)."""
    from cheque_ocr_project_spark import job

    for engine in ("hybrid", "native"):
        with pytest.raises(ValueError, match="unknown engine"):
            P.extract_pipeline(spark, transcripts_sdf, [], engine=engine)
    with pytest.raises(SystemExit):
        job.build_args(["--help"])
    assert "--engine {%s}" % ",".join(P.ENGINES) in capsys.readouterr().out
    args = job.build_args(["--input", "in", "--output", "out"])
    assert args.engine == P.ENGINES[0]
