"""Per-turn equality: the extraction pipeline == the pure-Python oracle.

This is the graft's correctness gate (north rule: per-turn text equality
under stable (conv_id, turn_idx) ordering).
"""

import pytest

from cheque_ocr_project_spark.plans import pipeline as P
from tests.conftest import assert_frames_equal, oracle_frame


@pytest.fixture(scope="module")
def expected(fixture_data):
    transcripts, _master, drawer_dict = fixture_data
    return oracle_frame(transcripts, drawer_dict)


def test_arrow_pipeline_matches_oracle(spark, transcripts_sdf, fixture_data, expected):
    _t, _m, drawer_dict = fixture_data
    out = P.extract_pipeline(
        spark, transcripts_sdf, drawer_dict, engine="arrow"
    ).toPandas()
    assert_frames_equal(out, expected, "arrow")


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
    input, the pipeline matches the oracle on exactly those rows — closing
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
    out = P.extract_pipeline(spark, norm_sdf, drawer_dict).toPandas()
    assert_frames_equal(out, expected, "normalized")


def test_engine_list_is_the_single_source(spark, transcripts_sdf, tmp_path):
    """"arrow" is the only engine: any other name is rejected, job.py has
    no --engine option, and the checkpointed job still takes
    engine="arrow"."""
    from cheque_ocr_project_spark import job
    from cheque_ocr_project_spark.sources import checkpoint as CP

    with pytest.raises(ValueError, match="unknown engine"):
        P.extract_pipeline(spark, transcripts_sdf, [], engine="vectorized")
    with pytest.raises(SystemExit):
        job.build_args(["--input", "in", "--output", "out",
                        "--engine", "arrow"])
    stats = CP.run_with_checkpoint(
        spark, transcripts_sdf.limit(20), [], str(tmp_path / "out"),
        n_buckets=2, engine="arrow",
    )
    assert stats["rows"] == 20
