"""End-to-end job.main run proving --normalize-ws is ON by default.

VERDICT r05 #3: a production ingest should not depend on callers knowing
the flag. This drives the actual spark-submit entrypoint (job.main) over
a parquet input containing exactly the documented exotic-separator rows
(NEL, ideographic space, \x1c-\x1f) and checks, per turn, that:

  * the DEFAULT invocation matches the Python oracle computed over the
    NORMALIZED text (i.e. the scan-boundary normalizer ran without any
    flag being passed), and
  * --no-normalize-ws preserves the input byte-for-byte (the opt-out
    still works: same run matches the oracle over the RAW text).
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from tests.conftest import oracle_frame

EXOTIC_TEXTS = [
    "PAY TO : GUPTA\x85TRADERS",          # NEL inside the name
    "M/S　SHARMA STEEL INDUSTRIES",   # ideographic space
    "PAY TO\x1cRAMESH KUMAR\x1d& SONS",   # ASCII file/group separators
    "RUPEES\x1e ONE LAKH ONLY\x1f",
    "FOR AGGARWAL TRADING CO",            # plain ASCII control row
]


@pytest.fixture(scope="module")
def exotic_input(spark, tmp_path_factory):
    rows = [("exotic", i, "user", t, None, None)
            for i, t in enumerate(EXOTIC_TEXTS)]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    )
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    in_dir = str(tmp_path_factory.mktemp("job_e2e") / "in")
    sdf = spark.createDataFrame(pdf).withColumn(
        "turn_idx", F.col("turn_idx").cast("int")
    )
    sdf.coalesce(1).write.parquet(in_dir)
    return in_dir, pdf


def _run_job(spark, monkeypatch, in_dir, out_dir, extra=()):
    from cheque_ocr_project_spark import job

    # job.main builds its session via getOrCreate() (returns the test
    # session) and stops it on exit — neuter stop so the shared fixture
    # session survives the call.
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    job.main(["--input", in_dir, "--output", out_dir,
              "--n-buckets", "2", *extra])
    return spark.read.parquet(out_dir + "/data")


def _expected(pdf):
    from cheque_ocr_project_spark.sources.synth import default_drawer_dict

    return oracle_frame(pdf, default_drawer_dict())


def _assert_turn_equal(got_sdf, expected_pdf):
    got = (
        got_sdf.drop("bucket").toPandas()
        .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    exp = expected_pdf.sort_values(
        ["conv_id", "turn_idx"]).reset_index(drop=True)
    for col in exp.columns:
        assert col in got.columns, f"missing output column {col}"
        for i, (a, e) in enumerate(zip(got[col], exp[col])):
            ok = (pd.isna(a) and pd.isna(e)) or a == e
            assert ok, f"{col}@{i}: {a!r} != {e!r}"


def test_job_main_normalizes_ws_by_default(spark, exotic_input, tmp_path,
                                           monkeypatch):
    from cheque_ocr_project_spark.functions import columns as C

    in_dir, pdf = exotic_input
    got = _run_job(spark, monkeypatch, in_dir, str(tmp_path / "out_default"))

    norm_pdf = pdf.copy()
    norm_pdf["text"] = norm_pdf["text"].map(
        lambda t: "".join(
            " " if c in C.EXOTIC_SEPARATORS else c for c in t)
    )
    # the fixture genuinely exercises the divergence
    assert list(norm_pdf["text"]) != list(pdf["text"])
    _assert_turn_equal(got, _expected(norm_pdf))


def test_job_main_opt_out_preserves_bytes(spark, exotic_input, tmp_path,
                                          monkeypatch):
    in_dir, pdf = exotic_input
    got = _run_job(spark, monkeypatch, in_dir,
                   str(tmp_path / "out_optout"), extra=["--no-normalize-ws"])
    _assert_turn_equal(got, _expected(pdf))
