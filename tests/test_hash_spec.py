"""Property tests for the engine-portable hash specs (hypothesis):
the batch-vectorized numpy paths must equal the scalar reference for
arbitrary unicode input, and the DuckDB renderers must agree on a sample.
"""

import duckdb
import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from cheque_ocr_project_spark.operators import dedup as DD
from cheque_ocr_project_spark.operators import similarity as SIM

texts = st.lists(st.text(max_size=60), min_size=1, max_size=8)


@settings(max_examples=200, deadline=None)
@given(texts)
def test_batch_polyhash_equals_scalar(strs):
    got = DD.batch_polyhash(strs).tolist()
    exp = [DD.polyhash(s) for s in strs]
    assert got == exp


@settings(max_examples=200, deadline=None)
@given(texts, st.integers(min_value=2, max_value=7))
def test_batch_shingles_equal_scalar(strs, k):
    h, lens = DD._batch_shingle_hashes(strs, k)
    seg = np.concatenate(([0], np.cumsum(lens)[:-1]))
    for i, t in enumerate(strs):
        got = h[seg[i]:seg[i] + lens[i]].tolist()
        if len(t) < k:
            exp = [DD.polyhash(t)]
        else:
            exp = [DD.polyhash(t[j:j + k]) for j in range(len(t) - k + 1)]
        assert got == exp, (t, k)


@settings(max_examples=50, deadline=None)
@given(st.text(
    # DuckDB VARCHAR (and SQL literals) cannot carry NUL; real document text
    # never does either — exclude it from the comparison domain
    alphabet=st.characters(codec="ascii", exclude_characters="\x00"),
    max_size=40,
))
def test_poly_sql_matches_python(s):
    from cheque_ocr_project_spark.plans.near_dup import poly_sql

    lit = "'" + s.replace("'", "''") + "'"
    con = duckdb.connect()
    got = con.execute(f"SELECT {poly_sql(lit, 7)}").fetchone()[0]
    assert got == DD.polyhash(s, 7)


def test_plane_coeffs_deterministic_and_bounded():
    a = SIM.plane_coeffs(64, 4, 24, seed=29)
    b = SIM.plane_coeffs(64, 4, 24, seed=29)
    assert (a == b).all()
    assert a.min() >= -2 and a.max() <= 2
    # different seeds give different planes
    c = SIM.plane_coeffs(64, 4, 24, seed=30)
    assert (a != c).any()


@settings(max_examples=100, deadline=None)
@given(st.lists(st.floats(min_value=-1, max_value=1, width=32),
                min_size=8, max_size=8))
def test_quantize_matches_sql_floor_spec(vec):
    q = SIM.quantize(np.array(vec, dtype=np.float64))
    exp = [int(np.floor(float(np.float64(x)) * 1000.0 + 0.5)) for x in vec]
    assert q.tolist() == exp
