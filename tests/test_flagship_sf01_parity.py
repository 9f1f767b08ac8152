"""The two flagship statements against their Spark queries at sf0.1, the
largest test data: the contract test checks every twin at sf0.01, where a
few hundred documents leave rare branches of the flagship cascades
unexercised. Same canonical form and float tolerance as the contract
test."""

import math
import os

import duckdb
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from tests.test_driver_contract import _canon

SF_DIR = "/root/testdata/sf0.1"


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason=f"{SF_DIR} is absent")
@pytest.mark.parametrize("name", ["flagship_nofuzzy", "flagship_v3_nofuzzy"])
def test_flagship_matches_duckdb_at_sf01(spark, name):
    a = _canon(entrymod.queries()[name](spark, SF_DIR).toPandas())
    with duckdb.connect() as con:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
        )
        b = _canon(con.execute(entrymod.oracle_sql()[name]).df())
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b), f"rows {len(a)} vs {len(b)}"
    for col in a.columns:
        bad = [
            i for i, (x, y) in enumerate(zip(a[col], b[col]))
            if not ((pd.isna(x) and pd.isna(y)) or x == y or (
                isinstance(x, float) and isinstance(y, float)
                and math.isclose(x, y, rel_tol=0, abs_tol=2e-6)))
        ]
        assert not bad, (
            f"{col}: {len(bad)} mismatches; first row {bad[0]}: "
            f"spark={a[col][bad[0]]!r} duck={b[col][bad[0]]!r}"
        )
