"""Output checks: per-turn equality with the Python oracle, manifest
row accounting, and DuckDB ``oracle_sql()`` parity for registry queries.

Each check returns the number of mismatches it found (0 = correct) and
prints the first few to stderr, so a failing run says what differed.
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

import numpy as np
import pandas as pd

from cheque_ocr_project_spark.functions.columns import EXOTIC_SEPARATORS
from cheque_ocr_project_spark.oracle import turn as oracle_turn

KEYS = ["conv_id", "turn_idx"]
FIELDS = list(oracle_turn.RESULT_FIELDS)
_NORMALIZE = str.maketrans(EXOTIC_SEPARATORS, " " * len(EXOTIC_SEPARATORS))


def _say(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)


def oracle_records(turns: pd.DataFrame, drawer_dict: list[str],
                   threshold: float, n_tasks: int) -> pd.DataFrame:
    """``oracle.turn.extract_turn`` over every turn's separator-normalised
    text (what the job extracts), one memo per contiguous ``n_tasks`` slice
    (the UDF keeps one memo per task)."""
    rows = []
    step = -(-len(turns) // n_tasks)
    for start in range(0, len(turns), step):
        cache: dict = {}
        for r in turns.iloc[start:start + step].itertuples(index=False):
            text = None if r.text is None else r.text.translate(_NORMALIZE)
            rec = oracle_turn.extract_turn(text, r.role, r.tool, drawer_dict,
                                           threshold, cache)
            rec["conv_id"], rec["turn_idx"] = r.conv_id, int(r.turn_idx)
            rows.append(rec)
    return pd.DataFrame(rows, columns=KEYS + FIELDS)


def _same(x, y) -> bool:
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return y is None or (isinstance(y, float) and math.isnan(y))
    if isinstance(x, float) and isinstance(y, float):
        return math.isclose(x, y, rel_tol=0, abs_tol=1e-12)
    return x == y


def turn_mismatches(label: str, got: pd.DataFrame,
                    expected: pd.DataFrame) -> int:
    """Turns whose record differs from the oracle, plus missing/extra/
    ERROR-status turns."""
    got = got.astype(object).where(got.notna(), None)
    exp = expected.astype(object).where(expected.notna(), None)
    got = got.assign(turn_idx=got["turn_idx"].astype(int))
    merged = exp.merge(got, on=KEYS, how="outer", suffixes=("", "__got"),
                       indicator=True)
    bad = int((merged["_merge"] != "both").sum())
    both = merged[merged["_merge"] == "both"]
    bad += int((both["status__got"] == "ERROR").sum())
    differs = np.zeros(len(both), dtype=bool)
    for f in FIELDS:
        x = both[f].to_numpy(dtype=object)
        y = both[f + "__got"].to_numpy(dtype=object)
        diff = x != y  # element-wise ==, then _same where that fails
        for i in np.flatnonzero(diff):
            if _same(x[i], y[i]):
                diff[i] = False
            elif not differs.any():
                _say(f"{label}: {both['conv_id'].iat[i]}/"
                     f"{both['turn_idx'].iat[i]} {f}: "
                     f"oracle={x[i]!r} got={y[i]!r}")
        differs |= diff
    bad += int(differs.sum())
    if bad:
        _say(f"{label}: {bad} of {len(expected)} turns differ from the oracle")
    return bad


def manifest_mismatches(label: str, output_dir: Path, n_turns: int) -> int:
    """Manifest ``rows`` must equal ``input_rows`` per bucket and cover
    every input turn exactly once."""
    from cheque_ocr_project_spark.sources import checkpoint

    entries = checkpoint.read_manifest(str(output_dir))
    bad = sum(1 for e in entries if e["rows"] != e["input_rows"])
    if len({e["bucket"] for e in entries}) != len(entries):
        bad += 1
    if sum(e["input_rows"] for e in entries) != n_turns:
        bad += 1
    if bad:
        _say(f"{label}: manifest has {bad} bad entries")
    return bad


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sorted columns, object/bool as str, floats rounded to 6 places, rows
    sorted: the canonicalisation of tests/test_driver_contract.py, kept
    here so the benchmark's check depends on its own files only."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object or pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def query_mismatches(name: str, got: pd.DataFrame,
                     expected: pd.DataFrame) -> int:
    """Order-insensitive comparison with the canonicalisation of
    tests/test_driver_contract.py; returns 0 or 1."""
    if sorted(got.columns) != sorted(expected.columns):
        _say(f"{name}: columns {sorted(got.columns)} vs "
             f"{sorted(expected.columns)}")
        return 1
    if "status" in got.columns and (got["status"] == "ERROR").any():
        _say(f"{name}: {(got['status'] == 'ERROR').sum()} ERROR rows")
        return 1
    a, b = _canon(got), _canon(expected)
    if len(a) != len(b):
        _say(f"{name}: {len(a)} rows vs oracle {len(b)}")
        return 1
    for col in a.columns:
        for x, y in zip(a[col], b[col]):
            if not ((pd.isna(x) and pd.isna(y)) or x == y or (
                    isinstance(x, float) and isinstance(y, float)
                    and math.isclose(x, y, rel_tol=0, abs_tol=2e-6))):
                _say(f"{name}.{col}: spark={x!r} duckdb={y!r}")
                return 1
    return 0


def duckdb_oracle(tables_dir: Path):
    """A DuckDB connection with one view per staged table."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(tables_dir.glob("*.parquet")):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
    return con
