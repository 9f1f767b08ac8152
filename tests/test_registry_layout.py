"""The registry is split by query family: each Spark query lives in the
module of its DuckDB twin, no module outgrows review, and the family
merge drops no row."""

from functools import partial
from pathlib import Path

import cheque_ocr_project_spark
from cheque_ocr_project_spark.plans import queries as Q

PKG = Path(cheque_ocr_project_spark.__file__).parent
MAX_LINES = 1500


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
