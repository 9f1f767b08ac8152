"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``  — flagship extraction pipeline on sf0.001 (smoke check)
- ``queries()``     — operator registry (SURVEY.md §2 coverage), each
                      callable (spark, sf_dir) -> DataFrame
- ``oracle_sql()``  — matching DuckDB SQL per query (omitted only for the
                      difflib-backed flagship, which gets a rows-only check)

Timezone contract: the timestamp-bearing queries (asof_join, sessionize,
event_rollup, ...) compare bit-equal against DuckDB only when Spark's
session timezone is UTC — Spark renders TIMESTAMP columns through the
session zone while DuckDB truncates/render them naive. Rather than assume
the external driver's session config, every contract callable pins
``spark.sql.session.timeZone=UTC`` (a runtime SQL conf) before building
its plan, so a non-UTC driver host cannot silently diverge from the
oracle.

The registry lives in cheque_ocr_project_spark.plans.queries, merged from
the query-family modules beside it (each Spark query next to its DuckDB
twin); the local parity test tests/test_driver_contract.py mirrors the
driver's comparison.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cheque_ocr_project_spark.plans import queries as Q
from cheque_ocr_project_spark.plans.flagship import q_flagship_extract

SF0001 = "/root/testdata/sf0.001"


def _pin_session_confs(spark: SparkSession) -> None:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # AQE skew-join is a LOAD-BEARING mitigation, not an optimization
    # nicety: q_tfidf_topk's tf⋈df join shuffles on the zipfian term key
    # (a stop-word's partition carries ~n_docs rows), and the plan-shape
    # audit accepts that join only because AQE splits the hot partitions
    # at runtime. It is session config, not plan shape, so the external
    # driver's session cannot be assumed — pin it here exactly like the
    # timezone (both are runtime SQL confs), and verify the pin took.
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    _pin_session_confs(spark)
    return q_flagship_extract(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    def with_utc(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _pin_session_confs(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = getattr(fn, "__name__", "query")
        return wrapped

    return {name: with_utc(fn) for name, fn in Q.queries().items()}


def oracle_sql() -> dict[str, str]:
    return Q.oracle_sql()
