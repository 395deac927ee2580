"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All queries live in ``chainhouse_spark/queries/`` and self-register into
``chainhouse_spark.queries.registry`` at import time; this module is a thin
adapter over that registry.

The driver checks about 50 queries a round, in the order ``queries()``
returns them. That order is derived at import, not kept by hand
(``chainhouse_spark/queries/rotation.py``): queries whose last verdict is
not green or whose plan fingerprint changed since it come first, then
never-checked queries, then green unchanged ones, oldest verdict first.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from chainhouse_spark.queries import QUERIES, ORACLES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 analogue) on /root/testdata/sf0.001."""
    return QUERIES["q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted for non-SQL ops)."""
    return dict(ORACLES)
