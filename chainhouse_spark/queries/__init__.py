"""Analytic query registry — the capability-parity surface (SURVEY.md §2.6).

Importing this package loads every query module, which registers each query
with the registry in `registry.py`. `__spark_entry__.py` exposes the registry
to the driver.

The driver oracle-checks about 50 queries a round, in registry order, so
the order is the rotation: once every module has registered, `QUERIES`
and `ORACLES` are reordered by `rotation.rotation_order` over the driver's
verdicts (`CORRECTNESS_r*.json`) and the committed plan fingerprints
(`fingerprints.json`). Queries that failed their last verdict or whose
plan changed since it come first, then never-checked queries, then green
unchanged ones, oldest verdict first. The import order below only breaks
ties. Regenerate the fingerprints with `python tools/query_rotation.py
--write` after changing a query or an operator.
"""

from chainhouse_spark.queries.registry import QUERIES, ORACLES, register  # noqa: F401

# Import for side effect: each module registers its queries.
from chainhouse_spark.queries import llm_dedup  # noqa: E402,F401
from chainhouse_spark.queries import llm_similarity  # noqa: E402,F401
from chainhouse_spark.queries import llm_text  # noqa: E402,F401
from chainhouse_spark.queries import llm_chunking  # noqa: E402,F401
from chainhouse_spark.queries import llm_sampling  # noqa: E402,F401
from chainhouse_spark.queries import llm_corpus  # noqa: E402,F401
from chainhouse_spark.queries import llm_quality  # noqa: E402,F401
from chainhouse_spark.queries import llm_pipeline  # noqa: E402,F401
from chainhouse_spark.queries import search  # noqa: E402,F401
from chainhouse_spark.queries import temporal  # noqa: E402,F401
from chainhouse_spark.queries import funnel  # noqa: E402,F401
from chainhouse_spark.queries import audience  # noqa: E402,F401
from chainhouse_spark.queries import multimodal  # noqa: E402,F401
from chainhouse_spark.queries import statistics  # noqa: E402,F401
from chainhouse_spark.queries import timeseries  # noqa: E402,F401
from chainhouse_spark.queries import sketches  # noqa: E402,F401
from chainhouse_spark.queries import graph  # noqa: E402,F401
from chainhouse_spark.queries import web_geo  # noqa: E402,F401
from chainhouse_spark.queries import collections  # noqa: E402,F401
from chainhouse_spark.queries import dimension  # noqa: E402,F401
from chainhouse_spark.queries import incremental  # noqa: E402,F401
from chainhouse_spark.queries import sql_frontend  # noqa: E402,F401
from chainhouse_spark.queries import setops  # noqa: E402,F401
from chainhouse_spark.queries import scalars  # noqa: E402,F401
from chainhouse_spark.queries import subqueries  # noqa: E402,F401
from chainhouse_spark.queries import ethereum  # noqa: E402,F401
from chainhouse_spark.queries import windows  # noqa: E402,F401
from chainhouse_spark.queries import tpch  # noqa: E402,F401
from chainhouse_spark.queries import tpch_extended  # noqa: E402,F401
from chainhouse_spark.queries import tpch_complete  # noqa: E402,F401
from chainhouse_spark.queries import joins  # noqa: E402,F401
from chainhouse_spark.queries import aggregates  # noqa: E402,F401
from chainhouse_spark.queries import llm_advanced  # noqa: E402,F401
from chainhouse_spark.queries import ch_frontend  # noqa: E402,F401
from chainhouse_spark.queries import streaming_queries  # noqa: E402,F401
from chainhouse_spark.queries import llm_training  # noqa: E402,F401
from chainhouse_spark.queries import bpe_queries  # noqa: E402,F401
from chainhouse_spark.queries import llm_contamination  # noqa: E402,F401
from chainhouse_spark.queries import rotation  # noqa: E402

rotation.reorder(
    rotation.rotation_order(
        list(QUERIES), rotation.read_verdicts(), rotation.read_fingerprints()
    ),
    QUERIES,
    ORACLES,
)
