"""Sinks: parquet-native at-rest layout, and ClickHouse DDL plus its native
TCP load path."""

from __future__ import annotations

from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.util import inheritable_thread_target


def write_concurrently(
    tables: dict[str, DataFrame], write: Callable[[DataFrame, str], None]
) -> None:
    """Run `write(df, name)` for every table at once, one thread per table
    — the reference's `tokio::try_join` over its four flushes
    (src/main.rs:292-319).

    Each call is wrapped on its own, so each thread gets its own copy of
    the caller's Spark local properties: its jobs stay in the caller's job
    group, and concurrent SQL executions cannot overwrite one another's
    `spark.sql.execution.id` (one shared copy would, and the written-file
    metrics would land on the wrong execution).

    Every write runs to its end before this returns; then the first
    failure, in table order, is raised. So when one table fails, the others
    may still land (see `sinks.parquet` for how a re-run heals that)."""
    if not tables:
        return
    spark = next(iter(tables.values())).sparkSession
    with ThreadPoolExecutor(max_workers=len(tables)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(write), df, name)
            for name, df in tables.items()
        ]
    for f in futures:
        f.result()
