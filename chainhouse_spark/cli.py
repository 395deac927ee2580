"""CLI — argv-compatible with the reference (SURVEY.md §2.1 S1):

    chainhouse-spark --ethereum <rpc-url> --from F --to T
                     [--clickhouse host[:port]] [--schema]
                     [--output /path/parquet] [--batch 1000]
    chainhouse-spark --warehouse /path --sql "SELECT ..."   # post-ingest SQL

Differences from the reference, all deliberate (SURVEY §7):
- --clickhouse is HONORED (the reference parses and ignores it,
  src/main.rs:20-21 vs :46): host[:port] of the ClickHouse native TCP
  endpoint, port 9000 by default as in the reference. The ETL provisions
  the database and the four tables there, then bulk-inserts columnar
  Native blocks (sinks/native_tcp.py).
- --schema prints/provisions DDL derived from the StructTypes.
- --output selects the parquet-native sink (default) instead of ClickHouse.
- --batch slices the range into atomic, idempotently re-runnable writes
  (K4/K7; the reference's flush-on-divisibility quirk is not reproduced —
  slices are exact).
"""

from __future__ import annotations

import argparse

from chainhouse_spark.session import build_spark
from chainhouse_spark.sinks import clickhouse as ch
from chainhouse_spark.sinks import write_concurrently
from chainhouse_spark.sinks.native_tcp import provision_native_tcp, write_native_tcp
from chainhouse_spark.sinks.parquet import write_all
from chainhouse_spark.sources.rpc import raw_blocks_from_rpc
from chainhouse_spark.transforms import all_tables_from_raw


def _positive_int(text: str) -> int:
    n = int(text)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be at least 1, got {n}")
    return n


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="chainhouse-spark")
    p.add_argument("--ethereum", help="Ethereum JSON-RPC endpoint URL")
    p.add_argument(
        "--clickhouse",
        help="ClickHouse native TCP endpoint host[:port] (port 9000 by "
        "default, as in the reference); provisioned, then loaded",
    )
    p.add_argument("--from", dest="from_block", type=int, help="first block (inclusive)")
    p.add_argument("--to", dest="to_block", type=int, help="last block (inclusive)")
    p.add_argument("--schema", action="store_true", help="provision/print DDL")
    p.add_argument("--output", help="parquet sink base path (default sink)")
    p.add_argument("--batch", type=_positive_int, default=1000, help="blocks per write slice")
    p.add_argument("--parallelism", type=_positive_int, default=32, help="fetch partitions")
    p.add_argument("--list-queries", action="store_true", help="list registered analytics queries")
    p.add_argument("--query", help="run a registered analytics query by name")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01", help="table dir for --query")
    p.add_argument("--explain", action="store_true", help="print the physical plan instead of rows")
    p.add_argument("--show", type=int, default=20, help="rows to display for --query")
    p.add_argument("--compact", help="compact a warehouse table (exact dedup rewrite); needs --output")
    p.add_argument(
        "--compact-buckets",
        help="comma-separated block_bucket ids for --compact: rewrite only "
        "those partitions via dynamic partition overwrite (the buckets a "
        "re-ingest touched); omit for the full-table rewrite",
    )
    p.add_argument(
        "--canonicalize",
        action="store_true",
        help="evict reorged-out blocks (and their child rows) from the "
        "whole warehouse via parentHash-walk canonicalization; needs --output",
    )
    p.add_argument(
        "--confirmation-depth",
        type=int,
        default=64,
        help="--canonicalize keeps forks within this many heights of the "
        "tip (an in-flight reorg can make the losing fork the current "
        "longest chain); 0 evicts everything",
    )
    p.add_argument("--warehouse", help="ingested warehouse base path: registers the four chain tables as views")
    p.add_argument("--sql", help="ad-hoc SQL to run over the registered views (with --warehouse)")
    p.add_argument(
        "--dialect",
        choices=["spark", "clickhouse"],
        default="spark",
        help="SQL dialect for --sql: 'clickhouse' translates the reference's "
        "dialect (PREWHERE, toStartOfHour, countIf, quantile(p)(x), ...) "
        "via frontend/ch_dialect.py before execution",
    )
    return p


def _stop_if_owned(spark) -> None:
    """Stop the session only if this invocation created it — getOrCreate
    returns any live session, and stopping one we merely joined would kill
    the caller's (e.g. the test harness's shared) SparkContext."""
    if getattr(spark, "_chainhouse_cli_owned", False):
        spark.stop()


def _cli_spark(app_name: str):
    from pyspark import SparkContext

    # A live SparkContext, whichever thread created it, is joined by
    # getOrCreate; only a context this call starts is ours to stop.
    existed = SparkContext._active_spark_context is not None
    spark = build_spark(app_name=app_name)
    spark._chainhouse_cli_owned = not existed
    return spark


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    if args.list_queries:
        from chainhouse_spark.queries import ORACLES, QUERIES

        for name in sorted(QUERIES):
            tag = "oracle" if name in ORACLES else "rows-only"
            print(f"{name}  [{tag}]")
        return 0

    if args.query:
        from chainhouse_spark.queries import QUERIES

        if args.query not in QUERIES:
            raise SystemExit(f"unknown query: {args.query} (see --list-queries)")
        spark = _cli_spark(f"chainhouse-query-{args.query}")
        df = QUERIES[args.query](spark, args.sf_dir)
        if args.explain:
            df.explain("formatted")
        else:
            df.show(args.show, truncate=False)
        _stop_if_owned(spark)
        return 0

    if args.warehouse:
        # The day-to-day analyst path once data is ingested: the four chain
        # tables become views and arbitrary SQL runs over them — the Spark
        # stand-in for "connect clickhouse-client to the ethereum database".
        import os as _os

        from chainhouse_spark.schemas import TABLES

        spark = _cli_spark("chainhouse-sql")
        registered = []
        for name in TABLES:
            path = f"{args.warehouse}/{name}"
            if _os.path.isdir(path):
                spark.read.parquet(path).createOrReplaceTempView(name)
                registered.append(name)
        if not registered:
            raise SystemExit(f"no chain tables found under {args.warehouse}")
        if not args.sql:
            print("registered views:", ", ".join(registered))
            _stop_if_owned(spark)
            return 0
        if args.dialect == "clickhouse":
            from chainhouse_spark.frontend import ch_sql

            df = ch_sql(spark, args.sql)
        else:
            df = spark.sql(args.sql)
        if args.explain:
            df.explain("formatted")
        else:
            df.show(args.show, truncate=False)
        _stop_if_owned(spark)
        return 0

    if args.compact:
        if not args.output:
            raise SystemExit("--compact needs --output (the warehouse base path)")
        from chainhouse_spark.sinks.parquet import compact_table

        spark = _cli_spark("chainhouse-compact")
        buckets = (
            [int(b) for b in args.compact_buckets.split(",")]
            if args.compact_buckets
            else None
        )
        compact_table(spark, args.compact, args.output, buckets=buckets)
        scope = f"buckets {buckets}" if buckets else "all buckets"
        print(f"compacted {args.compact} ({scope})")
        _stop_if_owned(spark)
        return 0

    if args.canonicalize:
        if not args.output:
            raise SystemExit(
                "--canonicalize needs --output (the warehouse base path)"
            )
        from chainhouse_spark.sinks.parquet import canonicalize_warehouse

        spark = _cli_spark("chainhouse-canonicalize")
        evicted = canonicalize_warehouse(
            spark, args.output, confirmation_depth=args.confirmation_depth
        )
        for name, n in evicted.items():
            print(f"{name}: evicted {n} reorged-out rows")
        _stop_if_owned(spark)
        return 0

    if args.schema:
        for stmt in ch.all_ddl():
            print(stmt + ";\n")
        if not (args.from_block is not None and args.to_block is not None):
            return 0

    if args.from_block is None or args.to_block is None:
        print("nothing to do: pass --from/--to (and see --help)")
        return 0
    if not args.ethereum:
        raise SystemExit("--ethereum endpoint required for extraction")
    if not args.output and not args.clickhouse:
        raise SystemExit(
            "pick a sink: --output (parquet) or --clickhouse (native TCP)"
        )

    if not args.output:
        provision_native_tcp(args.clickhouse)
    spark = _cli_spark("chainhouse-etl")
    lo = args.from_block
    while lo <= args.to_block:
        hi = min(lo + args.batch - 1, args.to_block)
        raw = raw_blocks_from_rpc(
            spark, args.ethereum, lo, hi, parallelism=args.parallelism
        )
        tables = all_tables_from_raw(raw)
        if args.output:
            write_all(tables, args.output, mode="append")
        else:
            write_concurrently(
                tables, lambda df, name: write_native_tcp(df, name, args.clickhouse)
            )
        print(f"wrote blocks [{lo}, {hi}]")
        lo = hi + 1
    _stop_if_owned(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
