"""The benchmark's workloads. Each is a closed loop with one client, the
benchmark process, and runs the package's public functions:

- `ingest`: the paper's dataflow, RPC -> flatten -> batched idempotent
  parquet load, pulling from the seeded fixture node (perfbench/node.py).
- `analytics`: two parts in one pass. `chain_sql` is an analyst's query
  mix over a warehouse laid out by `sinks.parquet.write_all` (generated by
  perfbench/chaingen.py); `query_tier` runs registered heavy queries
  (`QUERIES[name]`) over seeded tables (perfbench/tiergen.py) to
  completion with the noop sink.

A workload generates its inputs in `generate`, defines the ops of one pass
in `ops`, and checks every recorded output against an independent
reference in `check`, outside the timed region.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import subprocess
import sys
import time
import urllib.request
from decimal import Decimal

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from chainhouse_spark import transforms
from chainhouse_spark.frontend import ch_dialect
from chainhouse_spark.sinks import parquet as sink
from chainhouse_spark.sources import rpc
from perfbench import chaingen, tiergen
from tests.compare import compare_frames

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES = ("blocks", "transactions", "events", "withdraws")


# --------------------------------------------------------------------------
# Shared helpers
# --------------------------------------------------------------------------


def _value_bytes(expr, dtype):
    """Bytes of user data in one value: payload bytes for binary/string,
    the fixed width for numbers, summed over array elements."""
    if isinstance(dtype, (T.BinaryType, T.StringType)):
        return F.coalesce(F.octet_length(expr), F.lit(0)).cast("long")
    if isinstance(dtype, T.ArrayType):
        el = dtype.elementType
        return F.coalesce(
            F.aggregate(
                F.transform(expr, lambda x: _value_bytes(x, el)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ),
            F.lit(0).cast("long"),
        )
    if isinstance(dtype, T.DecimalType):
        width = 16 if dtype.precision > 18 else 8
    else:
        width = {
            T.LongType: 8, T.DoubleType: 8, T.TimestampType: 8, T.TimestampNTZType: 8,
            T.IntegerType: 4, T.FloatType: 4, T.DateType: 4, T.ShortType: 2,
            T.ByteType: 1, T.BooleanType: 1,
        }[type(dtype)]
    return F.when(expr.isNull(), F.lit(0)).otherwise(F.lit(width)).cast("long")


def user_bytes_row(schema: T.StructType, skip: tuple[str, ...] = ("block_bucket",)):
    """Bytes of user data in one row; the partition column is layout, not
    data."""
    terms = [_value_bytes(F.col(f"`{f.name}`"), f.dataType) for f in schema if f.name not in skip]
    return sum(terms[1:], terms[0])


def user_bytes_expr(schema: T.StructType):
    return F.sum(user_bytes_row(schema))


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of the regular files under `path` ending in `suffix`,
    ignoring Spark's hidden bookkeeping files."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(suffix):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def key_bytes_expr(table: str):
    """A table's dedup key as bytes, laid out as perfbench.node hashes it:
    binary parts as they are, integers as 8 big-endian bytes."""
    be8 = lambda c: F.unhex(F.lpad(F.hex(F.col(c).cast("long")), 16, "0"))  # noqa: E731
    parts = {
        "blocks": [F.col("hash"), be8("number")],
        "transactions": [F.col("hash")],
        "events": [F.col("transactionHash"), be8("logIndex")],
        "withdraws": [F.col("blockHash"), be8("index")],
    }[table]
    return F.concat(*parts)


def key_digest_expr(table: str):
    """The Spark form of perfbench.node.key_digest."""
    return F.crc32(key_bytes_expr(table))


class Op:
    """One op of a pass: a name, a callable returning the output to check,
    and the warehouse tables it scans (for the scan files ratio)."""

    def __init__(self, name: str, fn, tables: tuple[str, ...] = ()):
        self.name, self.fn, self.tables = name, fn, tables


class Workload:
    name = ""
    warm_passes = 1
    gen_repeats = 1

    def __init__(self, ctx):
        self.ctx = ctx  # seed, work dir, cores, options
        self.outputs: list[tuple[int, str, object]] = []  # (pass, op, output)

    def start_inputs(self) -> None:
        """Work that may overlap the Spark session start."""

    def generate(self, spark: SparkSession) -> list[float]:
        """Make the inputs (`gen_repeats` times); return each time taken."""
        raise NotImplementedError

    def ops(self, spark: SparkSession, pass_no: int) -> list[Op]:
        raise NotImplementedError

    def check(self, spark: SparkSession) -> dict[tuple[int, str], list[str]]:
        """Mismatches per (pass, op); an op absent from the map passed."""
        raise NotImplementedError

    def stored_bytes_ratio(self, spark: SparkSession) -> float:
        """Input or warehouse bytes on disk divided by the bytes of user
        data they hold (see `user_bytes_row`); called after `check`."""
        raise NotImplementedError

    def source_counters(self) -> dict[str, float]:
        """Cumulative counters of the RPC source and the fixture node:
        calls, blocks, wait_s, failed_calls, node_cpu_s."""
        return {}

    def layer_metrics(self, spark: SparkSession) -> dict[str, float]:
        """Per-run layer numbers that are not per-op Spark counters."""
        return {}

    def close(self) -> None:
        pass


# --------------------------------------------------------------------------
# ingest
# --------------------------------------------------------------------------


def counting_transport_factory(endpoint: str, calls, wait_s, failed):
    """`transport_for(endpoint)` wrapped to count calls, failed calls and
    seconds spent waiting on the node, in Spark accumulators."""

    def factory():
        inner = rpc.transport_for(endpoint)

        def call(method, params):
            t0 = time.perf_counter()
            try:
                return inner(method, params)
            except Exception:
                failed.add(1)
                raise
            finally:
                calls.add(1)
                wait_s.add(time.perf_counter() - t0)

        return call

    return factory


class Ingest(Workload):
    """`raw_blocks_from_rpc` -> `all_tables_from_raw` -> `write_all(append)`
    over `--batch`-block slices; one slice is re-run, then `compact_table`
    heals the buckets it touched."""

    name = "ingest"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_blocks = ctx.opts.get("blocks", 64)
        self.batch = ctx.opts.get("batch", 32)
        self.facts: dict[str, dict] = {}
        # One block_bucket per slice, so the re-run slice touches one bucket.
        self.bucket = self.batch
        self.FIRST = 19_000_000 - 19_000_000 % self.batch
        self.node: subprocess.Popen | None = None
        self.warehouses: dict[int, str] = {}
        # Set by a traced run: each slice then first runs `_probe`.
        self.tracer = None
        self.probe = {"calls": 0.0, "wait_s": 0.0, "node_cpu_s": 0.0}

    def start_inputs(self) -> None:
        self.node = subprocess.Popen(
            [
                sys.executable, os.path.join(HERE, "node.py"),
                "--seed", str(self.ctx.seed), "--first", str(self.FIRST),
                "--blocks", str(self.n_blocks),
            ],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )

    def generate(self, spark: SparkSession) -> list[float]:
        line = self.node.stdout.readline().split()
        if not line or line[0] != "READY":
            raise RuntimeError("fixture node did not start")
        self.endpoint = f"http://127.0.0.1:{line[1]}"
        sc = spark.sparkContext
        self.acc_calls = sc.accumulator(0)
        self.acc_wait = sc.accumulator(0.0)
        self.acc_failed = sc.accumulator(0)
        self.factory = counting_transport_factory(
            self.endpoint, self.acc_calls, self.acc_wait, self.acc_failed
        )
        self.blocks_requested = 0
        return [float(line[2])]

    def _rpc(self, method: str, params: list | None = None):
        req = urllib.request.Request(
            self.endpoint,
            data=json.dumps({"jsonrpc": "2.0", "id": 0, "method": method, "params": params or []}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(req, timeout=30) as resp:
            return json.loads(resp.read())["result"]

    def _raw(self, spark, lo: int, hi: int):
        return rpc.raw_blocks_from_rpc(
            spark, self.endpoint, lo, hi - 1,
            parallelism=self.ctx.cores, transport_factory=self.factory,
        )

    def _probe(self, spark, lo: int, hi: int) -> None:
        """Traced runs only: time the source and the flatten on their own.
        `raw_blocks_from_rpc` and `all_tables_from_raw` only build plans;
        their work runs inside the `write_table` calls that consume them.
        So the slice's blocks are fetched and parsed into a cached frame
        (a `sources.rpc` span), then flattened from that cache into the
        four tables with the noop sink (a `transforms` span). Its Spark jobs
        run in the op's `:probe` job group, and its RPC calls and node CPU
        are kept apart, so the program's own figures exclude it."""
        sc = spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        before = self.source_counters()
        sc.setJobGroup(f"{group}:probe", f"{group}:probe")
        raw = self._raw(spark, lo, hi).persist()
        try:
            with self.tracer.span("sources.rpc", "fetch_rows") as rec:
                rec["probe"] = True
                raw.count()
            with self.tracer.span("transforms", "flatten_rows") as rec:
                rec["probe"] = True
                for df in transforms.all_tables_from_raw(raw).values():
                    df.write.format("noop").mode("overwrite").save()
        finally:
            raw.unpersist(blocking=True)
            sc.setJobGroup(group, group)
        after = self.source_counters()
        for k in self.probe:
            self.probe[k] += after[k] - before[k]

    def _slice(self, spark, wh: str, lo: int, hi: int) -> str:
        if self.tracer is not None:
            self._probe(spark, lo, hi)
        raw = self._raw(spark, lo, hi)
        sink.write_all(transforms.all_tables_from_raw(raw), wh, self.bucket, mode="append")
        self.blocks_requested += hi - lo
        return wh

    def _compact(self, spark, wh: str, lo: int, hi: int) -> str:
        buckets = list(range(lo // self.bucket, (hi - 1) // self.bucket + 1))
        for t in TABLES:
            sink.compact_table(spark, t, wh, self.bucket, buckets=buckets)
        return wh

    def ops(self, spark, pass_no):
        wh = os.path.join(self.ctx.work, f"ingest-wh-{pass_no}")
        # The warm-up pass runs each kind of op once on a 1-block slice:
        # the cold cost (class loading, code generation, Python workers) is
        # per code path, not per row, so a tiny slice pays all of it.
        n, batch = (self.n_blocks, self.batch) if pass_no >= self.warm_passes else (1, 1)
        self.warehouses[pass_no] = (wh, n)
        slices = [
            (lo, min(lo + batch, self.FIRST + n))
            for lo in range(self.FIRST, self.FIRST + n, batch)
        ]
        rerun = slices[len(slices) // 2]
        out = [
            Op(f"slice{i}", lambda lo=lo, hi=hi: self._slice(spark, wh, lo, hi))
            for i, (lo, hi) in enumerate(slices)
        ]
        if pass_no >= self.warm_passes:  # the re-run is the slice code path again
            out.append(Op("rerun", lambda: self._slice(spark, wh, *rerun)))
        out.append(Op("compact", lambda: self._compact(spark, wh, *rerun)))
        return out

    def _facts(self, spark) -> dict[tuple[int, str], dict]:
        """Rows, distinct keys, key digest and user bytes of every table of
        every pass's warehouse, in one Spark job."""
        parts = []
        for p, (wh, _) in self.warehouses.items():
            for t in TABLES:
                df = sink.read_table(spark, t, wh)
                parts.append(
                    df.select(
                        F.lit(p).alias("pass"),
                        F.lit(t).alias("table"),
                        key_bytes_expr(t).alias("key"),
                        F.crc32(key_bytes_expr(t)).alias("digest"),
                        user_bytes_row(df.schema).alias("user_bytes"),
                    )
                )
        rows = (
            functools.reduce(DataFrame.unionByName, parts)
            .groupBy("pass", "table")
            .agg(
                F.count(F.lit(1)).alias("rows"),
                F.count_distinct("key").alias("keys"),
                F.sum("digest").alias("digest"),
                F.sum("user_bytes").alias("user_bytes"),
            )
            .collect()
        )
        return {(r["pass"], r["table"]): r.asDict() for r in rows}

    def check(self, spark):
        bad: dict[tuple[int, str], list[str]] = {}
        facts = self._facts(spark)
        for p, (_, n) in sorted(self.warehouses.items()):
            want = self._rpc("perfbench_manifest", [self.FIRST, self.FIRST + n])
            issues = []
            for t in TABLES:
                f = facts.get((p, t), {"rows": 0, "keys": 0, "digest": None, "user_bytes": 0})
                self.facts[t] = f
                want_rows, want_digest = want["rows"][t], want["digest"][t]
                if f["rows"] != want_rows or f["digest"] != want_digest:
                    issues.append(
                        f"{t}: rows {f['rows']} digest {f['digest']}, "
                        f"node emitted rows {want_rows} digest {want_digest}"
                    )
                if f["keys"] != f["rows"]:
                    issues.append(f"{t}: {f['rows'] - f['keys']} duplicate keys after compaction")
            if issues:
                for q, op, _ in self.outputs:
                    if q == p:
                        bad[(p, op)] = issues
        return bad

    def stored_bytes_ratio(self, spark) -> float:
        """Uses the last pass's warehouse, whose facts `check` read last."""
        wh = self.warehouses[max(self.warehouses)][0]
        on_disk = sum(dir_bytes(os.path.join(wh, t), ".parquet")[0] for t in TABLES)
        return on_disk / sum(self.facts[t]["user_bytes"] for t in TABLES)

    def source_counters(self):
        """Cumulative; the calls, waits and node CPU of traced-run probes
        are left out."""
        stats = self._rpc("perfbench_stats")
        return {
            "calls": float(self.acc_calls.value) - self.probe["calls"],
            "blocks": float(self.blocks_requested),
            "wait_s": float(self.acc_wait.value) - self.probe["wait_s"],
            "failed_calls": float(self.acc_failed.value) + stats["failed"],
            "node_cpu_s": stats["cpu_s"] - self.probe["node_cpu_s"],
        }

    def layer_metrics(self, spark):
        return {f"transforms.rows_out.{t}": float(self.facts[t]["rows"]) for t in TABLES}

    def close(self) -> None:
        if self.node is not None:
            self.node.stdin.close()
            try:
                self.node.wait(timeout=20)
            except subprocess.TimeoutExpired:
                self.node.kill()
                self.node.wait()
            self.node.stdout.close()


# --------------------------------------------------------------------------
# chain_sql
# --------------------------------------------------------------------------

CH_QUERY = """
SELECT toStartOfHour(toDateTime(toUInt32(blockTimestamp))) AS hour,
       count() AS n,
       countIf(status = 1) AS ok,
       toString(sumIf(gasUsed, type = 2)) AS gas_type2,
       uniqExact(to) AS receivers
FROM transactions
WHERE block_bucket BETWEEN {b_lo} AND {b_hi} AND blockNumber BETWEEN {lo} AND {hi}
GROUP BY hour
"""

CH_ORACLE = """
SELECT date_trunc('hour', to_timestamp(CAST(blockTimestamp AS BIGINT))::TIMESTAMP) AS hour,
       count(*) AS n,
       count(*) FILTER (WHERE status = 1) AS ok,
       CAST(sum(gasUsed) FILTER (WHERE type = 2) AS VARCHAR) AS gas_type2,
       count(DISTINCT "to") AS receivers
FROM transactions
WHERE block_bucket BETWEEN {b_lo} AND {b_hi} AND blockNumber BETWEEN {lo} AND {hi}
GROUP BY hour
"""


class ChainSql(Workload):
    """Six analyst ops over the warehouse: tx-hash lookup, block-range
    aggregate, tx-events join, topic histogram, a ClickHouse-dialect query
    through `ch_sql`, and a `read_table_deduped` (FINAL) read."""

    FIRST = 18_000_000
    # The tables the ops read; blocks and withdraws are not generated.
    TABLES = ("transactions", "events")

    def __init__(self, ctx):
        super().__init__(ctx)
        self.n_blocks = ctx.opts.get("chain_blocks", 240)
        self.bucket = max(1, self.n_blocks // 4)
        self.wh = os.path.join(ctx.work, "chain-wh")

    def generate(self, spark):
        times = []
        for _ in range(self.gen_repeats):
            t0 = time.perf_counter()
            shutil.rmtree(self.wh, ignore_errors=True)
            made = chaingen.tables(spark, self.ctx.seed, self.FIRST, self.n_blocks)
            tables = {t: made[t] for t in self.TABLES}
            sink.write_all(tables, self.wh, self.bucket)
            # An at-least-once re-ingest of 5% of the blocks' transactions,
            # the table the FINAL op reads.
            lo = self.FIRST + self.n_blocks // 2
            hi = lo + max(1, self.n_blocks // 20)
            again = tables["transactions"].filter(F.col("blockNumber").between(lo, hi - 1))
            sink.write_all({"transactions": again}, self.wh, self.bucket, mode="append")
            times.append(time.perf_counter() - t0)
        for t in self.TABLES:
            sink.read_table(spark, t, self.wh).createOrReplaceTempView(t)
        self._params()
        return times

    def _params(self):
        """Seeded op parameters: 16 existing tx hashes, a third of the
        block range."""
        import random

        rng = random.Random(self.ctx.seed)
        n_tx = self.n_blocks * chaingen.TX_PER_BLOCK
        self.tx_hashes = [chaingen.tx_hash_hex(self.ctx.seed, i) for i in sorted(rng.sample(range(n_tx), 16))]
        span = self.n_blocks // 3
        lo = self.FIRST + rng.randrange(self.n_blocks - span)
        self.range = {"lo": lo, "hi": lo + span - 1, "b_lo": lo // self.bucket, "b_hi": (lo + span - 1) // self.bucket}

    def sql(self) -> dict[str, tuple[str, str, tuple[str, ...]]]:
        """op -> (Spark SQL, DuckDB SQL, tables scanned)."""
        r = self.range
        in_spark = ", ".join(f"X'{h}'" for h in self.tx_hashes)
        in_duck = ", ".join(f"from_hex('{h}')" for h in self.tx_hashes)
        lookup = (
            "SELECT lower(hex(hash)) AS hash, blockNumber, transactionIndex, "
            "CAST(value AS {s}) AS value, CAST(gasUsed AS {s}) AS gasUsed, status "
            "FROM transactions WHERE hash IN ({inl})"
        )
        block_agg = (
            "SELECT blockNumber {div} 100 AS b100, count(*) AS n, "
            "CAST(sum(gasUsed) AS {s}) AS gas, CAST(sum(value) AS {s}) AS val, "
            "count(DISTINCT \"from\") AS senders FROM transactions "
            "WHERE block_bucket BETWEEN {b_lo} AND {b_hi} AND blockNumber BETWEEN {lo} AND {hi} "
            "GROUP BY blockNumber {div} 100"
        )
        join = (
            "SELECT t.type, t.status, count(*) AS n_logs, count(DISTINCT e.address) AS n_addr, "
            "CAST(sum(e.logIndex) AS {s}) AS sum_idx "
            "FROM transactions t JOIN events e "
            "ON e.transactionHash = t.hash AND e.block_bucket = t.block_bucket "
            "WHERE t.block_bucket BETWEEN {b_lo} AND {b_hi} AND t.blockNumber BETWEEN {lo} AND {hi} "
            "GROUP BY t.type, t.status"
        )
        topics = (
            "SELECT lower(hex(topics[{i0}])) AS topic0, count(*) AS n FROM events "
            "GROUP BY lower(hex(topics[{i0}])) HAVING count(*) > 1"
        )
        final = (
            "SELECT count(*) AS n, CAST(sum(blockNumber) AS {s}) AS sum_block, "
            "CAST(sum(transactionIndex) AS {s}) AS sum_idx, CAST(sum(gasUsed) AS {s}) AS gas "
            "FROM {src}"
        )
        dedup_duck = "(SELECT DISTINCT ON (hash) * FROM transactions)"
        spark_q = lambda q, **kw: q.replace('"from"', "`from`").format(s="STRING", div="DIV", inl=in_spark, i0=0, **r, **kw)  # noqa: E731
        duck_q = lambda q, **kw: q.format(s="VARCHAR", div="//", inl=in_duck, i0=1, **r, **kw)  # noqa: E731
        return {
            "tx_lookup": (spark_q(lookup), duck_q(lookup), ("transactions",)),
            "block_range_agg": (spark_q(block_agg), duck_q(block_agg), ("transactions",)),
            "tx_events_join": (spark_q(join), duck_q(join), ("transactions", "events")),
            "topic_histogram": (spark_q(topics), duck_q(topics), ("events",)),
            "ch_dialect": (CH_QUERY.format(**r), CH_ORACLE.format(**r), ("transactions",)),
            "final_read": (spark_q(final, src="final_tx"), duck_q(final, src=dedup_duck), ("transactions",)),
        }

    def ops(self, spark, pass_no):
        queries = self.sql()

        def run_sql(q):
            return spark.sql(q).toPandas()

        def run_final(q):
            sink.read_table_deduped(spark, "transactions", self.wh).createOrReplaceTempView("final_tx")
            return spark.sql(q).toPandas()

        def run_ch(q):
            return ch_dialect.ch_sql(spark, q).toPandas()

        out = []
        for name, (sq, _, tables) in queries.items():
            fn = {"ch_dialect": run_ch, "final_read": run_final}.get(name, run_sql)
            out.append(Op(name, lambda fn=fn, sq=sq: fn(sq), tables))
        return out

    def check(self, spark):
        views = "".join(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.wh}/{t}/*/*.parquet', hive_partitioning=true);"
            for t in self.TABLES
        )
        expected = {}
        for name, (_, dq, _) in self.sql().items():
            con = duckdb.connect()
            try:
                con.execute("SET threads=2;" + views)
                expected[name] = con.execute(dq).fetchdf()
            finally:
                con.close()
        bad = {}
        for p, op, got in self.outputs:
            if op not in expected:  # another part's op
                continue
            issues = compare_frames(_canon(got), _canon(expected[op]))
            if issues:
                bad[(p, op)] = issues
        return bad

    def storage(self, spark) -> tuple[int, int]:
        """(bytes on disk, bytes of user data) of the warehouse."""
        on_disk = user = 0
        for t in self.TABLES:
            on_disk += dir_bytes(os.path.join(self.wh, t), ".parquet")[0]
            df = sink.read_table(spark, t, self.wh)
            user += df.agg(user_bytes_expr(df.schema)).first()[0]
        return on_disk, user


def _canon(pdf):
    """Normalise engine-specific cell types before `compare_frames`:
    timestamps to naive UTC, integer-valued floats and Decimals to int."""
    import pandas as pd

    out = pdf.copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            out[c] = s.astype("datetime64[us]").map(lambda v: v.isoformat())
        elif s.dtype == object:
            out[c] = s.map(lambda v: int(v) if isinstance(v, Decimal) and v == v.to_integral_value() else v)
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
    return out


# --------------------------------------------------------------------------
# query_tier
# --------------------------------------------------------------------------

TIER = (
    "stat_ks_two_sample",
    "sketch_theta_set_ops",
    "sample_downweight_duplicates",
)


class QueryTier(Workload):
    """Registered queries through `QUERIES[name](spark, sf)`. Timed passes
    run each query to completion with the noop sink; the warm-up pass
    collects each result instead, and those results are what `check`
    compares with the query's registered DuckDB oracle."""

    gen_repeats = 3

    def __init__(self, ctx):
        super().__init__(ctx)
        self.sf = os.path.join(ctx.work, "tier-sf")
        self.scale = ctx.opts.get("tier_scale", 0.02)
        self.queries = TIER

    def generate(self, spark):
        times = []
        for _ in range(self.gen_repeats):
            t0 = time.perf_counter()
            self.rows = tiergen.write(self.ctx.seed, self.scale, self.sf)
            times.append(time.perf_counter() - t0)
        return times

    def ops(self, spark, pass_no):
        from chainhouse_spark.queries import QUERIES

        collect = pass_no < self.warm_passes

        def run(name):
            df = QUERIES[name](spark, self.sf)
            if collect:
                return df.toPandas()
            df.write.format("noop").mode("overwrite").save()
            return None

        return [Op(n, lambda n=n: run(n)) for n in self.queries]

    def check(self, spark):
        from chainhouse_spark.queries import ORACLES

        bad = {}
        spill = os.path.join(self.ctx.work, "duckdb-spill")
        for p, name, got in self.outputs:
            if name not in self.queries or got is None:  # another part's op, or noop
                continue
            con = duckdb.connect()
            try:
                con.execute("SET threads=2")
                for t in self.rows:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
                want = con.execute(ORACLES[name].replace("/tmp/duckdb_oracle_spill", spill)).fetchdf()
            finally:
                con.close()
            issues = compare_frames(got, want)
            if issues:
                bad[(p, name)] = issues
        return bad

    def storage(self, spark) -> tuple[int, int]:
        """(bytes on disk, bytes of user data) of the input tables."""
        on_disk = user = 0
        for t in self.rows:
            path = os.path.join(self.sf, f"{t}.parquet")
            on_disk += os.path.getsize(path)
            df = spark.read.parquet(path)
            user += df.agg(user_bytes_expr(df.schema)).first()[0]
        return on_disk, user


# --------------------------------------------------------------------------
# analytics = chain_sql + query_tier
# --------------------------------------------------------------------------


class Analytics(Workload):
    """One pass runs the chain_sql op mix, then the query_tier queries. The
    two share a run so that a run pays Spark's start and cold cost once:
    the benchmark is run 4 + 22 x workloads times within a fixed budget."""

    name = "analytics"

    def __init__(self, ctx):
        super().__init__(ctx)
        self.parts = (ChainSql(ctx), QueryTier(ctx))
        self.wh, self.queries = self.parts[0].wh, self.parts[1].queries
        # The parts record into one list, so op results keep pass order.
        for part in self.parts:
            part.outputs = self.outputs

    def generate(self, spark):
        sql_gen, tier_gen = (part.generate(spark) for part in self.parts)
        return [sql_gen[0] + t for t in tier_gen]

    def ops(self, spark, pass_no):
        return [op for part in self.parts for op in part.ops(spark, pass_no)]

    def check(self, spark):
        return {k: v for part in self.parts for k, v in part.check(spark).items()}

    def stored_bytes_ratio(self, spark) -> float:
        on_disk, user = zip(*(part.storage(spark) for part in self.parts))
        return sum(on_disk) / sum(user)


WORKLOADS = {w.name: w for w in (Ingest, Analytics)}
