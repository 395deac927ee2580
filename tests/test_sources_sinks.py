"""Tests for the RPC source (fake transport — no network), the parquet sink
layout, the ClickHouse DDL emitter, and the CLI surface.
"""

from __future__ import annotations

import hashlib
import json
import threading
import uuid
from contextlib import contextmanager
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from chainhouse_spark.cli import build_parser
from chainhouse_spark.schemas import RAW_BLOCK, TABLES
from chainhouse_spark.sinks import clickhouse as ch
from chainhouse_spark.sinks.parquet import read_table, write_all
from chainhouse_spark.sources.fixtures import raw_blocks_df
from chainhouse_spark.sources.rpc import fetch_heights, parse_block, raw_blocks_from_rpc
from chainhouse_spark.transforms import all_tables_from_raw


def _hx(b: bytes) -> str:
    return "0x" + b.hex()


def make_rpc_payloads(n: int) -> tuple[dict, list[dict]]:
    """Canned eth_getBlockByNumber / eth_getBlockReceipts JSON for height n,
    covering post-1559 + type-2 + logs + withdrawals when n is odd."""
    tx = {
        "hash": _hx(bytes([n]) * 32),
        "transactionIndex": "0x0",
        "chainId": "0x1",
        "type": "0x2",
        "from": _hx(bytes([n + 1]) * 20),
        "to": None if n % 3 == 0 else _hx(bytes([n + 2]) * 20),
        "value": hex(10**18 + n),
        "nonce": "0x5",
        "input": "0xdeadbeef",
        "gas": "0x5208",
        "gasPrice": "0x3b9aca00",
        "maxFeePerGas": "0x77359400",
        "maxPriorityFeePerGas": "0x3b9aca00",
        "r": _hx(bytes([7]) * 32),
        "s": _hx(bytes([8]) * 32),
        "v": "0x1b",
        "accessList": [{"address": _hx(bytes([9]) * 20), "storageKeys": []}],
    }
    receipt = {
        "transactionHash": tx["hash"],
        "contractAddress": _hx(bytes([n + 3]) * 20) if n % 3 == 0 else None,
        "cumulativeGasUsed": "0x5208",
        "effectiveGasPrice": "0x3b9aca01",
        "gasUsed": "0x5208",
        "logsBloom": "0x" + "00" * 256,
        "root": None,
        "status": "0x1",
        "logs": [
            {
                "address": _hx(bytes([n + 4]) * 20),
                "logIndex": "0x0",
                "removed": False,
                "topics": [_hx(bytes([n + 5]) * 32)],
                "data": "0xabcdef",
            }
        ],
    }
    block = {
        "hash": _hx(bytes([n + 10]) * 32),
        "number": hex(n),
        "parentHash": _hx(bytes([n + 9]) * 32),
        "uncles": [],
        "sha3Uncles": _hx(bytes([1]) * 32),
        "totalDifficulty": "0xff",
        "miner": _hx(bytes([2]) * 20),
        "difficulty": "0x0",
        "nonce": _hx(bytes([3]) * 8),
        "mixHash": _hx(bytes([4]) * 32),
        "baseFeePerGas": "0x3b9aca00",
        "gasLimit": "0x1c9c380",
        "gasUsed": "0x5208",
        "stateRoot": _hx(bytes([5]) * 32),
        "transactionsRoot": _hx(bytes([6]) * 32),
        "receiptsRoot": _hx(bytes([7]) * 32),
        "logsBloom": "0x" + "00" * 256,
        "withdrawalsRoot": _hx(bytes([8]) * 32) if n % 2 else None,
        "extraData": "0x00",
        "timestamp": hex(1_700_000_000 + n * 12),
        "size": "0x220",
        "transactions": [tx],
        "withdrawals": [
            {
                "index": hex(n * 16),
                "validatorIndex": "0x64",
                "address": _hx(bytes([11]) * 20),
                "amount": "0x3b9aca00",
            }
        ]
        if n % 2
        else None,
    }
    return block, [receipt]


def fake_transport(method: str, params: list):
    n = int(params[0], 16)
    block, receipts = make_rpc_payloads(n)
    if method == "eth_getBlockByNumber":
        return block
    if method == "eth_getBlockReceipts":
        return receipts
    raise ValueError(method)


def test_parse_block_types():
    block, receipts = make_rpc_payloads(5)
    row = parse_block(block, receipts)
    assert row["number"] == 5
    assert isinstance(row["hash"], bytes) and len(row["hash"]) == 32
    assert int(row["timestamp"]) == 1_700_000_060
    assert row["transactions"][0]["to"] is not None
    assert row["receipts"][0]["status"] == 1
    assert row["withdrawals"] is not None  # odd height
    assert row["transactions"][0]["accessList"].startswith("[")
    even = parse_block(*make_rpc_payloads(6))
    assert even["withdrawals"] is None
    assert even["transactions"][0]["to"] is None  # n%3==0 -> creation
    assert even["receipts"][0]["contractAddress"] is not None


def test_fetch_heights_retries():
    calls = {"n": 0}

    def flaky(method, params):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise ConnectionError("transient")
        return fake_transport(method, params)

    rows = list(fetch_heights([4], flaky, max_retries=3, backoff_sec=0.0))
    assert len(rows) == 1 and rows[0]["number"] == 4

    def dead(method, params):
        raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        list(fetch_heights([4], dead, max_retries=1, backoff_sec=0.0))


def test_rpc_source_end_to_end(spark):
    """Distributed fetch through mapPartitions with an injected transport,
    then the full transform stack."""
    raw = raw_blocks_from_rpc(
        spark, "unused://", 1, 6, parallelism=3,
        transport_factory=lambda: fake_transport,
    )
    assert raw.schema == RAW_BLOCK
    tables = all_tables_from_raw(raw)
    assert tables["blocks"].count() == 6
    assert tables["transactions"].count() == 6
    assert tables["withdraws"].count() == 3  # odd heights only
    got = {r.number for r in tables["blocks"].select("number").collect()}
    assert got == set(range(1, 7))


def test_fetch_heights_does_not_retry_parse_errors():
    """A malformed payload fails the same way on every re-fetch: it raises
    after the one block + receipts call pair, with no backoff and retry."""
    calls = {"n": 0}

    def malformed(method, params):
        calls["n"] += 1
        out = fake_transport(method, params)
        return {**out, "hash": "0xnot-hex"} if method == "eth_getBlockByNumber" else out

    with pytest.raises(ValueError):
        list(fetch_heights([4], malformed, max_retries=3, backoff_sec=0.0))
    assert calls["n"] == 2


def test_rpc_slice_fetches_each_height_once(spark, tmp_path):
    """The four table writes of a slice share one fetch: two RPC calls
    (block + receipts) per height in total, not two per table."""
    calls = spark.sparkContext.accumulator(0)

    def counting_factory():
        def call(method, params):
            calls.add(1)
            return fake_transport(method, params)

        return call

    raw = raw_blocks_from_rpc(
        spark, "unused://", 1, 6, parallelism=3, transport_factory=counting_factory
    )
    # Fetched eagerly: the whole slice is in before any write starts, so
    # the concurrent writes cannot race to fetch the same partition.
    assert calls.value == 2 * 6
    write_all(all_tables_from_raw(raw), str(tmp_path), bucket_size=2)
    assert read_table(spark, "blocks", str(tmp_path)).count() == 6
    assert calls.value == 2 * 6


def test_rpc_slice_tables_share_one_snapshot(spark, tmp_path):
    """Every client sees a different fork (each factory() call salts the
    block hashes), the way re-fetches near the chain tip can. All four
    tables of a slice must still come from one response: every child
    row's blockHash is a hash in the slice's blocks table."""

    def forking_factory():
        salt = uuid.uuid4().hex

        def call(method, params):
            out = fake_transport(method, params)
            if method == "eth_getBlockByNumber":
                forked = hashlib.sha256(f"{salt}:{params[0]}".encode()).hexdigest()
                out = {**out, "hash": "0x" + forked}
            return out

        return call

    raw = raw_blocks_from_rpc(
        spark, "unused://", 1, 6, parallelism=3, transport_factory=forking_factory
    )
    write_all(all_tables_from_raw(raw), str(tmp_path), bucket_size=2)

    def column(name, col):
        rows = read_table(spark, name, str(tmp_path)).select(col).collect()
        return {r[0] for r in rows}

    hashes = column("blocks", "hash")
    assert len(hashes) == 6
    for name in ("transactions", "events", "withdraws"):
        got = column(name, "blockHash")
        assert got and got <= hashes, name


def test_write_concurrently_runs_every_write_at_once(spark):
    """All writes are in flight together (a barrier only the four of them
    can pass), and each thread keeps the caller's job group."""
    from chainhouse_spark.sinks import write_concurrently
    from perfbench.trace import SparkCounters

    tables = all_tables_from_raw(raw_blocks_df(spark, 2, seed=42))
    barrier = threading.Barrier(len(tables), timeout=30)
    groups = {}

    def write(df, name):
        barrier.wait()
        groups[name] = spark.sparkContext.getLocalProperty("spark.jobGroup.id")

    with SparkCounters(spark).group("concurrent-writes"):
        write_concurrently(tables, write)
    assert groups == {name: "concurrent-writes" for name in tables}


def test_write_all_attributes_written_files_per_execution(spark, tmp_path):
    """Each concurrent write keeps its own SQL execution id: the written-file
    metrics of the group's SQL executions, as the benchmark's counters read
    them, add up to the files on disk. (A thread-shared copy of the local
    properties lets one write's execution id overwrite another's, and the
    files land on the wrong execution.)"""
    from perfbench.trace import SparkCounters

    counters = SparkCounters(spark)
    group = f"write-all-{uuid.uuid4().hex}"
    with counters.group(group):
        write_all(
            all_tables_from_raw(raw_blocks_df(spark, 6, seed=42)),
            str(tmp_path),
            bucket_size=2,
        )
    on_disk = len(list(tmp_path.rglob("*.parquet")))
    assert on_disk >= 10
    assert counters.read(group)["files_written"] == on_disk


def test_write_all_raises_after_every_other_write_lands(spark, tmp_path):
    """One table fails at run time: write_all raises that error, but only
    once the other writes are done — they land, and no job is left
    running."""
    tables = all_tables_from_raw(raw_blocks_df(spark, 6, seed=42))
    tables["transactions"] = tables["transactions"].withColumn(
        "nonce",
        F.when(F.col("blockNumber") >= 0, F.raise_error(F.lit("boom-transactions")))
        .otherwise(F.col("nonce")),
    )
    with pytest.raises(Exception, match="boom-transactions"):
        write_all(tables, str(tmp_path), bucket_size=2)
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert not sc.statusTracker().getActiveJobsIds()
    for name in ("blocks", "events", "withdraws"):
        assert read_table(spark, name, str(tmp_path)).count() == tables[name].count()
    assert not (tmp_path / "transactions" / "_SUCCESS").exists()


def test_parquet_sink_layout(spark, tmp_path):
    tables = all_tables_from_raw(raw_blocks_df(spark, 6, seed=42))
    write_all(tables, str(tmp_path), bucket_size=2)
    back = read_table(spark, "transactions", str(tmp_path))
    assert back.count() == tables["transactions"].count()
    # partition column materialized from the layout
    assert "block_bucket" in back.columns
    buckets = {r.block_bucket for r in back.select("block_bucket").distinct().collect()}
    assert buckets == {0, 1, 2}
    # partition pruning: filtering one bucket must scan fewer files
    pruned = back.filter(F.col("block_bucket") == 1)
    plan = pruned.queryExecution if False else pruned._jdf.queryExecution().executedPlan().toString()
    assert "block_bucket" in plan


def test_clickhouse_ddl():
    stmts = ch.all_ddl()
    assert stmts[0] == "CREATE DATABASE IF NOT EXISTS ethereum"
    assert len(stmts) == 5  # database + 4 tables (reference src/main.rs:53-161)
    blocks_ddl = stmts[1]
    assert "ENGINE = ReplacingMergeTree" in blocks_ddl
    assert "ORDER BY (`hash`, `number`)" in blocks_ddl
    assert "`withdrawlsRoot` Nullable(FixedString(32))" in blocks_ddl  # ref spelling
    assert "`number` UInt64" in blocks_ddl
    tx_ddl = stmts[2]
    assert "ORDER BY (`hash`)" in tx_ddl
    assert "`value` Nullable(UInt256)" in tx_ddl
    assert "`from` Nullable(FixedString(20))" in tx_ddl
    ev_ddl = stmts[3]
    assert "ORDER BY (`transactionHash`, `logIndex`)" in ev_ddl
    assert "Array(FixedString(32))" in ev_ddl  # topics
    # every declared column appears
    for name, ddl in zip(["blocks", "transactions", "events", "withdraws"], stmts[1:]):
        for f in TABLES[name].fields:
            assert f"`{f.name}`" in ddl, (name, f.name)


def test_cli_surface(capsys):
    p = build_parser()
    ns = p.parse_args(
        ["--ethereum", "http://node:8545", "--from", "100", "--to", "200",
         "--clickhouse", "ch:9000", "--schema", "--batch", "50"]
    )
    assert ns.from_block == 100 and ns.to_block == 200
    assert ns.clickhouse == "ch:9000" and ns.batch == 50 and ns.schema
    from chainhouse_spark.cli import main

    assert main(["--schema"]) == 0
    out = capsys.readouterr().out
    assert "CREATE DATABASE IF NOT EXISTS ethereum" in out
    assert out.count("CREATE TABLE") == 4


@pytest.mark.parametrize(
    "flag, value",
    [("--batch", "0"), ("--batch", "-3"), ("--parallelism", "0"), ("--parallelism", "-1")],
)
def test_cli_rejects_non_positive_batch_and_parallelism(flag, value):
    """A batch below 1 would slice the range forever and a parallelism
    below 1 would reach repartition(0); both stop at parse time."""
    with pytest.raises(SystemExit):
        build_parser().parse_args(
            ["--ethereum", "http://node:8545", "--from", "1", "--to", "6",
             "--output", "warehouse", flag, value]
        )


def test_jsonl_source_quarantines_corrupt_lines(spark, tmp_path):
    """Schema-enforced JSONL: clean rows parse, malformed lines are captured
    whole in _corrupt_record instead of failing the job."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from chainhouse_spark.sources.files import read_jsonl, split_quarantine

    p = tmp_path / "landing.jsonl"
    p.write_text(
        '{"number": 1, "miner": "0xabc"}\n'
        '{"number": 2, "miner": "0xdef"}\n'
        "THIS IS NOT JSON\n"
        '{"number": 3, "miner": "0x123"}\n'
    )
    schema = StructType(
        [StructField("number", LongType()), StructField("miner", StringType())]
    )
    df = read_jsonl(spark, str(p), schema)
    clean, bad = split_quarantine(df)
    assert {r.number for r in clean.collect()} == {1, 2, 3}
    assert bad.count() == 1
    assert "NOT JSON" in bad.collect()[0][0]


def test_csv_source_schema_and_quarantine(spark, tmp_path):
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from chainhouse_spark.sources.files import read_csv, split_quarantine

    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,2.5\n2,3.5\nnot_a_number,oops\n")
    schema = StructType([StructField("a", LongType()), StructField("b", DoubleType())])
    clean, bad = split_quarantine(read_csv(spark, str(p), schema))
    assert {(r.a, r.b) for r in clean.collect()} == {(1, 2.5), (2, 3.5)}
    assert bad.count() == 1


def test_compaction_heals_duplicate_slices(spark, tmp_path):
    """Append the same slice twice (at-least-once ingest), compact, and the
    at-rest table is exactly-once again without read-side dedup."""
    from chainhouse_spark.sinks.parquet import (
        compact_table,
        read_table,
        write_all,
    )
    from chainhouse_spark.sources.fixtures import raw_blocks_df
    from chainhouse_spark.transforms import all_tables_from_raw

    base = str(tmp_path / "warehouse")
    tables = all_tables_from_raw(raw_blocks_df(spark, n_blocks=6, seed=42))
    write_all(tables, base, mode="overwrite")
    write_all(tables, base, mode="append")  # duplicate slice

    n_expected = tables["transactions"].count()
    assert read_table(spark, "transactions", base).count() == 2 * n_expected

    compact_table(spark, "transactions", base)
    after = read_table(spark, "transactions", base)
    assert after.count() == n_expected
    hashes = [r.hash for r in after.select("hash").collect()]
    assert len(hashes) == len(set(hashes))


def test_orc_roundtrip_preserves_schema(spark, tmp_path):
    """ORC as an alternative columnar at-rest format: binary/decimal/array
    chain types round-trip exactly (both formats are fine at 100 TB; parquet
    is the default for its wider ecosystem and the same pruning applies)."""
    from chainhouse_spark.sources.fixtures import raw_blocks_df
    from chainhouse_spark.transforms import transactions_from_raw

    tx = transactions_from_raw(raw_blocks_df(spark, n_blocks=4, seed=42))
    path = str(tmp_path / "tx_orc")
    tx.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.schema == tx.schema
    assert back.count() == tx.count()
    a = {r.hash for r in tx.select("hash").collect()}
    b = {r.hash for r in back.select("hash").collect()}
    assert a == b


def test_parquet_schema_evolution_merge(spark, tmp_path):
    """Column-add evolution: old slices lack the new column; mergeSchema
    reads both generations with NULLs backfilled — the at-rest contract for
    a chain that adds fields at a fork (e.g. blobGasUsed at Cancun)."""
    p = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id long, v string").write.mode(
        "overwrite"
    ).parquet(p)
    spark.createDataFrame(
        [(2, "b", 99)], "id long, v string, blob_gas long"
    ).write.mode("append").parquet(p)
    df = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(df.columns) == {"id", "v", "blob_gas"}
    rows = {r.id: r.blob_gas for r in df.collect()}
    assert rows == {1: None, 2: 99}


def test_xml_roundtrip_flat_projection(spark, tmp_path):
    """Spark-4 native XML source/sink: a flat (scalar-typed) projection of
    the blocks table round-trips through XML exactly. Binary columns are
    hex-encoded at the boundary (XML has no binary type); XML is the
    interchange-format edge of the source matrix — parquet/ORC stay the
    at-rest formats."""
    from chainhouse_spark.sources.fixtures import raw_blocks_df
    from chainhouse_spark.transforms import blocks_from_raw

    b = blocks_from_raw(raw_blocks_df(spark, n_blocks=4, seed=42)).select(
        F.hex("hash").alias("hash_hex"),
        F.col("number").cast("long").alias("number"),
        F.col("gasUsed").cast("long").alias("gas_used"),
        F.col("timestamp").cast("long").alias("ts"),
    )
    path = str(tmp_path / "blocks_xml")
    b.write.format("xml").option("rootTag", "blocks").option(
        "rowTag", "block"
    ).mode("overwrite").save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "block")
        .schema("hash_hex string, number long, gas_used long, ts long")
        .load(path)
    )
    assert back.count() == b.count()
    a = {tuple(r) for r in b.collect()}
    c = {tuple(r) for r in back.collect()}
    assert a == c


@contextmanager
def _fake_rpc_node():
    """A JSON-RPC node answering from `fake_transport`."""

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            req = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            body = json.dumps({
                "jsonrpc": "2.0", "id": req["id"],
                "result": fake_transport(req["method"], req["params"]),
            }).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    with _serving(Handler) as port:
        yield f"http://127.0.0.1:{port}"


@contextmanager
def _serving(handler):
    srv = ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        yield srv.server_port
    finally:
        srv.shutdown()
        srv.server_close()


def test_cli_rpc_to_clickhouse(spark, capsys):
    """The CLI's RPC -> ClickHouse path: the five provisioning statements
    go over native TCP first, then two 3-block slices fetched from a
    JSON-RPC node load all four tables as columnar blocks."""
    from chainhouse_spark.cli import main
    from tests.fake_clickhouse import FakeServer

    srv = FakeServer()
    try:
        with _fake_rpc_node() as node:
            rc = main([
                "--ethereum", node, "--clickhouse", f"127.0.0.1:{srv.port}",
                "--from", "1", "--to", "6", "--batch", "3", "--parallelism", "3",
            ])
    finally:
        srv.close()
    assert rc == 0
    assert "wrote blocks [4, 6]" in capsys.readouterr().out
    _assert_provisioned_then_loaded(srv)


def test_cli_rpc_to_clickhouse_in_fresh_process():
    """The same load from the command line: the CLI starts (and stops) its
    own Spark session when none is running."""
    import subprocess
    import sys

    from tests.fake_clickhouse import FakeServer

    srv = FakeServer()
    try:
        with _fake_rpc_node() as node:
            proc = subprocess.run(
                [sys.executable, "-m", "chainhouse_spark.cli",
                 "--ethereum", node, "--clickhouse", f"127.0.0.1:{srv.port}",
                 "--from", "1", "--to", "6", "--batch", "3"],
                capture_output=True, text=True, timeout=300,
            )
    finally:
        srv.close()
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "wrote blocks [4, 6]" in proc.stdout
    _assert_provisioned_then_loaded(srv)


def _assert_provisioned_then_loaded(srv) -> None:
    """The five provisioning statements came before any INSERT, and the
    fixture node's six blocks landed in all four tables."""
    assert srv.errors == []
    assert srv.queries[:5] == ch.all_ddl()
    assert all(q.startswith("INSERT INTO ethereum.") for q in srv.queries[5:])
    counts: dict[str, int] = {}
    for query, _, data in srv.received_blocks:
        table = query.split("INSERT INTO ethereum.", 1)[1].split(" ", 1)[0]
        counts[table] = counts.get(table, 0) + len(data[0])
    assert counts == {"blocks": 6, "transactions": 6, "events": 6, "withdraws": 3}


def test_cli_warehouse_sql(spark, tmp_path, capsys):
    """--warehouse registers the four ingested tables as views; --sql runs
    ad-hoc analytics over them — the analyst path after ingest."""
    from chainhouse_spark.cli import main
    from chainhouse_spark.queries.ethereum import _tables
    from chainhouse_spark.sinks.parquet import write_all

    write_all(_tables(spark), str(tmp_path), mode="append")
    rc = main([
        "--warehouse", str(tmp_path),
        "--sql",
        "SELECT count(*) AS n_tx, count(DISTINCT blockNumber) AS n_blocks "
        "FROM transactions",
        "--show", "5",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "n_tx" in out and "n_blocks" in out
    # fixture pipeline: 35 transactions across 7 non-empty blocks
    assert "35" in out and "7" in out


def test_cli_warehouse_sql_clickhouse_dialect(spark, tmp_path, capsys):
    """--dialect clickhouse: the query a reference user ran against their
    ClickHouse executes unchanged over the ingested warehouse."""
    from chainhouse_spark.cli import main
    from chainhouse_spark.queries.ethereum import _tables
    from chainhouse_spark.sinks.parquet import write_all

    write_all(_tables(spark), str(tmp_path), mode="append")
    rc = main([
        "--warehouse", str(tmp_path),
        "--dialect", "clickhouse",
        "--sql",
        "SELECT toUInt64(count()) AS n_tx, uniqExact(blockNumber) AS n_blocks "
        "FROM transactions FORMAT TabSeparated",
        "--show", "5",
    ])
    assert rc == 0
    out = capsys.readouterr().out
    assert "n_tx" in out and "n_blocks" in out
    assert "35" in out and "7" in out
