"""ClickHouse native TCP protocol: golden packet bytes, block round-trips,
and a scripted fake-server insert exercising the full client state machine.

The fake server (tests/fake_clickhouse.py) implements the server half of
the documented handshake over a real socket, so the client's framing,
revision negotiation, and insert loop run end-to-end without a ClickHouse
install. A live-server smoke is env-gated behind
CHAINHOUSE_CLICKHOUSE_TCP=host:port.
"""

from __future__ import annotations

import io
import os
import struct

import pytest
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from chainhouse_spark.sinks.native_tcp import (
    CLIENT_REVISION,
    ClickHouseError,
    NativeTCPClient,
    encode_block,
    parse_endpoint,
    read_block,
    varint,
    write_native_tcp,
    write_varint_str,
)
from tests.fake_clickhouse import FakeServer

# ---------------------------------------------------------------------------
# block encoding


SCHEMA = StructType(
    [
        StructField("number", LongType(), False),
        StructField("miner", StringType(), True),
        StructField("flags", ArrayType(LongType()), True),
        StructField("ok", BooleanType(), True),
    ]
)


def _rows(*tuples):
    return [dict(zip([f.name for f in SCHEMA.fields], t)) for t in tuples]


def test_block_golden_bytes():
    """Byte-level pin of one tiny block: BlockInfo, counts, column layout."""
    schema = StructType([StructField("number", LongType(), False)])
    block = encode_block(schema, [{"number": 7}])
    expected = (
        # BlockInfo: field 1, is_overflows=0; field 2, bucket_num=-1; end.
        varint(1) + b"\x00" + varint(2) + struct.pack("<i", -1) + varint(0)
        + varint(1)  # n_columns
        + varint(1)  # n_rows
        + write_varint_str("number")
        + write_varint_str("UInt64")
        + (7).to_bytes(8, "little")
    )
    assert block == expected


def test_block_roundtrip_all_types():
    rows = _rows(
        (1, "alice", [1, 2, 3], True),
        (2, None, [], False),
        (3, "bob", None, None),  # NULL array -> [], NULL bool -> Nullable
    )
    block = encode_block(SCHEMA, rows, order_by=["number"])
    cols, data = read_block(io.BytesIO(block))
    assert cols == [
        ("number", "UInt64"),
        ("miner", "Nullable(String)"),
        ("flags", "Array(UInt64)"),
        ("ok", "Nullable(Boolean)"),
    ]
    assert data[0] == [1, 2, 3]
    assert data[1] == [b"alice", None, b"bob"]
    assert data[2] == [[1, 2, 3], [], []]
    assert data[3] == [True, False, None]


def test_block_rejects_null_in_key_column():
    with pytest.raises(ValueError, match="non-nullable"):
        encode_block(SCHEMA, [{"number": None, "miner": None, "flags": [], "ok": None}],
                     order_by=["number"])


def test_array_offsets_are_cumulative():
    schema = StructType([StructField("flags", ArrayType(LongType()), True)])
    block = encode_block(schema, [{"flags": [10, 20]}, {"flags": [30]}])
    f = io.BytesIO(block)
    cols, data = read_block(f)
    assert data[0] == [[10, 20], [30]]
    # offsets live right after the header: find them by re-encoding
    idx = block.find(b"Array(UInt64)") + len(b"Array(UInt64)")
    offs = block[idx : idx + 16]
    assert offs == (2).to_bytes(8, "little") + (3).to_bytes(8, "little")


def test_varint_boundaries():
    assert varint(0) == b"\x00"
    assert varint(127) == b"\x7f"
    assert varint(128) == b"\x80\x01"
    assert varint(300) == b"\xac\x02"
    assert varint(1 << 21) == b"\x80\x80\x80\x01"


def test_block_roundtrip_all_four_tables(spark):
    """Every row and column of the fixture pipeline's four tables survives
    encode_block -> read_block (u256 decimals, fixed widths, arrays,
    era-dependent NULLs), under the column types the DDL provisions."""
    from decimal import Decimal

    from chainhouse_spark.queries.ethereum import _tables
    from chainhouse_spark.schemas import DEDUP_KEYS, TABLES
    from chainhouse_spark.sinks.clickhouse import table_ddl

    checked = nulls = null_arrays = 0
    for name, df in _tables(spark).items():
        rows = [r.asDict() for r in df.collect()]
        if any(isinstance(v, list) for v in rows[0].values()):
            # The fixture has no NULL arrays: add a row with every array
            # column NULL, which goes on the wire as [].
            rows.append({k: None if isinstance(v, list) else v for k, v in rows[0].items()})
        block = encode_block(TABLES[name], rows, order_by=DEDUP_KEYS[name])
        cols, data = read_block(io.BytesIO(block))
        ddl_cols = [
            line.strip().rstrip(",")
            for line in table_ddl(name).splitlines()
            if line.startswith("    `")
        ]
        assert [f"`{c}` {t}" for c, t in cols] == ddl_cols, name
        for i, row in enumerate(rows):
            for (col, ch), values in zip(cols, data):
                v, got = row[col], values[i]
                if v is None and ch.startswith("Array("):
                    assert got == [], (name, col)  # Array NULL -> [] on the wire
                    null_arrays += 1
                elif v is None:
                    assert got is None, (name, col)
                    nulls += 1
                elif isinstance(v, Decimal):
                    assert Decimal(got) == v, (name, col)
                elif isinstance(v, str):
                    assert got == v.encode(), (name, col)
                elif isinstance(v, list):
                    assert got == [
                        bytes(x) if isinstance(x, bytearray) else x for x in v
                    ], (name, col)
                else:
                    assert got == (bytes(v) if isinstance(v, bytearray) else v), (name, col)
                checked += 1
    assert checked > 1000 and nulls > 0 and null_arrays == 2


def test_fake_server_ddl_and_insert():
    srv = FakeServer()
    client = NativeTCPClient("127.0.0.1", srv.port, database="ethereum")
    assert client.revision == min(CLIENT_REVISION, 54460) == CLIENT_REVISION
    client.execute("CREATE DATABASE IF NOT EXISTS ethereum")
    rows = _rows((1, "alice", [1], True), (2, None, [2, 3], False))
    client.insert("blocks", SCHEMA, rows, order_by=["number"])
    client.close()
    srv.close()
    assert srv.errors == []
    assert srv.queries[0].startswith("CREATE DATABASE")
    assert srv.queries[1] == (
        "INSERT INTO ethereum.blocks (`number`, `miner`, `flags`, `ok`) VALUES"
    )
    assert len(srv.received_blocks) == 1
    query, cols, data = srv.received_blocks[0]
    assert query == srv.queries[1]
    assert [c for c, _ in cols] == ["number", "miner", "flags", "ok"]
    assert data[0] == [1, 2]
    assert data[1] == [b"alice", None]
    assert data[2] == [[1], [2, 3]]


def test_fake_server_negotiates_down_old_server():
    """An old server (rev 54058: no display name/patch in hello) must still
    handshake — the client reads hello fields gated on min(client, server)."""
    srv = FakeServer(revision=54058)
    client = NativeTCPClient("127.0.0.1", srv.port)
    assert client.revision == 54058
    client.execute("SELECT 1")  # scripted server just EndOfStreams it
    client.close()
    srv.close()
    assert srv.errors == []


def test_chain_table_block_u256_and_fixedstring():
    """The four chain tables' trickiest columns survive a block round-trip:
    UInt256 (32-byte LE from Decimal) and FixedString(32) hashes."""
    from decimal import Decimal

    from chainhouse_spark.schemas import TABLES

    from chainhouse_spark.schemas import DEDUP_KEYS

    schema = TABLES["transactions"]
    row = {f.name: None for f in schema.fields}
    row.update(
        {
            "hash": b"\x22" * 32,  # dedup key: non-nullable on the wire
            "blockHash": b"\x11" * 32,
            "blockNumber": 17_000_000,
            "transactionIndex": 0,
            "value": Decimal(2**255 - 1),
            "gas": 21000,
            "from": b"\x33" * 20,
        }
    )
    block = encode_block(schema, [row], order_by=DEDUP_KEYS["transactions"])
    cols, data = read_block(io.BytesIO(block))
    by_name = {c[0]: (c[1], d) for c, d in zip(cols, data)}
    assert by_name["hash"][0] == "FixedString(32)"
    assert by_name["hash"][1][0] == b"\x22" * 32
    assert by_name["value"][0] in ("UInt256", "Nullable(UInt256)")
    assert by_name["value"][1][0] == 2**255 - 1
    assert by_name["from"][1][0] == b"\x33" * 20


def test_spark_write_native_tcp(spark):
    """End-to-end executor path: a 3-partition DataFrame streams columnar
    blocks into the fake server over per-partition connections."""
    srv = FakeServer()
    df = (
        spark.range(0, 97)
        .selectExpr(
            "id AS number",
            "CAST(concat('m', id % 5) AS STRING) AS miner",
            "array(id, id + 1) AS flags",
            "id % 2 = 0 AS ok",
        )
        .repartition(3)
    )
    write_native_tcp(df, "blocks", f"127.0.0.1:{srv.port}", batch_size=40)
    srv.close()
    assert srv.errors == []
    got = sorted(
        n for _, _, data in srv.received_blocks for n in data[0]
    )  # column 0 = number
    assert got == list(range(97))
    # every INSERT named the columns explicitly against ethereum.blocks
    inserts = [q for q in srv.queries if q.startswith("INSERT")]
    assert all("ethereum.blocks (`number`, `miner`, `flags`, `ok`)" in q for q in inserts)


class _LocalFrame:
    """DataFrame stand-in whose one partition runs in this process, so a
    connection the sink leaves open stays open while the test holds the
    raised exception (and with it the partition's frames)."""

    def __init__(self, schema, rows):
        self.schema = schema
        self.rows = rows
        self.partitions_run = 0

    def foreachPartition(self, f):
        self.partitions_run += 1
        f(iter(self.rows))


@pytest.mark.parametrize(
    "endpoint", ["http://h:8123", "h:", "h:x", ":9000", "h:65536", "h:9000/db"]
)
def test_write_native_tcp_rejects_malformed_endpoint_on_driver(endpoint):
    df = _LocalFrame(SCHEMA, _rows((1, "a", [1], True)))
    with pytest.raises(ValueError, match=f"endpoint {endpoint!r}"):
        write_native_tcp(df, "blocks", endpoint)
    assert df.partitions_run == 0


def test_parse_endpoint_defaults_to_native_port():
    assert parse_endpoint("127.0.0.1") == ("127.0.0.1", 9000)
    assert parse_endpoint("ch.local:19000") == ("ch.local", 19000)


def test_write_native_tcp_closes_connection_when_insert_fails():
    srv = FakeServer(fail_queries=True)
    df = _LocalFrame(SCHEMA, _rows((1, "a", [1], True), (2, None, [], False)))
    try:
        with pytest.raises(ClickHouseError) as err:
            write_native_tcp(df, "blocks", f"127.0.0.1:{srv.port}")
        assert "Table does not exist" in str(err.value)
        # `err` keeps the failed partition's frames alive, so a connection
        # left to garbage collection would still be open here.
        assert len(srv.connections) == 1
        assert all(eof.wait(10) for eof in srv.connections)
    finally:
        srv.close()
    assert srv.errors == []


@pytest.mark.skipif(
    "CHAINHOUSE_CLICKHOUSE_TCP" not in os.environ,
    reason="live ClickHouse smoke: set CHAINHOUSE_CLICKHOUSE_TCP=host:port",
)
def test_live_server_smoke():
    endpoint = os.environ["CHAINHOUSE_CLICKHOUSE_TCP"]
    client = NativeTCPClient(*parse_endpoint(endpoint))
    try:
        assert client.execute("SELECT 1") == [[1]]
    finally:
        client.close()


def test_exception_packet_raises():
    """A server Exception packet must surface as ClickHouseError."""
    srv = FakeServer(fail_queries=True)
    client = NativeTCPClient("127.0.0.1", srv.port)
    with pytest.raises(ClickHouseError, match="does not exist"):
        client.execute("SELECT * FROM ethereum.nope")
    client.close()
    srv.close()


# ---------------------------------------------------------------------------
# read path (sources/clickhouse_read.py)


def test_client_select_header_and_rows():
    """select() returns column metadata from the header block plus all data
    rows, concatenated across blocks."""

    def handler(q):
        if "LIMIT 0" in q:
            return SCHEMA, []
        return SCHEMA, _rows(
            (7, b"\xaa", [1, 2], True), (8, None, [], False)
        )

    srv = FakeServer(select_handler=handler)
    try:
        cli = NativeTCPClient("127.0.0.1", srv.port)
        cols, data = cli.select("SELECT * FROM t")
        cli.close()
    finally:
        srv.close()
    assert srv.errors == []
    assert [n for n, _ in cols] == ["number", "miner", "flags", "ok"]
    assert cols[0][1] == "UInt64" and cols[1][1].startswith("Nullable(")
    assert data[0] == [7, 8]
    assert data[1] == [b"\xaa", None]
    assert data[2] == [[1, 2], []]
    assert data[3] == [True, False]


def test_spark_read_native_tcp_partitioned(spark):
    """read_native_tcp: LIMIT 0 schema probe on the driver, then one
    modulo-slice query per partition on executors; rows and Spark types
    round-trip (UInt64->long, String->binary, Array->array, Bool->bool)."""
    from chainhouse_spark.sources.clickhouse_read import read_native_tcp

    all_rows = _rows(
        (0, b"\x01", [1], True),
        (1, b"\x02", [2, 3], False),
        (2, None, [], True),
        (3, b"\x04", [4], False),
    )

    def handler(q):
        if "LIMIT 0" in q:
            return SCHEMA, []
        # emulate the WHERE ((number % 2) + 2) % 2 = i slice
        for pid in (0, 1):
            if f"= {pid}" in q:
                return SCHEMA, [r for r in all_rows if r["number"] % 2 == pid]
        return SCHEMA, all_rows

    srv = FakeServer(select_handler=handler)
    try:
        df = read_native_tcp(
            spark,
            f"127.0.0.1:{srv.port}",
            "SELECT * FROM blocks",
            partition_column="number",
            num_partitions=2,
        )
        got = sorted(df.collect(), key=lambda r: r.number)
    finally:
        srv.close()
    assert srv.errors == []
    assert [r.number for r in got] == [0, 1, 2, 3]
    assert got[0].miner == bytearray(b"\x01") or got[0].miner == b"\x01"
    assert got[2].miner is None
    assert list(got[1].flags) == [2, 3]
    assert got[3].ok is False
    # both slice queries actually hit the server
    slice_queries = [q for q in srv.queries if "WHERE" in q]
    assert len(slice_queries) == 2
    # driver probe used LIMIT 0
    assert any("LIMIT 0" in q for q in srv.queries)


def test_read_native_tcp_uint64_overflow_raises():
    """A UInt64 above 2^63-1 must fail loudly, not wrap into a negative."""
    from chainhouse_spark.sources.clickhouse_read import _convert

    import pytest as _pytest

    with _pytest.raises(OverflowError):
        _convert("UInt64", 1 << 63)
    assert _convert("UInt64", (1 << 63) - 1) == (1 << 63) - 1
    from decimal import Decimal

    assert _convert("UInt256", 10**38 - 1) == Decimal(10**38 - 1)
