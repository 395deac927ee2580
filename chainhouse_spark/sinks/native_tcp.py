"""ClickHouse native TCP protocol (port 9000) — hello/query/data framing and
columnar Native-format blocks, stdlib-socket only. This is the project's
one ClickHouse load path.

The reference connects to `127.0.0.1:9000` over the native protocol
(src/main.rs:46) and bulk-inserts `FORMAT native` column blocks
(src/main.rs:294-309); this module is a from-scratch implementation of
that documented wire protocol:

  client  Hello(0) -> server Hello(0)         version/revision negotiation
  client  Query(1) + empty Data(2) block      (external-tables terminator)
  server  [TableColumns(11)] Data(1)          sample block = table structure
  client  Data(2) x N + empty Data(2)         columnar Native blocks
  server  Progress(3)/ProfileInfo(6)/Log(10) ... EndOfStream(5)

Revision: the client advertises 54429 ("settings serialized as strings") and
speaks min(client, server). 54429 is deliberately below 54454 (per-column
custom-serialization byte) and 54458 (post-hello addendum), so the block
format stays the classic documented one: BlockInfo, n_cols, n_rows, then
per column name + type + raw columnar data. Compression is negotiated OFF.

Native columnar encodings (per-column, whole column consecutively):
  UInt64            8 bytes LE per row          UInt256   32 bytes LE per row
  UInt8/Boolean     1 byte per row              String    varint len + bytes
  FixedString(N)    N raw bytes per row
  Array(T)          cumulative element offsets as UInt64 LE, then flattened T
  Nullable(T)       null-mask byte per row, then T column (defaults at NULL)

Tests pin golden packet bytes and round-trip blocks through a scripted
fake server (tests/test_native_tcp.py); a live-server smoke is env-gated
behind CHAINHOUSE_CLICKHOUSE_TCP. Executor-side dataflow: `foreachPartition`,
`batch_size`-row blocks, at-least-once retries made idempotent by the
ReplacingMergeTree keys (K8).
"""

from __future__ import annotations

import re
import socket
import struct
from typing import Any, BinaryIO, Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from chainhouse_spark.schemas import DEDUP_KEYS, TABLES
from chainhouse_spark.sinks.clickhouse import all_ddl, column_type

CLIENT_NAME = "chainhouse-spark"
CLIENT_VERSION = (1, 0, 0)
CLIENT_REVISION = 54429

# Client packet ids.
CLIENT_HELLO, CLIENT_QUERY, CLIENT_DATA = 0, 1, 2
# Server packet ids.
SERVER_HELLO = 0
SERVER_DATA = 1
SERVER_EXCEPTION = 2
SERVER_PROGRESS = 3
SERVER_PONG = 4
SERVER_END_OF_STREAM = 5
SERVER_PROFILE_INFO = 6
SERVER_TOTALS = 7
SERVER_EXTREMES = 8
SERVER_TABLE_COLUMNS = 11
SERVER_LOG = 10

# Revision gates (names as in the protocol docs).
REV_CLIENT_INFO = 54032          # Query carries ClientInfo
REV_QUOTA_KEY = 54060            # ClientInfo carries quota key
REV_SERVER_TIMEZONE = 54058      # server Hello carries timezone
REV_SERVER_DISPLAY_NAME = 54372  # server Hello carries display name
REV_VERSION_PATCH = 54401        # Hello/ClientInfo carry patch version
REV_CLIENT_WRITE_INFO = 54372    # Progress carries written rows/bytes
REV_TOTAL_ROWS_IN_PROGRESS = 51554

QUERY_STAGE_COMPLETE = 2
COMPRESSION_DISABLED = 0


class ClickHouseError(RuntimeError):
    """Server-side exception relayed over the wire."""


# ---------------------------------------------------------------------------
# primitive read/write


def varint(n: int) -> bytes:
    """Unsigned LEB128 (the protocol's length and packet-id prefix)."""
    if n < 0:
        raise ValueError(f"varint of negative {n}")
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def write_varint_str(s: str | bytes) -> bytes:
    raw = s if isinstance(s, (bytes, bytearray)) else s.encode()
    return varint(len(raw)) + bytes(raw)


def read_varint(f: BinaryIO) -> int:
    shift, out = 0, 0
    while True:
        b = f.read(1)
        if not b:
            raise ConnectionError("socket closed mid-varint")
        out |= (b[0] & 0x7F) << shift
        if not b[0] & 0x80:
            return out
        shift += 7


def read_str(f: BinaryIO) -> bytes:
    n = read_varint(f)
    raw = f.read(n)
    if len(raw) != n:
        raise ConnectionError("socket closed mid-string")
    return raw


def _read_exact(f: BinaryIO, n: int) -> bytes:
    raw = f.read(n)
    if len(raw) != n:
        raise ConnectionError("socket closed mid-field")
    return raw


# ---------------------------------------------------------------------------
# columnar Native encodings


def _col_u64(vals: list[Any]) -> bytes:
    return b"".join(int(v).to_bytes(8, "little") for v in vals)


def _col_u256(vals: list[Any]) -> bytes:
    out = bytearray()
    for v in vals:
        i = int(v)
        if i < 0 or i >= 1 << 256:
            raise ValueError(f"u256 out of range: {i}")
        out += i.to_bytes(32, "little")
    return bytes(out)


def _col_bool(vals: list[Any]) -> bytes:
    return bytes(1 if v else 0 for v in vals)


def _col_string(vals: list[Any]) -> bytes:
    out = bytearray()
    for v in vals:
        raw = v if isinstance(v, (bytes, bytearray)) else str(v).encode()
        out += varint(len(raw)) + bytes(raw)
    return bytes(out)


def _col_fixed(width: int) -> Callable[[list[Any]], bytes]:
    def enc(vals: list[Any]) -> bytes:
        out = bytearray()
        for v in vals:
            raw = bytes(v)
            if len(raw) != width:
                raise ValueError(f"FixedString({width}) got {len(raw)} bytes")
            out += raw
        return bytes(out)

    return enc


# Scalar ClickHouse type -> (whole-column encoder, value written under a
# NULL-mask 1).
_SCALAR_ENCODERS: dict[str, tuple[Callable[[list[Any]], bytes], Any]] = {
    "UInt64": (_col_u64, 0),
    "UInt256": (_col_u256, 0),
    "Boolean": (_col_bool, False),
    "String": (_col_string, b""),
}


def _column_encoder(ch: str) -> tuple[Callable[[list[Any]], bytes], Any]:
    """(whole-column encoder, NULL default) for a ClickHouse type string.
    Types come from sinks/clickhouse.column_type, so the DDL and the Native
    blocks agree on every column."""
    if ch.startswith("Nullable("):
        inner, null_default = _column_encoder(ch[len("Nullable(") : -1])

        def enc_nullable(vals: list[Any]) -> bytes:
            mask = bytes(1 if v is None else 0 for v in vals)
            return mask + inner([null_default if v is None else v for v in vals])

        return enc_nullable, None
    if ch.startswith("Array("):
        elem_enc, _ = _column_encoder(ch[len("Array(") : -1])

        def enc_array(vals: list[Any]) -> bytes:
            offsets = bytearray()
            flat: list[Any] = []
            total = 0
            for v in vals:
                items = list(v) if v is not None else []
                total += len(items)
                offsets += total.to_bytes(8, "little")
                flat.extend(items)
            return bytes(offsets) + elem_enc(flat)

        return enc_array, []
    if ch.startswith("FixedString("):
        width = int(ch[len("FixedString(") : -1])
        return _col_fixed(width), b"\x00" * width
    return _SCALAR_ENCODERS[ch]


def encode_block(
    schema: StructType, rows: list[Any], order_by: list[str] | None = None
) -> bytes:
    """One Native block: BlockInfo + n_cols + n_rows + per-column
    name/type/data, each column typed as the DDL provisions it."""
    order_by = order_by or []
    out = bytearray()
    # BlockInfo: field 1 = is_overflows (u8), field 2 = bucket_num (i32),
    # field 0 terminates.
    out += varint(1) + b"\x00" + varint(2) + struct.pack("<i", -1) + varint(0)
    out += varint(len(schema.fields)) + varint(len(rows))
    for field in schema.fields:
        ch = column_type(field, order_by)
        vals = [row[field.name] for row in rows]
        if not ch.startswith(("Nullable(", "Array(")) and any(v is None for v in vals):
            raise ValueError(f"NULL in non-nullable column {field.name}")
        enc, _ = _column_encoder(ch)
        out += write_varint_str(field.name) + write_varint_str(ch) + enc(vals)
    return bytes(out)


# ---------------------------------------------------------------------------
# block reader (sample blocks, server logs, and the test harness)


def _col_reader(ch_type: str, f: BinaryIO, n_rows: int) -> list[Any]:
    if ch_type.startswith("Nullable("):
        inner = ch_type[len("Nullable(") : -1]
        mask = _read_exact(f, n_rows)
        vals = _col_reader(inner, f, n_rows)
        return [None if m else v for m, v in zip(mask, vals)]
    if ch_type.startswith("Array("):
        inner = ch_type[len("Array(") : -1]
        offsets = [
            int.from_bytes(_read_exact(f, 8), "little") for _ in range(n_rows)
        ]
        flat = _col_reader(inner, f, offsets[-1] if offsets else 0)
        out, prev = [], 0
        for off in offsets:
            out.append(flat[prev:off])
            prev = off
        return out
    if ch_type == "UInt64":
        return [int.from_bytes(_read_exact(f, 8), "little") for _ in range(n_rows)]
    if ch_type == "Int64":
        return [
            int.from_bytes(_read_exact(f, 8), "little", signed=True)
            for _ in range(n_rows)
        ]
    if ch_type == "UInt32":
        return [int.from_bytes(_read_exact(f, 4), "little") for _ in range(n_rows)]
    if ch_type == "Int32":
        return [
            int.from_bytes(_read_exact(f, 4), "little", signed=True)
            for _ in range(n_rows)
        ]
    if ch_type == "Float64":
        return list(struct.unpack(f"<{n_rows}d", _read_exact(f, 8 * n_rows)))
    if ch_type == "Float32":
        return list(struct.unpack(f"<{n_rows}f", _read_exact(f, 4 * n_rows)))
    if ch_type == "UInt256":
        return [int.from_bytes(_read_exact(f, 32), "little") for _ in range(n_rows)]
    if ch_type in ("UInt8", "Boolean", "Bool"):
        return [b != 0 for b in _read_exact(f, n_rows)]
    if ch_type == "String":
        return [read_str(f) for _ in range(n_rows)]
    if ch_type.startswith("FixedString("):
        width = int(ch_type[len("FixedString(") : -1])
        return [_read_exact(f, width) for _ in range(n_rows)]
    raise ValueError(f"no Native reader for type {ch_type}")


def read_block(f: BinaryIO) -> tuple[list[tuple[str, str]], list[list[Any]]]:
    """Parse one Native block -> ([(col_name, ch_type)...], [column values...])."""
    while True:  # BlockInfo fields until 0 terminator
        field_id = read_varint(f)
        if field_id == 0:
            break
        if field_id == 1:
            _read_exact(f, 1)  # is_overflows
        elif field_id == 2:
            _read_exact(f, 4)  # bucket_num
        else:
            raise ValueError(f"unknown BlockInfo field {field_id}")
    n_cols = read_varint(f)
    n_rows = read_varint(f)
    cols: list[tuple[str, str]] = []
    data: list[list[Any]] = []
    for _ in range(n_cols):
        name = read_str(f).decode()
        ch = read_str(f).decode()
        cols.append((name, ch))
        data.append(_col_reader(ch, f, n_rows))
    return cols, data


# ---------------------------------------------------------------------------
# connection


class NativeTCPClient:
    """One native-protocol connection: hello handshake, DDL execution, and
    columnar INSERT. Single-threaded, uncompressed, revision-negotiated."""

    def __init__(
        self,
        host: str,
        port: int = 9000,
        database: str = "default",
        user: str = "default",
        password: str = "",
        timeout: float = 30.0,
    ) -> None:
        self.database = database
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._f = self._sock.makefile("rwb")
        self.server_revision = 0
        self._hello(user, password)
        self.revision = min(CLIENT_REVISION, self.server_revision)

    # -- handshake ---------------------------------------------------------

    def _hello(self, user: str, password: str) -> None:
        buf = bytearray(varint(CLIENT_HELLO))
        buf += write_varint_str(CLIENT_NAME)
        buf += varint(CLIENT_VERSION[0]) + varint(CLIENT_VERSION[1])
        buf += varint(CLIENT_REVISION)
        buf += write_varint_str(self.database)
        buf += write_varint_str(user)
        buf += write_varint_str(password)
        self._f.write(buf)
        self._f.flush()

        packet = read_varint(self._f)
        if packet == SERVER_EXCEPTION:
            raise self._read_exception()
        if packet != SERVER_HELLO:
            raise ConnectionError(f"expected server Hello, got packet {packet}")
        read_str(self._f)  # server name
        read_varint(self._f)  # version major
        read_varint(self._f)  # version minor
        self.server_revision = read_varint(self._f)
        rev = min(CLIENT_REVISION, self.server_revision)
        if rev >= REV_SERVER_TIMEZONE:
            read_str(self._f)
        if rev >= REV_SERVER_DISPLAY_NAME:
            read_str(self._f)
        if rev >= REV_VERSION_PATCH:
            read_varint(self._f)

    # -- packets -----------------------------------------------------------

    def _client_info(self) -> bytes:
        buf = bytearray(b"\x01")  # query kind: initial query
        buf += write_varint_str("")  # initial user
        buf += write_varint_str("")  # initial query id
        buf += write_varint_str("0.0.0.0:0")  # initial address
        buf += b"\x01"  # interface: TCP
        buf += write_varint_str("")  # os user
        buf += write_varint_str(socket.gethostname())
        buf += write_varint_str(CLIENT_NAME)
        buf += varint(CLIENT_VERSION[0]) + varint(CLIENT_VERSION[1])
        buf += varint(self.revision)
        if self.revision >= REV_QUOTA_KEY:
            buf += write_varint_str("")
        if self.revision >= REV_VERSION_PATCH:
            buf += varint(CLIENT_VERSION[2])
        return bytes(buf)

    def _send_query(self, query: str, query_id: str = "") -> None:
        buf = bytearray(varint(CLIENT_QUERY))
        buf += write_varint_str(query_id)
        if self.revision >= REV_CLIENT_INFO:
            buf += self._client_info()
        buf += write_varint_str("")  # settings terminator (strings form)
        buf += varint(QUERY_STAGE_COMPLETE)
        buf += varint(COMPRESSION_DISABLED)
        buf += write_varint_str(query)
        self._f.write(buf)
        # External-tables terminator: one empty block.
        self._send_block(StructType([]), [])
        self._f.flush()

    def _send_block(
        self,
        schema: StructType,
        rows: list[Any],
        order_by: list[str] | None = None,
        table_name: str = "",
    ) -> None:
        self._f.write(varint(CLIENT_DATA))
        self._f.write(write_varint_str(table_name))
        self._f.write(encode_block(schema, rows, order_by))

    def _read_exception(self) -> ClickHouseError:
        code = struct.unpack("<i", _read_exact(self._f, 4))[0]
        name = read_str(self._f).decode()
        message = read_str(self._f).decode()
        read_str(self._f)  # stack trace
        has_nested = _read_exact(self._f, 1)[0]
        if has_nested:
            nested = self._read_exception()
            return ClickHouseError(f"{name} ({code}): {message}; caused by {nested}")
        return ClickHouseError(f"{name} ({code}): {message}")

    def _read_progress(self) -> None:
        read_varint(self._f)  # read rows
        read_varint(self._f)  # read bytes
        if self.revision >= REV_TOTAL_ROWS_IN_PROGRESS:
            read_varint(self._f)
        if self.revision >= REV_CLIENT_WRITE_INFO:
            read_varint(self._f)  # written rows
            read_varint(self._f)  # written bytes

    def _read_profile_info(self) -> None:
        read_varint(self._f)  # rows
        read_varint(self._f)  # blocks
        read_varint(self._f)  # bytes
        _read_exact(self._f, 1)  # applied limit
        read_varint(self._f)  # rows before limit
        _read_exact(self._f, 1)  # calculated rows before limit

    def _next_packet(self) -> tuple[int, Any]:
        packet = read_varint(self._f)
        if packet == SERVER_EXCEPTION:
            raise self._read_exception()
        if packet in (SERVER_DATA, SERVER_TOTALS, SERVER_EXTREMES, SERVER_LOG):
            read_str(self._f)  # external table name
            return packet, read_block(self._f)
        if packet == SERVER_PROGRESS:
            self._read_progress()
            return packet, None
        if packet == SERVER_PROFILE_INFO:
            self._read_profile_info()
            return packet, None
        if packet == SERVER_TABLE_COLUMNS:
            read_str(self._f)
            read_str(self._f)
            return packet, None
        if packet in (SERVER_END_OF_STREAM, SERVER_PONG):
            return packet, None
        raise ConnectionError(f"unexpected server packet {packet}")

    # -- public surface ----------------------------------------------------

    def execute(self, query: str) -> list[list[Any]]:
        """Run a statement to completion (DDL, or a small SELECT); returns
        any result columns (concatenated across blocks)."""
        self._send_query(query)
        result: list[list[Any]] = []
        while True:
            packet, payload = self._next_packet()
            if packet == SERVER_END_OF_STREAM:
                return result
            if packet == SERVER_DATA and payload is not None:
                _, data = payload
                if data and data[0]:
                    if not result:
                        result = [[] for _ in data]
                    for i, col in enumerate(data):
                        result[i].extend(col)

    def select(self, query: str) -> tuple[list[tuple[str, str]], list[list[Any]]]:
        """Run a SELECT to completion; returns ([(name, ch_type), ...],
        [column values ...]). The column metadata comes from the server's
        header block (ClickHouse sends the result structure as a 0-row Data
        block before any rows), so a LIMIT 0 query still yields the schema.
        """
        self._send_query(query)
        cols: list[tuple[str, str]] = []
        result: list[list[Any]] = []
        while True:
            packet, payload = self._next_packet()
            if packet == SERVER_END_OF_STREAM:
                return cols, result
            if packet == SERVER_DATA and payload is not None:
                block_cols, data = payload
                if block_cols and not cols:
                    cols = block_cols
                    result = [[] for _ in block_cols]
                if data and data[0]:
                    for i, col in enumerate(data):
                        result[i].extend(col)

    def insert(
        self,
        table: str,
        schema: StructType,
        rows: list[Any],
        order_by: list[str] | None = None,
        batch_size: int = 100_000,
    ) -> None:
        """Columnar INSERT: query, await the server's sample block, stream
        `batch_size`-row Native blocks, terminate with an empty block."""
        cols = ", ".join(f"`{f.name}`" for f in schema.fields)
        self._send_query(
            f"INSERT INTO {self.database}.{table} ({cols}) VALUES"
        )
        while True:  # await sample block (table structure)
            packet, _ = self._next_packet()
            if packet == SERVER_DATA:
                break
        for lo in range(0, len(rows), batch_size):
            self._send_block(schema, rows[lo : lo + batch_size], order_by)
        self._send_block(schema, [], order_by)
        self._f.flush()
        while True:
            packet, _ = self._next_packet()
            if packet == SERVER_END_OF_STREAM:
                return

    def close(self) -> None:
        try:
            self._f.close()
        finally:
            self._sock.close()


# ---------------------------------------------------------------------------
# Spark sink


def parse_endpoint(endpoint: str) -> tuple[str, int]:
    """`host[:port]` of a native-protocol endpoint -> (host, port). The port
    defaults to 9000, as in the reference (src/main.rs:46). Raises
    ValueError naming the endpoint, so callers can check it on the driver
    before any Spark job starts."""
    m = re.fullmatch(r"([^:/\s]+)(?::([0-9]{1,5}))?", endpoint)
    port = int(m[2] or 9000) if m else 0
    if not 0 < port < 65536:
        raise ValueError(
            f"ClickHouse endpoint {endpoint!r} is not host[:port] of the "
            "native TCP interface (e.g. 127.0.0.1:9000)"
        )
    return m[1], port


def write_native_tcp(
    df: DataFrame,
    name: str,
    endpoint: str,
    database: str = "ethereum",
    batch_size: int = 100_000,
    user: str = "default",
    password: str = "",
    timeout: float = 60.0,
) -> None:
    """Executor-side native-TCP bulk insert: one connection per partition,
    `batch_size`-row columnar blocks (K4 flush batching; partitions are the
    K5 parallelism). At-least-once per block; the ReplacingMergeTree keys
    (K8) make re-runs idempotent — same contract as the reference."""
    schema = df.schema
    keys = DEDUP_KEYS.get(name, [])
    host, port = parse_endpoint(endpoint)

    def send_partition(rows) -> None:
        buf: list[Any] = []
        client: NativeTCPClient | None = None

        def flush() -> None:
            nonlocal client
            if not buf:
                return
            if client is None:
                client = NativeTCPClient(
                    host,
                    port,
                    database=database,
                    user=user,
                    password=password,
                    timeout=timeout,
                )
            client.insert(name, schema, buf, order_by=keys, batch_size=batch_size)
            buf.clear()

        try:
            for row in rows:
                buf.append(row)
                if len(buf) >= batch_size:
                    flush()
            flush()
        finally:
            if client is not None:
                client.close()

    df.foreachPartition(send_partition)


def provision_native_tcp(
    endpoint: str,
    database: str = "ethereum",
    user: str = "default",
    password: str = "",
) -> None:
    """Create the database + four chain tables over native TCP (the
    reference's five provisioning statements, src/main.rs:53-161)."""
    host, port = parse_endpoint(endpoint)
    client = NativeTCPClient(
        host, port, database="default", user=user, password=password
    )
    try:
        for ddl in all_ddl(database):
            client.execute(ddl)
    finally:
        client.close()


__all__ = [
    "ClickHouseError",
    "NativeTCPClient",
    "encode_block",
    "read_block",
    "parse_endpoint",
    "write_native_tcp",
    "provision_native_tcp",
    "TABLES",
]
