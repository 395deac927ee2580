"""A scripted ClickHouse native-protocol server for tests.

It implements the server half of the documented handshake (Hello /
sample block / Progress / EndOfStream) over a real socket, so the client's
framing, revision negotiation and insert loop run end to end without a
ClickHouse install.
"""

from __future__ import annotations

import socket
import struct
import threading

from pyspark.sql.types import StructType

from chainhouse_spark.sinks.native_tcp import (
    CLIENT_REVISION,
    encode_block,
    read_block,
    read_str,
    read_varint,
    varint,
    write_varint_str,
)


class FakeServer:
    """Scripted server half of the native protocol, enough for hello, DDL,
    small SELECTs and INSERTs. Records everything the client sent: each
    query in arrival order, each inserted block as (INSERT query, columns,
    data), and one Event per accepted connection, set when the client
    closes it."""

    def __init__(
        self, revision: int = 54460, fail_queries: bool = False, select_handler=None
    ):
        self.revision = revision
        self.fail_queries = fail_queries
        # select_handler(query) -> (StructType, rows) | None; when set,
        # non-INSERT queries answer with a header block + one data block.
        self.select_handler = select_handler
        self.received_blocks: list = []
        self.connections: list[threading.Event] = []
        self.queries: list[str] = []
        self.errors: list[str] = []
        self._sock = socket.socket()
        self._sock.bind(("127.0.0.1", 0))
        self._sock.listen(8)
        self.port = self._sock.getsockname()[1]
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def _serve(self) -> None:
        while True:
            try:
                conn, _ = self._sock.accept()
            except OSError:  # listener closed
                return
            eof = threading.Event()
            self.connections.append(eof)
            threading.Thread(
                target=self._serve_conn, args=(conn, eof), daemon=True
            ).start()

    def _serve_conn(self, conn, eof: threading.Event) -> None:
        try:
            f = conn.makefile("rwb")
            self._handshake(f)
            while True:
                try:
                    packet = read_varint(f)
                except (ConnectionError, OSError):
                    eof.set()
                    return
                if packet == 1:  # Query
                    self._handle_query(f)
                else:
                    self.errors.append(f"unexpected client packet {packet}")
                    return
        except Exception as exc:  # surfaced via self.errors in asserts
            self.errors.append(repr(exc))
        finally:
            conn.close()

    def _handshake(self, f) -> None:
        assert read_varint(f) == 0  # client Hello
        read_str(f)  # client name
        read_varint(f)
        read_varint(f)
        client_rev = read_varint(f)
        read_str(f)  # database
        read_str(f)  # user
        read_str(f)  # password
        rev = min(client_rev, self.revision)
        out = bytearray(varint(0))
        out += write_varint_str("FakeHouse")
        out += varint(21) + varint(8)
        out += varint(self.revision)
        if rev >= 54058:
            out += write_varint_str("UTC")
        if rev >= 54372:
            out += write_varint_str("fakehouse")
        if rev >= 54401:
            out += varint(3)
        f.write(out)
        f.flush()

    def _read_client_data_packet(self, f):
        assert read_varint(f) == 2  # client Data
        read_str(f)  # temp table name
        return read_block(f)

    def _handle_query(self, f) -> None:
        read_str(f)  # query id
        # ClientInfo (client speaks min(CLIENT_REVISION, self.revision))
        rev = min(CLIENT_REVISION, self.revision)
        assert f.read(1) == b"\x01"  # query kind
        read_str(f)
        read_str(f)
        read_str(f)  # initial user/query id/address
        assert f.read(1) == b"\x01"  # interface TCP
        read_str(f)
        read_str(f)
        read_str(f)  # os user, hostname, client name
        read_varint(f)
        read_varint(f)
        read_varint(f)  # version, revision
        if rev >= 54060:
            read_str(f)  # quota key
        if rev >= 54401:
            read_varint(f)  # patch
        assert read_str(f) == b""  # settings terminator
        read_varint(f)  # stage
        read_varint(f)  # compression
        query = read_str(f).decode()
        self.queries.append(query)
        self._read_client_data_packet(f)  # external-tables terminator

        if self.fail_queries:
            exc = bytearray(varint(2))
            exc += struct.pack("<i", 60)
            exc += write_varint_str("DB::Exception")
            exc += write_varint_str("Table does not exist")
            exc += write_varint_str("")  # stack trace
            exc += b"\x00"  # no nested exception
            f.write(exc)
            f.flush()
            return

        if query.lstrip().upper().startswith("INSERT"):
            # sample block: empty, echoing no columns (structure not
            # validated by the client beyond "a Data packet arrived")
            out = bytearray(varint(1)) + write_varint_str("")
            out += encode_block(StructType([]), [])
            f.write(out)
            f.flush()
            while True:
                cols, data = self._read_client_data_packet(f)
                n_rows = len(data[0]) if data else 0
                if n_rows == 0:
                    break
                self.received_blocks.append((query, cols, data))
            # Progress + EndOfStream
            prog = bytearray(varint(3))
            rev = min(CLIENT_REVISION, self.revision)
            prog += varint(0) + varint(0)
            if rev >= 51554:
                prog += varint(0)
            if rev >= 54372:
                prog += varint(sum(len(d[0]) for _, _, d in self.received_blocks))
                prog += varint(0)
            f.write(prog)
            f.write(varint(5))
            f.flush()
        else:
            handled = None
            if self.select_handler is not None:
                handled = self.select_handler(query)
            if handled is not None:
                schema, rows = handled
                # header block (0 rows, full structure) then the data block
                for chunk in ([], rows):
                    out = bytearray(varint(1)) + write_varint_str("")
                    out += encode_block(schema, chunk)
                    f.write(out)
            f.write(varint(5))  # EndOfStream
            f.flush()

    def close(self) -> None:
        self._sock.close()
