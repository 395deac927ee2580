"""ClickHouse → DataFrame over the native TCP protocol (the read half of
`sinks/native_tcp.py` — together they close the round trip the reference
leaves to ClickHouse itself, `src/main.rs:46` connects :9000 native).

Shape mirrors Spark's JDBC partitioned read: a driver-side LIMIT 0 probe
fetches the result schema from the server's header block (metadata only —
no data rows ever reach the driver), then each Spark partition opens its
own connection and fetches one slice, `WHERE pmod(<col>, n) = i` — so the
fetch parallelism is the usual executor parallelism and the rows land
directly on the executors that will process them.

Type mapping (inverse of the sink's encoder, documented caveats inline):

    UInt64/Int64    -> LongType     (UInt64 above 2^63-1 raises — chain
                                     heights/gas fit; full-range needs the
                                     UInt256/Decimal path)
    UInt32/Int32    -> LongType
    Float64/Float32 -> DoubleType
    UInt256         -> DecimalType(38,0)  (full 256-bit range exceeds any
                                     SQL decimal; chain-value magnitudes
                                     fit 38 digits — same trade as
                                     schemas.py documents for the ETL)
    UInt8/Bool      -> BooleanType
    String/FixedString -> BinaryType (ClickHouse String is bytes; chain
                                     payloads are not UTF-8. `.cast` or
                                     functions/bytes.py for hex views.)
    Array(T) / Nullable(T) -> ArrayType / nullable field
"""

from __future__ import annotations

from decimal import Decimal
from typing import Any, Iterator

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DecimalType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from chainhouse_spark.sinks.native_tcp import NativeTCPClient, parse_endpoint

_U63 = 1 << 63


def _spark_type(ch_type: str) -> tuple[DataType, bool]:
    """(spark type, nullable) for a ClickHouse type string."""
    if ch_type.startswith("Nullable("):
        inner, _ = _spark_type(ch_type[len("Nullable(") : -1])
        return inner, True
    if ch_type.startswith("Array("):
        inner, inner_null = _spark_type(ch_type[len("Array(") : -1])
        return ArrayType(inner, containsNull=inner_null), False
    if ch_type in ("UInt64", "Int64", "UInt32", "Int32"):
        return LongType(), False
    if ch_type in ("Float64", "Float32"):
        return DoubleType(), False
    if ch_type == "UInt256":
        return DecimalType(38, 0), False
    if ch_type in ("UInt8", "Boolean", "Bool"):
        return BooleanType(), False
    if ch_type == "String" or ch_type.startswith("FixedString("):
        return BinaryType(), False
    raise ValueError(f"no Spark mapping for ClickHouse type {ch_type}")


def schema_from_ch(cols: list[tuple[str, str]]) -> StructType:
    fields = []
    for name, ch in cols:
        dtype, nullable = _spark_type(ch)
        fields.append(StructField(name, dtype, nullable))
    return StructType(fields)


def _convert(ch_type: str, v: Any) -> Any:
    """Wire value -> Spark row value for one cell."""
    if v is None:
        return None
    if ch_type.startswith("Nullable("):
        return _convert(ch_type[len("Nullable(") : -1], v)
    if ch_type.startswith("Array("):
        inner = ch_type[len("Array(") : -1]
        return [_convert(inner, x) for x in v]
    if ch_type == "UInt64":
        if v >= _U63:
            raise OverflowError(
                f"UInt64 value {v} exceeds LongType; read it as UInt256/"
                "Decimal or pre-cast in the ClickHouse query"
            )
        return v
    if ch_type == "UInt256":
        return Decimal(v)
    if ch_type in ("Float64", "Float32"):
        return float(v)
    if ch_type == "String" or ch_type.startswith("FixedString("):
        return bytes(v)
    return v


def read_native_tcp(
    spark: SparkSession,
    endpoint: str,
    query: str,
    database: str = "default",
    partition_column: str | None = None,
    num_partitions: int = 1,
    user: str = "default",
    password: str = "",
    timeout: float = 60.0,
) -> DataFrame:
    """Distributed SELECT over the native protocol.

    `query` is any SELECT; with `partition_column` (an integer column of
    the result) each of `num_partitions` Spark tasks fetches the
    `pmod(col, n) = i` slice on its own connection. Modulo slicing needs no
    min/max pre-query and never produces empty edge ranges on skewed id
    spaces; it does mean each slice is a full server-side scan of the
    subquery — for ClickHouse-side pruning, pass a range-bounded query per
    the usual JDBC practice.
    """
    host, port = parse_endpoint(endpoint)

    probe = NativeTCPClient(
        host, port, database=database, user=user, password=password, timeout=timeout
    )
    try:
        cols, _ = probe.select(f"SELECT * FROM ({query}) LIMIT 0")
    finally:
        probe.close()
    if not cols:
        raise ValueError("schema probe returned no header block")
    schema = schema_from_ch(cols)
    ch_types = [ch for _, ch in cols]
    names = [n for n, _ in cols]

    n_parts = max(1, num_partitions)
    if n_parts > 1 and partition_column is None:
        raise ValueError("num_partitions > 1 requires partition_column")

    def fetch(it: Iterator[Row]) -> Iterator[Row]:
        for r in it:
            pid = r.id
            if partition_column is not None and n_parts > 1:
                q = (
                    f"SELECT * FROM ({query}) WHERE "
                    f"(({partition_column} % {n_parts}) + {n_parts}) % {n_parts}"
                    f" = {pid}"
                )
            else:
                q = query
            client = NativeTCPClient(
                host,
                port,
                database=database,
                user=user,
                password=password,
                timeout=timeout,
            )
            try:
                _, data = client.select(q)
            finally:
                client.close()
            if not data:
                continue
            for row_vals in zip(*data):
                yield Row(
                    **{
                        n: _convert(t, v)
                        for n, t, v in zip(names, ch_types, row_vals)
                    }
                )

    seed = spark.range(n_parts).repartition(n_parts, "id")
    return spark.createDataFrame(seed.rdd.mapPartitions(fetch), schema)
