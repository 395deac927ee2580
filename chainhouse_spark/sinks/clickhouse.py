"""ClickHouse DDL derived from the StructTypes (K1/K2) and the
Spark -> ClickHouse type map (`_ch_type`, `column_type`) that the native
TCP sink (sinks/native_tcp.py) also types its column blocks with.

The DDL reproduces the reference's provisioning (src/main.rs:52-161) —
same engines, same ORDER BY keys, same column spellings — but derived from
the single-source-of-truth schemas instead of a second hand-written copy,
and honoring the endpoint argument the reference ignores (it hardcodes
127.0.0.1:9000 at src/main.rs:46 despite accepting --clickhouse at :20-21).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from chainhouse_spark.schemas import DEDUP_KEYS, TABLES

# Reference DDL uses FixedString for known-width binary columns
# (src/main.rs:66-83 etc.); widths are not expressible in a StructType, so
# they are declared once here.
FIXED_WIDTHS: dict[str, int] = {
    "hash": 32, "parentHash": 32, "sha3Uncles": 32, "mixHash": 32,
    "stateRoot": 32, "transactionsRoot": 32, "receiptsRoot": 32,
    "withdrawlsRoot": 32, "blockHash": 32, "transactionHash": 32,
    "r": 32, "s": 32,
    # topics elements are FixedString(32) in the reference DDL
    # (src/main.rs:137); uncles stays Array(String) there (src/main.rs:69).
    "topics": 32,
    "miner": 20, "from": 20, "to": 20, "address": 20, "contractAddress": 20,
    "nonce": 8,  # block nonce; tx nonce is Decimal so never hits this map
}


def _ch_type(name: str, dtype: DataType) -> str:
    if isinstance(dtype, BinaryType):
        if name in FIXED_WIDTHS:
            return f"FixedString({FIXED_WIDTHS[name]})"
        # The reference stores the other byte columns as plain String
        # (logsBloom, extraData, input, data — src/main.rs:82,84,107,138).
        return "String"
    if isinstance(dtype, DecimalType):
        return "UInt256"
    if isinstance(dtype, LongType):
        return "UInt64"
    if isinstance(dtype, BooleanType):
        return "Boolean"
    if isinstance(dtype, StringType):
        return "String"
    if isinstance(dtype, ArrayType):
        return f"Array({_ch_type(name, dtype.elementType)})"
    raise ValueError(f"no ClickHouse mapping for {name}: {dtype}")


def column_type(field: StructField, order_by: list[str]) -> str:
    """ClickHouse type of one provisioned column, as the DDL declares it and
    the native sink sends it: Nullable iff nullable in the schema, not a
    key column (ORDER BY keys stay non-null), and not an Array (ClickHouse
    cannot wrap Array in Nullable; a NULL array is sent as [])."""
    t = _ch_type(field.name, field.dataType)
    nullable = (
        field.nullable and field.name not in order_by and not t.startswith("Array(")
    )
    return f"Nullable({t})" if nullable else t


def table_ddl(
    name: str,
    schema: StructType | None = None,
    database: str = "ethereum",
    order_by: list[str] | None = None,
    engine: str = "ReplacingMergeTree",
) -> str:
    """CREATE TABLE IF NOT EXISTS DDL string for a table (default: one of
    the four ethereum tables with its reference ORDER BY key)."""
    schema = schema if schema is not None else TABLES[name]
    order_by = order_by if order_by is not None else DEDUP_KEYS[name]
    cols_sql = ",\n".join(
        f"    `{f.name}` {column_type(f, order_by)}" for f in schema.fields
    )
    key = ", ".join(f"`{k}`" for k in order_by)
    return (
        f"CREATE TABLE IF NOT EXISTS {database}.{name}\n(\n{cols_sql}\n)\n"
        f"ENGINE = {engine}\nORDER BY ({key})"
    )


def database_ddl(database: str = "ethereum") -> str:
    return f"CREATE DATABASE IF NOT EXISTS {database}"


def all_ddl(database: str = "ethereum") -> list[str]:
    """The reference's five provisioning statements (src/main.rs:53-161)."""
    return [database_ddl(database)] + [table_ddl(n, database=database) for n in TABLES]
