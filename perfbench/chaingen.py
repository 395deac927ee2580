"""Seeded warehouse for the `chain_sql` workload, generated with Spark
expressions and laid out by `sinks.parquet.write_all`.

Ingesting a warehouse of this size over RPC would take minutes, so the four
tables are derived directly from (seed, row id) with `sha2`/`xxhash64`:
about 150 transactions per block, 2.3 logs per transaction, topic0 drawn
from a skewed set of event signatures, 16 withdrawals per block. The
workload writes the transactions of one block range twice (an
at-least-once re-ingest), so `FINAL` reads have duplicates to remove.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TX_PER_BLOCK = 150
WITHDRAWALS_PER_BLOCK = 16
N_SIGNATURES = 64


def _bin(seed: int, role: str, key, nbytes: int = 32):
    """`nbytes` (<= 32) deterministic bytes from (seed, role, key), where
    `key` is a SQL expression or a Column."""
    k = F.expr(key) if isinstance(key, str) else key
    h = F.sha2(F.concat_ws(":", F.lit(str(seed)), F.lit(role), k.cast("string")), 256)
    return F.unhex(F.substring(h, 1, 2 * nbytes))


def _u(seed: int, role: str, key: str, mod: int):
    """Deterministic integer in [0, mod) from (seed, role, key)."""
    return F.pmod(F.xxhash64(F.lit(seed), F.lit(role), F.expr(key)), F.lit(mod))


def tx_hash_expr(seed: int, tx_id: str = "id"):
    return _bin(seed, "txh", tx_id)


def tx_hash_hex(seed: int, tx_id: int) -> str:
    """`tx_hash_expr` computed in Python, as hex."""
    return hashlib.sha256(f"{seed}:txh:{tx_id}".encode()).hexdigest()


def tables(spark: SparkSession, seed: int, first: int, n_blocks: int) -> dict[str, DataFrame]:
    dec = "DECIMAL(38,0)"
    blocks = spark.range(first, first + n_blocks).select(
        _bin(seed, "bh", "id").alias("hash"),
        F.col("id").alias("number"),
        _bin(seed, "bh", "id - 1").alias("parentHash"),
        F.array().cast("array<binary>").alias("uncles"),
        _bin(seed, "su", "id").alias("sha3Uncles"),
        F.lit("58750003716598352816469").cast(dec).alias("totalDifficulty"),
        _bin(seed, "mi", "id % 97", 20).alias("miner"),
        F.lit(0).cast(dec).alias("difficulty"),
        F.unhex(F.lit("0000000000000000")).alias("nonce"),
        _bin(seed, "mx", "id").alias("mixHash"),
        (F.lit(10**9) + _u(seed, "bf", "id", 10**10)).cast(dec).alias("baseFeePerGas"),
        F.lit(30_000_000).cast(dec).alias("gasLimit"),
        (_u(seed, "gu", "id", 30_000_000)).cast(dec).alias("gasUsed"),
        _bin(seed, "sr", "id").alias("stateRoot"),
        _bin(seed, "tr", "id").alias("transactionsRoot"),
        _bin(seed, "rr", "id").alias("receiptsRoot"),
        F.unhex(F.concat(F.sha2(F.expr("CAST(id AS STRING)"), 256), F.lit("0" * 448))).alias("logsBloom"),
        _bin(seed, "wr", "id").alias("withdrawlsRoot"),
        _bin(seed, "ex", "id", 8).alias("extraData"),
        (F.lit(1_700_000_000) + F.col("id") * 12).cast(dec).alias("timestamp"),
        (F.lit(50_000) + _u(seed, "sz", "id", 100_000)).cast(dec).alias("size"),
    )
    tx_type = F.when(_u(seed, "ty", "id", 10) < 8, F.lit(2)).otherwise(F.lit(0)).cast("long")
    txs = spark.range(0, n_blocks * TX_PER_BLOCK).select(
        "id",
        (F.lit(first) + F.floor(F.col("id") / TX_PER_BLOCK)).cast("long").alias("blockNumber"),
        (F.col("id") % TX_PER_BLOCK).alias("transactionIndex"),
        tx_type.alias("type"),
    )
    transactions = txs.select(
        tx_hash_expr(seed).alias("hash"),
        _bin(seed, "bh", "blockNumber").alias("blockHash"),
        "blockNumber",
        (F.lit(1_700_000_000) + F.col("blockNumber") * 12).cast(dec).alias("blockTimestamp"),
        "transactionIndex",
        F.lit(1).cast(dec).alias("chainId"),
        "type",
        _bin(seed, "fr", "id % 50000", 20).alias("from"),
        _bin(seed, "to", "id % 20000", 20).alias("to"),
        _u(seed, "va", "id", 10**18).cast(dec).alias("value"),
        _u(seed, "no", "id", 100_000).cast(dec).alias("nonce"),
        F.concat(_bin(seed, "sel", "id % 200", 4), _bin(seed, "in", "id")).alias("input"),
        (F.lit(21_000) + _u(seed, "ga", "id", 350_000)).cast(dec).alias("gas"),
        (F.lit(10**9) + _u(seed, "gp", "id", 10**11)).cast(dec).alias("gasPrice"),
        F.when(F.col("type") == 2, (F.lit(2 * 10**9) + _u(seed, "mf", "id", 10**11)).cast(dec)).alias("maxFeePerGas"),
        F.when(F.col("type") == 2, _u(seed, "mp", "id", 10**9).cast(dec)).alias("maxPriorityFeePerGas"),
        _bin(seed, "r", "id").alias("r"),
        _bin(seed, "s", "id").alias("s"),
        _u(seed, "v", "id", 2).alias("v"),
        F.when(F.col("type") == 2, F.lit("[]")).alias("accessList"),
        F.lit(None).cast("binary").alias("contractAddress"),
        (F.lit(21_000) * (F.col("transactionIndex") + 1)).cast(dec).alias("cumulativeGasUsed"),
        (F.lit(10**9) + _u(seed, "eg", "id", 10**10)).cast(dec).alias("effectiveGasPrice"),
        (F.lit(21_000) + _u(seed, "gu", "id", 300_000)).cast(dec).alias("gasUsed"),
        F.unhex(F.concat(F.sha2(F.expr("CAST(id AS STRING)"), 256), F.lit("0" * 448))).alias("logsBloom"),
        F.lit(None).cast("binary").alias("root"),
        F.when(_u(seed, "st", "id", 100) < 97, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("status"),
    )
    # Logs per transaction: 0,0,1,1,2,2,3,4,5,5 (mean 2.3).
    n_logs = F.element_at(F.array(*[F.lit(v) for v in (0, 0, 1, 1, 2, 2, 3, 4, 5, 5)]), (_u(seed, "nl", "id", 10) + 1).cast("int"))
    # topic0: a skewed choice among N_SIGNATURES event signatures.
    sig = F.floor(F.pow(_u(seed, "sg", "id * 8 + j", 10_000) / 10_000.0, 3) * N_SIGNATURES)
    events = (
        txs.select("*", F.explode(F.sequence(F.lit(0), n_logs - 1)).alias("j"))
        .filter(n_logs > 0)
        .select(
            _bin(seed, "la", "id % 5000", 20).alias("address"),
            _bin(seed, "bh", "blockNumber").alias("blockHash"),
            "blockNumber",
            (F.lit(1_700_000_000) + F.col("blockNumber") * 12).cast(dec).alias("blockTimestamp"),
            tx_hash_expr(seed).alias("transactionHash"),
            "transactionIndex",
            (F.col("transactionIndex") * 8 + F.col("j")).cast(dec).alias("logIndex"),
            F.lit(False).alias("removed"),
            F.array(
                _bin(seed, "sig", sig),
                _bin(seed, "t1", "id * 8 + j"),
            ).alias("topics"),
            _bin(seed, "ld", "id * 8 + j").alias("data"),
        )
    )
    withdraws = spark.range(0, n_blocks * WITHDRAWALS_PER_BLOCK).select(
        _bin(seed, "bh", f"{first} + id div {WITHDRAWALS_PER_BLOCK}").alias("blockHash"),
        (F.lit(first) + F.floor(F.col("id") / WITHDRAWALS_PER_BLOCK)).cast("long").alias("blockNumber"),
        (F.lit(1_700_000_000) + (F.lit(first) + F.floor(F.col("id") / WITHDRAWALS_PER_BLOCK)) * 12).cast(dec).alias("blockTimestamp"),
        (F.lit(first * WITHDRAWALS_PER_BLOCK) + F.col("id")).alias("index"),
        _u(seed, "vi", "id", 1_000_000).alias("validatorIndex"),
        _bin(seed, "wa", "id % 3000", 20).alias("address"),
        _u(seed, "wm", "id", 10**10).cast(dec).alias("amount"),
    )
    return {"blocks": blocks, "transactions": transactions, "events": events, "withdraws": withdraws}
