"""Raw nested blocks -> the four flat tables (the ETL dataflow core).

Spark-first re-expression of the reference's flattening loop
(src/main.rs:176-290), per SURVEY.md §2.3:

- F1/F2  tx flatten + positional tx↔receipt join: `arrays_zip` of the two
         position-aligned arrays inside one raw row, then one `explode` —
         shuffle-free (the reference indexes receipts[transaction_index],
         src/main.rs:210; both arrays live in the same row here, so the
         positional join costs nothing).
- F3     event flatten: second-level explode of receipt.logs
         (src/main.rs:256-274).
- F4     withdrawal flatten: explode of the nullable array
         (src/main.rs:277-290); pre-Shanghai blocks contribute no rows.
- F5/F6  parent attrs (blockHash/Number/Timestamp) and enclosing-tx context
         survive the explode in the same select — no join
         (src/main.rs:214-217, 258-262, 280-282).
- K8     exact dedup on the ReplacingMergeTree keys (src/main.rs:87-157) —
         strictly stronger than the reference's eventual dedup.

Every transform is a narrow projection over one explode: at 100 TB the
whole pipeline is map-only until the final dedup shuffle, which is on
small uniformly-distributed keys (hashes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from chainhouse_spark.schemas import DEDUP_KEYS


def blocks_from_raw(raw: DataFrame, dedup: bool = True) -> DataFrame:
    """21-column block projection (P1, src/main.rs:176-206). The canonical
    `withdrawalsRoot` is renamed to the reference's `withdrawlsRoot`."""
    out = raw.select(
        "hash",
        "number",
        "parentHash",
        "uncles",
        "sha3Uncles",
        "totalDifficulty",
        "miner",
        "difficulty",
        "nonce",
        "mixHash",
        "baseFeePerGas",
        "gasLimit",
        "gasUsed",
        "stateRoot",
        "transactionsRoot",
        "receiptsRoot",
        "logsBloom",
        F.col("withdrawalsRoot").alias("withdrawlsRoot"),
        "extraData",
        "timestamp",
        "size",
    )
    return out.dropDuplicates(DEDUP_KEYS["blocks"]) if dedup else out


def _zipped_tx_receipt(raw: DataFrame) -> DataFrame:
    """F1+F2: position-aligned tx↔receipt pairs with parent block context.

    arrays_zip pairs transactions[i] with receipts[i] inside each raw row —
    the exact semantics of the reference's `receipts[transaction_index]`
    lookup (src/main.rs:210) with zero data movement.
    """
    return raw.select(
        F.col("hash").alias("_blockHash"),
        F.col("number").alias("_blockNumber"),
        F.col("timestamp").alias("_blockTimestamp"),
        F.explode(F.arrays_zip("transactions", "receipts")).alias("tr"),
    ).select(
        "_blockHash",
        "_blockNumber",
        "_blockTimestamp",
        F.col("tr.transactions").alias("tx"),
        F.col("tr.receipts").alias("rc"),
    )


def transactions_from_raw(raw: DataFrame, dedup: bool = True) -> DataFrame:
    """27-column tx⨝receipt rows (src/main.rs:212-254)."""
    zt = _zipped_tx_receipt(raw)
    out = zt.select(
        F.col("tx.hash").alias("hash"),
        F.col("_blockHash").alias("blockHash"),
        F.col("_blockNumber").alias("blockNumber"),
        F.col("_blockTimestamp").alias("blockTimestamp"),
        F.col("tx.transactionIndex").alias("transactionIndex"),
        F.col("tx.chainId").alias("chainId"),
        F.col("tx.type").alias("type"),
        F.col("tx.from").alias("from"),
        F.col("tx.to").alias("to"),
        F.col("tx.value").alias("value"),
        F.col("tx.nonce").alias("nonce"),
        F.col("tx.input").alias("input"),
        F.col("tx.gas").alias("gas"),
        F.col("tx.gasPrice").alias("gasPrice"),
        F.col("tx.maxFeePerGas").alias("maxFeePerGas"),
        F.col("tx.maxPriorityFeePerGas").alias("maxPriorityFeePerGas"),
        F.col("tx.r").alias("r"),
        F.col("tx.s").alias("s"),
        F.col("tx.v").alias("v"),
        F.col("tx.accessList").alias("accessList"),
        F.col("rc.contractAddress").alias("contractAddress"),
        F.col("rc.cumulativeGasUsed").alias("cumulativeGasUsed"),
        F.col("rc.effectiveGasPrice").alias("effectiveGasPrice"),
        F.col("rc.gasUsed").alias("gasUsed"),
        F.col("rc.logsBloom").alias("logsBloom"),
        F.col("rc.root").alias("root"),
        F.col("rc.status").alias("status"),
    )
    return out.dropDuplicates(DEDUP_KEYS["transactions"]) if dedup else out


def events_from_raw(raw: DataFrame, dedup: bool = True) -> DataFrame:
    """F3+F6: one row per log; transactionHash/Index come from the ENCLOSING
    tx (src/main.rs:261-262), not the log object."""
    zt = _zipped_tx_receipt(raw)
    out = zt.select(
        "_blockHash",
        "_blockNumber",
        "_blockTimestamp",
        F.col("tx.hash").alias("transactionHash"),
        F.col("tx.transactionIndex").alias("transactionIndex"),
        F.explode("rc.logs").alias("log"),
    ).select(
        F.col("log.address").alias("address"),
        F.col("_blockHash").alias("blockHash"),
        F.col("_blockNumber").alias("blockNumber"),
        F.col("_blockTimestamp").alias("blockTimestamp"),
        "transactionHash",
        "transactionIndex",
        F.col("log.logIndex").alias("logIndex"),
        F.col("log.removed").alias("removed"),
        F.col("log.topics").alias("topics"),
        F.col("log.data").alias("data"),
    )
    return out.dropDuplicates(DEDUP_KEYS["events"]) if dedup else out


def withdraws_from_raw(raw: DataFrame, dedup: bool = True) -> DataFrame:
    """F4: one row per withdrawal; plain explode of the nullable array drops
    pre-Shanghai blocks (src/main.rs:277-290)."""
    out = raw.filter(F.col("withdrawals").isNotNull()).select(
        F.col("hash").alias("blockHash"),
        F.col("number").alias("blockNumber"),
        F.col("timestamp").alias("blockTimestamp"),
        F.explode("withdrawals").alias("w"),
    ).select(
        "blockHash",
        "blockNumber",
        "blockTimestamp",
        F.col("w.index").alias("index"),
        F.col("w.validatorIndex").alias("validatorIndex"),
        F.col("w.address").alias("address"),
        F.col("w.amount").alias("amount"),
    )
    return out.dropDuplicates(DEDUP_KEYS["withdraws"]) if dedup else out


def all_tables_from_raw(raw: DataFrame, dedup: bool = True) -> dict[str, DataFrame]:
    """The full pipeline output — four DataFrames over `raw`.

    They come from one raw scan only if `raw` is computed once: each
    table's write is its own Spark job, the four jobs run concurrently
    (`sinks.parquet.write_all`), and each re-runs an uncached `raw`.
    `sources.rpc.raw_blocks_from_rpc` returns an eager localCheckpoint, so
    the slice is fetched before the writes start and all four read it; a
    frame from `spark.read.format("ethereum")` needs the same
    `localCheckpoint(eager=True)` from its caller."""
    return {
        "blocks": blocks_from_raw(raw, dedup),
        "transactions": transactions_from_raw(raw, dedup),
        "events": events_from_raw(raw, dedup),
        "withdraws": withdraws_from_raw(raw, dedup),
    }
