"""Distributed JSON-RPC block source (SURVEY.md §2.1 S2-S5).

The reference fetches sequentially on one connection — block i+1 awaited
after i (src/main.rs:172-174); throughput is RPC-latency-bound by
construction. Here the block range IS the scan driver:

    spark.range(from, to+1)  ->  repartition(n)  ->  mapPartitions(fetch)

Each partition opens ONE client (connection reuse, S2), fetches its heights
with retries (improving on the reference's 30 .unwrap() aborts), and yields
rows of schemas.RAW_BLOCK. Partitions are deterministic slices, so re-runs
are idempotent and the K8 dedup heals overlap.

One fetch per height: like the reference, which fetches a block and its
receipts once and flattens that one response into all four row buffers
(src/main.rs:173-174), the returned frame is an eager localCheckpoint.
`raw_blocks_from_rpc` itself runs the fetch: it fetches, parses and
materializes every height once, before any table write starts, and every
action on the frame (the four table writes) reads those rows. So a slice
costs exactly two RPC calls per height, and its four tables come from the
same response even when the node flaps between forks near the chain tip.
The checkpoint is eager, not lazy, because the four writes run
concurrently (`sinks.write_concurrently`): with a lazy checkpoint, jobs
running at once on several executors could each compute the same
not-yet-materialized partition, fetching its heights twice and possibly
from two forks. Trade-off: the checkpoint has no lineage, so a lost
executor fails the slice loudly instead of re-fetching; re-running the
slice heals it, and the K8 key dedup absorbs the overlap.

The transport is pluggable: tests inject a fake; production dispatches on
the endpoint scheme — stdlib urllib HTTP JSON-RPC for http(s)://, the
stdlib RFC 6455 client (sources/ws.py) for ws(s):// (reference parity with
its WebSocket provider, src/main.rs:50). Same payloads either way —
eth_getBlockByNumber(n, true) + eth_getBlockReceipts(n).
No third-party HTTP/WS library is required.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator
from decimal import Decimal
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from chainhouse_spark.schemas import RAW_BLOCK

Transport = Callable[[str, list[Any]], Any]


def http_transport(endpoint: str, timeout: float = 30.0) -> Transport:
    """One stdlib-HTTP JSON-RPC client; created per partition, never on the
    driver (connections don't survive serialization)."""
    import urllib.request

    counter = {"id": 0}

    def call(method: str, params: list[Any]) -> Any:
        counter["id"] += 1
        payload = json.dumps(
            {"jsonrpc": "2.0", "id": counter["id"], "method": method, "params": params}
        ).encode()
        req = urllib.request.Request(
            endpoint, data=payload, headers={"Content-Type": "application/json"}
        )
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            body = json.loads(resp.read())
        if "error" in body:
            raise RuntimeError(f"RPC error for {method}: {body['error']}")
        return body["result"]

    return call


def transport_for(endpoint: str, timeout: float = 30.0) -> Transport:
    """Scheme-dispatched transport: ws://|wss:// -> WebSocket client,
    anything else -> HTTP. Called per partition (executor-side)."""
    if endpoint.startswith(("ws://", "wss://")):
        from chainhouse_spark.sources.ws import ws_transport

        return ws_transport(endpoint, timeout=timeout)
    return http_transport(endpoint, timeout=timeout)


def _hx_bytes(v: str | None) -> bytes | None:
    return bytes.fromhex(v[2:]) if v else None


def _hx_int(v: str | None) -> int | None:
    return int(v, 16) if v else None


def _hx_dec(v: str | None) -> Decimal | None:
    return Decimal(int(v, 16)) if v else None


def parse_block(block: dict, receipts: list[dict]) -> dict:
    """Map the two raw RPC JSON payloads into one schemas.RAW_BLOCK row
    (the P1-P5 hex->binary / hex->decimal conversions, SURVEY §2.2)."""
    txs = [
        {
            "hash": _hx_bytes(t.get("hash")),
            "transactionIndex": _hx_int(t.get("transactionIndex")),
            "chainId": _hx_dec(t.get("chainId")),
            "type": _hx_int(t.get("type")),
            "from": _hx_bytes(t.get("from")),
            "to": _hx_bytes(t.get("to")),
            "value": _hx_dec(t.get("value")),
            "nonce": _hx_dec(t.get("nonce")),
            "input": _hx_bytes(t.get("input")),
            "gas": _hx_dec(t.get("gas")),
            "gasPrice": _hx_dec(t.get("gasPrice")),
            "maxFeePerGas": _hx_dec(t.get("maxFeePerGas")),
            "maxPriorityFeePerGas": _hx_dec(t.get("maxPriorityFeePerGas")),
            "r": _hx_bytes(t.get("r")),
            "s": _hx_bytes(t.get("s")),
            "v": _hx_int(t.get("v")),
            "accessList": json.dumps(t["accessList"])
            if t.get("accessList") is not None
            else None,
        }
        for t in block.get("transactions", [])
    ]
    rcs = [
        {
            "transactionHash": _hx_bytes(r.get("transactionHash")),
            "contractAddress": _hx_bytes(r.get("contractAddress")),
            "cumulativeGasUsed": _hx_dec(r.get("cumulativeGasUsed")),
            "effectiveGasPrice": _hx_dec(r.get("effectiveGasPrice")),
            "gasUsed": _hx_dec(r.get("gasUsed")),
            "logsBloom": _hx_bytes(r.get("logsBloom")),
            "root": _hx_bytes(r.get("root")),
            "status": _hx_int(r.get("status")),
            "logs": [
                {
                    "address": _hx_bytes(lg.get("address")),
                    "logIndex": _hx_dec(lg.get("logIndex")),
                    "removed": bool(lg.get("removed", False)),
                    "topics": [_hx_bytes(tp) for tp in lg.get("topics", [])],
                    "data": _hx_bytes(lg.get("data")),
                }
                for lg in r.get("logs", [])
            ],
        }
        for r in receipts
    ]
    ws = block.get("withdrawals")
    return {
        "hash": _hx_bytes(block.get("hash")),
        "number": _hx_int(block.get("number")),
        "parentHash": _hx_bytes(block.get("parentHash")),
        "uncles": [_hx_bytes(u) for u in block.get("uncles", [])],
        "sha3Uncles": _hx_bytes(block.get("sha3Uncles")),
        "totalDifficulty": _hx_dec(block.get("totalDifficulty")),
        "miner": _hx_bytes(block.get("miner")),
        "difficulty": _hx_dec(block.get("difficulty")),
        "nonce": _hx_bytes(block.get("nonce")),
        "mixHash": _hx_bytes(block.get("mixHash")),
        "baseFeePerGas": _hx_dec(block.get("baseFeePerGas")),
        "gasLimit": _hx_dec(block.get("gasLimit")),
        "gasUsed": _hx_dec(block.get("gasUsed")),
        "stateRoot": _hx_bytes(block.get("stateRoot")),
        "transactionsRoot": _hx_bytes(block.get("transactionsRoot")),
        "receiptsRoot": _hx_bytes(block.get("receiptsRoot")),
        "logsBloom": _hx_bytes(block.get("logsBloom")),
        "withdrawalsRoot": _hx_bytes(block.get("withdrawalsRoot")),
        "extraData": _hx_bytes(block.get("extraData")),
        "timestamp": _hx_dec(block.get("timestamp")),
        "size": _hx_dec(block.get("size")),
        "transactions": txs,
        "receipts": rcs,
        "withdrawals": [
            {
                "index": _hx_int(w.get("index")),
                "validatorIndex": _hx_int(w.get("validatorIndex")),
                "address": _hx_bytes(w.get("address")),
                "amount": _hx_dec(w.get("amount")),
            }
            for w in ws
        ]
        if ws is not None
        else None,
    }


def fetch_heights(
    heights: list[int],
    transport: Transport,
    max_retries: int = 3,
    backoff_sec: float = 1.0,
    throttle_sec: float = 0.0,
) -> Iterator[dict]:
    """Fetch + parse a list of heights on one client with bounded retries
    (vs the reference's panic-on-any-error, SURVEY §7 hard part 4). Only
    the two transport calls are retried: a payload that fails to parse
    fails the same way on every re-fetch, so it raises at once."""
    for h in heights:
        for attempt in range(max_retries + 1):
            try:
                block = transport("eth_getBlockByNumber", [hex(h), True])
                receipts = transport("eth_getBlockReceipts", [hex(h)])
                break
            except Exception:
                if attempt == max_retries:
                    raise
                time.sleep(backoff_sec * (2**attempt))
        yield parse_block(block, receipts)
        if throttle_sec:
            time.sleep(throttle_sec)


def raw_blocks_from_rpc(
    spark: SparkSession,
    endpoint: str,
    from_block: int,
    to_block: int,
    parallelism: int = 32,
    transport_factory: Callable[[], Transport] | None = None,
    throttle_sec: float = 0.0,
) -> DataFrame:
    """The distributed scan: inclusive [from_block, to_block] fetched by
    `parallelism` concurrent partition clients (transport chosen from the
    endpoint scheme: http(s) or ws(s)). The frame is fetched and
    materialized here, once, and every action on it reads that snapshot
    (see the module docstring for why eager, and the lineage trade-off)."""
    factory = transport_factory or (lambda: transport_for(endpoint))

    def fetch_partition(rows: Iterator) -> Iterator:
        heights = [r.id for r in rows]
        if not heights:
            return
        transport = factory()
        yield from fetch_heights(heights, transport, throttle_sec=throttle_sec)

    rng = spark.range(from_block, to_block + 1).repartition(parallelism)
    return spark.createDataFrame(
        rng.rdd.mapPartitions(fetch_partition), RAW_BLOCK
    ).localCheckpoint(eager=True)
