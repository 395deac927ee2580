"""Seeded fixture Ethereum JSON-RPC node for the `ingest` workload.

Runs as one process. At start it renders every payload it will serve, so
the timed passes measure the ETL, not this generator. It answers the two
calls the ingest source makes per height (`eth_getBlockByNumber(n, true)`
and `eth_getBlockReceipts(n)`) plus two of its own:

- `perfbench_manifest(lo, hi)`: the exact rows it emits per table for
  heights [lo, hi), with a key digest per table (see `key_digest`), for
  the output check;
- `perfbench_stats`: calls served per method, failed calls and its own CPU
  seconds, so a run can show the node is not the bottleneck.

Blocks are mainnet-shaped: about 150 transactions, 2.3 logs per
transaction, 16 withdrawals. Every value derives from (seed, height), so
the same seed serves the same bytes in any order. At most `nproc`
connections are served at once; further connections wait in the listen
queue.

Run: python3 perfbench/node.py --seed 1 --first 19000000 --blocks 96
(prints `READY <port> <render_s>` on stdout once it listens).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import threading
import time
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

TABLES = ("blocks", "transactions", "events", "withdraws")
# Mean of this list is 2.3 logs per transaction.
LOGS_PER_TX = (0, 0, 1, 1, 2, 2, 3, 4, 5, 5)
WITHDRAWALS_PER_BLOCK = 16
GENESIS_TS = 1_700_000_000
# Connections served at once: one per core the process may use.
MAX_CONN = len(os.sched_getaffinity(0))
# The chain is rendered this many times at start; the median time is
# reported, so one slow render does not move the setup time.
RENDERS = 3


def key_digest(parts: bytes) -> int:
    """Per-row key digest; a table's digest is the sum over its rows. The
    benchmark computes the same sum in Spark with `crc32`."""
    return zlib.crc32(parts)


def _be8(v: int) -> bytes:
    return v.to_bytes(8, "big")


def _hx(b: bytes) -> str:
    return "0x" + b.hex()


def render_block(seed: int, number: int) -> tuple[dict, list[dict], dict]:
    """(eth_getBlockByNumber result, eth_getBlockReceipts result, manifest
    of this block: rows and key digest per table)."""
    rng = random.Random(f"{seed}:{number}")
    rb = rng.randbytes
    block_hash = rb(32)
    ts = GENESIS_TS + 12 * number
    n_tx = rng.randint(120, 180)
    txs, receipts = [], []
    log_index = 0
    cumulative = 0
    dig = dict.fromkeys(TABLES, 0)
    rows = dict.fromkeys(TABLES, 0)
    for i in range(n_tx):
        h = rb(32)
        tx_type = 2 if rng.random() < 0.8 else 0
        create = rng.random() < 0.02
        gas_used = 21_000 + rng.randrange(300_000)
        cumulative += gas_used
        txs.append(
            {
                "hash": _hx(h),
                "transactionIndex": hex(i),
                "chainId": "0x1",
                "type": hex(tx_type),
                "from": _hx(rb(20)),
                "to": None if create else _hx(rb(20)),
                "value": hex(rng.randrange(10**19)),
                "nonce": hex(rng.randrange(100_000)),
                "input": _hx(rb(4 + 32 * rng.randrange(4))),
                "gas": hex(gas_used + rng.randrange(50_000)),
                "gasPrice": hex(10**9 + rng.randrange(10**11)),
                "maxFeePerGas": hex(2 * 10**9 + rng.randrange(10**11))
                if tx_type == 2
                else None,
                "maxPriorityFeePerGas": hex(rng.randrange(10**9))
                if tx_type == 2
                else None,
                "r": _hx(rb(32)),
                "s": _hx(rb(32)),
                "v": hex(rng.randrange(2)),
                "accessList": [] if tx_type == 2 else None,
            }
        )
        logs = []
        for _ in range(rng.choice(LOGS_PER_TX)):
            logs.append(
                {
                    "address": _hx(rb(20)),
                    "logIndex": hex(log_index),
                    "removed": False,
                    "topics": [_hx(rb(32)) for _ in range(1 + rng.randrange(4))],
                    "data": _hx(rb(32 * rng.randrange(4))),
                }
            )
            dig["events"] += key_digest(h + _be8(log_index))
            log_index += 1
        receipts.append(
            {
                "transactionHash": _hx(h),
                "contractAddress": _hx(rb(20)) if create else None,
                "cumulativeGasUsed": hex(cumulative),
                "effectiveGasPrice": hex(10**9 + rng.randrange(10**10)),
                "gasUsed": hex(gas_used),
                "logsBloom": _hx(rb(256)),
                "root": None,
                "status": "0x1" if rng.random() < 0.97 else "0x0",
                "logs": logs,
            }
        )
        dig["transactions"] += key_digest(h)
    withdrawals = []
    for k in range(WITHDRAWALS_PER_BLOCK):
        idx = number * WITHDRAWALS_PER_BLOCK + k
        withdrawals.append(
            {
                "index": hex(idx),
                "validatorIndex": hex(rng.randrange(1_000_000)),
                "address": _hx(rb(20)),
                "amount": hex(rng.randrange(10**10)),
            }
        )
        dig["withdraws"] += key_digest(block_hash + _be8(idx))
    dig["blocks"] = key_digest(block_hash + _be8(number))
    rows.update(blocks=1, transactions=n_tx, events=log_index, withdraws=len(withdrawals))
    block = {
        "hash": _hx(block_hash),
        "number": hex(number),
        "parentHash": _hx(rb(32)),
        "uncles": [],
        "sha3Uncles": _hx(rb(32)),
        "totalDifficulty": hex(58_750_003_716_598_352_816_469),
        "miner": _hx(rb(20)),
        "difficulty": "0x0",
        "nonce": "0x0000000000000000",
        "mixHash": _hx(rb(32)),
        "baseFeePerGas": hex(10**9 + rng.randrange(10**10)),
        "gasLimit": hex(30_000_000),
        "gasUsed": hex(cumulative),
        "stateRoot": _hx(rb(32)),
        "transactionsRoot": _hx(rb(32)),
        "receiptsRoot": _hx(rb(32)),
        "logsBloom": _hx(rb(256)),
        "withdrawalsRoot": _hx(rb(32)),
        "extraData": _hx(rb(rng.randrange(33))),
        "timestamp": hex(ts),
        "size": hex(50_000 + rng.randrange(100_000)),
        "transactions": txs,
        "withdrawals": withdrawals,
    }
    return block, receipts, {"rows": rows, "digest": dig}


class Chain:
    """The pre-rendered payloads of heights [first, first + n)."""

    def __init__(self, seed: int, first: int, n: int):
        self.payloads: dict[tuple[str, int], bytes] = {}
        self.block_manifests: dict[int, dict] = {}
        for number in range(first, first + n):
            block, receipts, man = render_block(seed, number)
            self.payloads[("eth_getBlockByNumber", number)] = json.dumps(block).encode()
            self.payloads[("eth_getBlockReceipts", number)] = json.dumps(receipts).encode()
            self.block_manifests[number] = man

    def manifest(self, lo: int, hi: int) -> dict:
        """Rows and key digest per table emitted for heights [lo, hi)."""
        out = {"rows": dict.fromkeys(TABLES, 0), "digest": dict.fromkeys(TABLES, 0)}
        for number in range(lo, hi):
            for part in ("rows", "digest"):
                for t in TABLES:
                    out[part][t] += self.block_manifests[number][part][t]
        return out


class Node(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, chain: Chain):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.chain = chain
        self.slots = threading.BoundedSemaphore(MAX_CONN)
        self.lock = threading.Lock()
        self.calls: dict[str, int] = {}
        self.failed = 0

    def process_request(self, request, client_address):
        self.slots.acquire()
        super().process_request(request, client_address)

    def process_request_thread(self, request, client_address):
        try:
            super().process_request_thread(request, client_address)
        finally:
            self.slots.release()

    def answer(self, method: str, params: list) -> bytes:
        """The JSON `result` value for one call, as bytes."""
        if method in ("eth_getBlockByNumber", "eth_getBlockReceipts"):
            return self.chain.payloads[(method, int(params[0], 16))]
        if method == "perfbench_manifest":
            lo, hi = params
            return json.dumps(self.chain.manifest(int(lo), int(hi))).encode()
        if method == "perfbench_stats":
            t = os.times()
            with self.lock:
                calls, failed = dict(self.calls), self.failed
            return json.dumps(
                {"calls": calls, "failed": failed, "cpu_s": t.user + t.system}
            ).encode()
        raise KeyError(method)


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def do_POST(self):
        req = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        node: Node = self.server
        rid = json.dumps(req.get("id")).encode()
        try:
            result = node.answer(req["method"], req.get("params") or [])
            body = b'{"jsonrpc":"2.0","id":' + rid + b',"result":' + result + b"}"
            ok = True
        except (KeyError, ValueError, IndexError) as e:
            msg = json.dumps({"code": -32602, "message": repr(e)}).encode()
            body = b'{"jsonrpc":"2.0","id":' + rid + b',"error":' + msg + b"}"
            ok = False
        with node.lock:
            node.calls[req.get("method", "")] = node.calls.get(req.get("method", ""), 0) + 1
            node.failed += not ok
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, format, *args):
        pass


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--blocks", type=int, required=True)
    a = ap.parse_args()
    times = []
    for _ in range(RENDERS):
        t0 = time.perf_counter()
        chain = Chain(a.seed, a.first, a.blocks)
        times.append(time.perf_counter() - t0)
    node = Node(chain)
    threading.Thread(target=node.serve_forever, daemon=True).start()
    print(f"READY {node.server_address[1]} {statistics.median(times):.6f}", flush=True)
    # Serve until the parent closes our stdin (or dies).
    sys.stdin.read()
    node.shutdown()
    node.server_close()


if __name__ == "__main__":
    main()
