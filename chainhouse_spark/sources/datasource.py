"""Custom PySpark DataSource: `spark.read.format("ethereum")` — batch AND
streaming.

Batch: the Spark-4-native packaging of the distributed RPC scan (SURVEY.md
§2.1 S2–S5): the block range is split into contiguous InputPartitions; each
partition's read() runs ON AN EXECUTOR, opens one JSON-RPC client, and
fetches its heights with bounded retries — the same dataflow as
sources.rpc.raw_blocks_from_rpc, but discoverable through the standard
reader API and catalog-friendly:

    spark.dataSource.register(EthereumDataSource)
    df = (spark.read.format("ethereum")
          .option("endpoint", "http://node:8545")
          .option("from", 18_000_000).option("to", 18_000_999)
          .option("parallelism", 64)
          .load())            # schema: schemas.RAW_BLOCK

Streaming: `spark.readStream.format("ethereum")` follows the chain head —
the SURVEY §7 streaming-ingest extension the reference's batch loop never
had. Offsets are block heights ({"next": h}), so progress is checkpointed
by Structured Streaming and a restarted query resumes exactly after the
last committed block (exactly-once into idempotent sinks; replays hit the
K8 dedup keys regardless). Each micro-batch reads
[next, min(head, next + max_per_batch - 1)]; when caught up it returns an
empty batch and the same offset. Head discovery is eth_blockNumber.

Options:
    endpoint       JSON-RPC endpoint (required unless transport=fixture);
                   http(s):// or ws(s):// (scheme-dispatched transport)
    from, to       inclusive block range (batch; streaming uses `from` only)
    parallelism    number of batch input partitions (default 32)
    throttle_sec   per-height sleep inside a partition (rate limiting)
    transport      "http" (default) | "fixture" (deterministic offline blocks)
    seed           fixture seed (default 42)
    n_blocks       fixture chain head height + 1 (streaming fixture tests)
    max_per_batch  streaming: max blocks per micro-batch (default 100)

The fixture transport serves the same deterministic raw blocks as
sources.fixtures — tests drive the full reader paths with zero network.

Unlike sources.rpc.raw_blocks_from_rpc, a batch `load()` is not
materialized: every action on the frame re-runs read() and re-fetches
every height. A caller that writes the four tables from one load should
`localCheckpoint(eager=True)` the loaded frame before `write_all`, so one
fetch, finished before the concurrent writes start, feeds all four and
they agree on one snapshot of the chain.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from chainhouse_spark.schemas import RAW_BLOCK


class HeightSlice(InputPartition):
    def __init__(self, start: int, end: int):  # inclusive range
        self.start = start
        self.end = end


def _row_tuple(d: dict, schema) -> tuple:
    """Recursively convert a RAW_BLOCK-shaped dict into a tuple matching the
    schema's field order (the DataSource reader contract)."""
    from pyspark.sql.types import ArrayType, StructType

    out = []
    for f in schema.fields:
        v = d.get(f.name) if d is not None else None
        if isinstance(f.dataType, StructType):
            out.append(None if v is None else _row_tuple(v, f.dataType))
        elif isinstance(f.dataType, ArrayType) and isinstance(
            f.dataType.elementType, StructType
        ):
            out.append(
                None
                if v is None
                else [_row_tuple(x, f.dataType.elementType) for x in v]
            )
        else:
            out.append(v)
    return tuple(out)


class EthereumReader(DataSourceReader):
    def __init__(self, options: dict):
        self.endpoint = options.get("endpoint")
        self.from_block = int(options["from"])
        self.to_block = int(options["to"])
        self.parallelism = int(options.get("parallelism", 32))
        self.throttle_sec = float(options.get("throttle_sec", 0.0))
        self.transport = options.get("transport", "http")
        self.seed = int(options.get("seed", 42))
        if self.transport == "http" and not self.endpoint:
            raise ValueError("ethereum source: endpoint option is required")

    def partitions(self):
        n_heights = self.to_block - self.from_block + 1
        n_parts = max(1, min(self.parallelism, n_heights))
        step = -(-n_heights // n_parts)
        return [
            HeightSlice(s, min(s + step - 1, self.to_block))
            for s in range(self.from_block, self.to_block + 1, step)
        ]

    def read(self, partition: HeightSlice) -> Iterator[tuple]:
        heights = range(partition.start, partition.end + 1)
        if self.transport == "fixture":
            from chainhouse_spark.sources.fixtures import generate_raw_blocks

            # fixture blocks are numbered 0..n-1 from the seed; serve the
            # requested heights from one deterministic generation.
            blocks = generate_raw_blocks(partition.end + 1, seed=self.seed)
            for h in heights:
                yield _row_tuple(blocks[h], RAW_BLOCK)
            return
        from chainhouse_spark.sources.rpc import fetch_heights, http_transport

        transport = http_transport(self.endpoint)
        for parsed in fetch_heights(
            list(heights), transport, throttle_sec=self.throttle_sec
        ):
            yield _row_tuple(parsed, RAW_BLOCK)


class EthereumStreamReader(SimpleDataSourceStreamReader):
    """Chain-head follower. Simple (driver-side) stream reader: head
    advances ~1 block/12s, so per-micro-batch volume is small and the
    simple API's single-reader model fits; the heavy lifting (flatten,
    dedup, sink) happens downstream on executors. Offsets are plain dicts
    {"next": height} — JSON-checkpointable, monotone, replayable."""

    def __init__(self, options: dict):
        self.endpoint = options.get("endpoint")
        self.from_block = int(options.get("from", 0))
        self.transport = options.get("transport", "http")
        self.seed = int(options.get("seed", 42))
        self.n_blocks = int(options.get("n_blocks", 5))
        self.max_per_batch = int(options.get("max_per_batch", 100))
        self._client = None
        if self.transport == "http" and not self.endpoint:
            raise ValueError("ethereum stream: endpoint option is required")

    def _rpc(self):
        if self._client is None:
            from chainhouse_spark.sources.rpc import transport_for

            self._client = transport_for(self.endpoint)
        return self._client

    def _head(self) -> int:
        if self.transport == "fixture":
            return self.n_blocks - 1
        return int(self._rpc()("eth_blockNumber", []), 16)

    def _rows(self, start: int, end: int) -> Iterator[tuple]:
        if self.transport == "fixture":
            from chainhouse_spark.sources.fixtures import generate_raw_blocks

            blocks = generate_raw_blocks(end + 1, seed=self.seed)
            for h in range(start, end + 1):
                yield _row_tuple(blocks[h], RAW_BLOCK)
            return
        from chainhouse_spark.sources.rpc import fetch_heights

        for parsed in fetch_heights(list(range(start, end + 1)), self._rpc()):
            yield _row_tuple(parsed, RAW_BLOCK)

    # -- SimpleDataSourceStreamReader contract -----------------------------
    def initialOffset(self) -> dict:
        return {"next": self.from_block}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        nxt = int(start["next"])
        head = self._head()
        if nxt > head:  # caught up: empty batch, offset unchanged
            return iter([]), {"next": nxt}
        end = min(head, nxt + self.max_per_batch - 1)
        # materialized list, not a generator: the runner caches and
        # copy.copy()s the iterator for replay, which generators can't do —
        # and a micro-batch is at most max_per_batch blocks by construction.
        return iter(list(self._rows(nxt, end))), {"next": end + 1}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # deterministic replay for recovery: same heights -> same rows
        return iter(list(self._rows(int(start["next"]), int(end["next"]) - 1)))

    def commit(self, end: dict) -> None:
        pass  # nothing external to clean up; chain data is immutable


class EthereumDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ethereum"

    def schema(self):
        return RAW_BLOCK

    def reader(self, schema) -> EthereumReader:
        return EthereumReader(self.options)

    def simpleStreamReader(self, schema) -> EthereumStreamReader:
        return EthereumStreamReader(self.options)


def register_ethereum_source(spark) -> None:
    spark.dataSource.register(EthereumDataSource)
