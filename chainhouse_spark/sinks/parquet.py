"""Parquet-native at-rest layout for the four ethereum tables.

Replaces the ClickHouse MergeTree side of the reference's contract
(SURVEY.md §2.4 K2/K8/K9):

- K8 dedup: exact `dropDuplicates` on the ReplacingMergeTree keys happens
  in transforms; writes here are idempotent per block-range slice.
- K9 sort key: the writers ask for `sortWithinPartitions(*keys)` to
  reproduce the ORDER BY clustering (reference src/main.rs:88,123,140,157),
  but the files they write are NOT key-sorted. Spark's planned write adds
  its own sort on the partition column `block_bucket`, and that sort most
  likely replaces the user sort below it. A `write_table` over one bucket
  and over three buckets, and a targeted `compact_table`, all wrote files
  whose key column was unsorted. So row-group min/max stats on the keys
  do not prune the way ClickHouse's sparse primary index does; pruning
  comes from the `block_bucket` partitions alone. Sorting by
  `("block_bucket", *keys)` does give sorted files, but made block-range
  and join reads slower; the sort order is an open ROADMAP item.
- Partition layout: `block_bucket = blockNumber div bucket_size` — bounded
  partition count at any chain height (10k blocks/bucket ≈ 1.4k partitions
  for all of mainnet), pruning for the dominant block-range predicates.
- Concurrent writes: `write_all` writes its tables at the same time, so
  when one table's write fails the others may still land. That is the
  same partial state a failure of the last table of a sequential flush
  leaves: re-running the slice writes every table again, and the K8 key
  dedup (`read_table_deduped`, `compact_table`) absorbs the overlap.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chainhouse_spark.schemas import DEDUP_KEYS
from chainhouse_spark.sinks import write_concurrently

BLOCK_COL = {
    "blocks": "number",
    "transactions": "blockNumber",
    "events": "blockNumber",
    "withdraws": "blockNumber",
}


@contextmanager
def _partition_overwrite(spark: SparkSession, mode: str):
    """Temporarily set spark.sql.sources.partitionOverwriteMode."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "static")
    spark.conf.set(key, mode)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def write_table(
    df: DataFrame,
    name: str,
    base_path: str,
    bucket_size: int = 10_000,
    mode: str = "overwrite",
) -> None:
    block_col = BLOCK_COL[name]
    keys = DEDUP_KEYS[name]
    (
        df.withColumn("block_bucket", F.expr(f"{block_col} div {bucket_size}"))
        .repartition("block_bucket")
        .sortWithinPartitions(*keys)
        .write.mode(mode)
        .partitionBy("block_bucket")
        .parquet(f"{base_path}/{name}")
    )


def write_all(
    tables: dict[str, DataFrame],
    base_path: str,
    bucket_size: int = 10_000,
    mode: str = "overwrite",
) -> None:
    """Write every table, all at once: the reference flushes its four
    tables concurrently too (`tokio::try_join`, src/main.rs:292-319). A
    slice fits one block_bucket, so the last stage of each table's write
    (the sort and the parquet write) is a single task; run one after
    another, they leave all but one core idle and serialize each job's
    driver-side planning and commit. See `sinks.write_concurrently` for the
    threading and the failure contract.

    mode="append" is the batched-slice contract (K4/K7): each slice lands
    next to the previous ones. Slice re-runs then duplicate rows at rest —
    the reference has the same at-least-once behavior and heals it at merge
    time (ReplacingMergeTree); here `read_table_deduped` is the equivalent
    exact read-side heal, and a compaction rewrite makes it permanent.

    The tables' shared input should be materialized before this is called,
    or each concurrent write computes it again. Tables from
    `all_tables_from_raw(raw_blocks_from_rpc(...))` are: the slice was
    fetched once, eagerly, and every write reads that snapshot."""
    write_concurrently(
        tables,
        lambda df, name: write_table(df, name, base_path, bucket_size, mode=mode),
    )


def read_table_deduped(spark: SparkSession, name: str, base_path: str) -> DataFrame:
    """Read with the ReplacingMergeTree-equivalent dedup applied (exact,
    read-time) — the `SELECT ... FINAL` analogue."""
    return read_table(spark, name, base_path).dropDuplicates(DEDUP_KEYS[name])


def read_table(spark: SparkSession, name: str, base_path: str) -> DataFrame:
    return spark.read.parquet(f"{base_path}/{name}")


def compact_table(
    spark: SparkSession,
    name: str,
    base_path: str,
    bucket_size: int = 10_000,
    buckets: list[int] | None = None,
) -> None:
    """The ReplacingMergeTree background-merge analogue, made explicit:
    rewrite the table with exact key dedup applied (and the same K9 sort
    request as `write_table`, which does not sort the files; see the module
    docstring). After compaction, plain `read_table` (no read-side dedup)
    is exact again.

    Full-table mode (buckets=None) runs as overwrite-into-temp + swap so a
    crash never leaves a half-merged table.

    Targeted mode (`buckets=[...]`) is the 100 TB shape: only the
    block_buckets a re-ingest actually touched rewrite, via Spark's
    DYNAMIC partition overwrite — the scan partition-prunes to those
    buckets, the write replaces exactly the partitions it emits, and every
    untouched bucket's files stay byte-identical on disk (pinned by
    tests/test_reorg.py::test_compact_targeted_buckets). The bucket list
    for an ingest slice is `range(lo div bucket_size, hi div bucket_size + 1)`.
    """
    keys = DEDUP_KEYS[name]
    src = f"{base_path}/{name}"
    if buckets is not None:
        if not buckets:
            return
        healed = (
            spark.read.parquet(src)
            .filter(F.col("block_bucket").isin([int(b) for b in buckets]))
            .dropDuplicates(keys)
            .repartition("block_bucket")
            .sortWithinPartitions(*keys)
        )
        with _partition_overwrite(spark, "dynamic"):
            healed.write.mode("overwrite").partitionBy("block_bucket").parquet(src)
        return
    tmp = f"{base_path}/{name}__compacting"
    (
        spark.read.parquet(src)
        .dropDuplicates(keys)
        .repartition("block_bucket")
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .partitionBy("block_bucket")
        .parquet(tmp)
    )
    # atomic-enough swap on a posix fs; object stores use a manifest flip
    import shutil

    shutil.rmtree(src)
    shutil.move(tmp, src)


def canonicalize_warehouse(
    spark: SparkSession,
    base_path: str,
    bucket_size: int = 10_000,
    confirmation_depth: int = 64,
) -> dict[str, int]:
    """Evict reorged-out blocks — and every child row they parented — from
    the whole warehouse. The reorg-dedup ReplacingMergeTree cannot do
    (operators/reorg.py): a stale block has a DIFFERENT hash, so key dedup
    keeps it and every transaction/log/withdrawal it brought along.

    Only SETTLED forks are evicted: heights above `tip - confirmation_depth`
    are excluded. Immediately after a reorg the soon-to-lose fork can be the
    longest chain in the ingested data (the follower saw the fork tip
    first), so evicting near-tip "stale" rows would destroy the TRUE
    canonical blocks and force a manual re-fetch once the real chain
    overtakes. `confirmation_depth=0` evicts everything (explicit opt-in
    for settled/offline warehouses).

    Mechanics: derive the stale (number, hash) set from the blocks table
    (tiny — fork residue), collect() it and rebuild it as a local DataFrame
    BEFORE any table is rewritten (the rewrite rmtree+moves the very files
    the lazy plan would re-read — a lost cache partition mid-swap must not
    recompute against a deleted path), then broadcast-anti-join each table
    against it (blocks on (number, hash); children on blockHash) and
    rewrite with the compaction swap. Returns per-table evicted-row counts.
    At 100 TB, restrict the rewrite to the block_buckets containing stale
    heights — the same dynamic-partition-overwrite note as compact_table.
    """
    from chainhouse_spark.operators.reorg import reorged_out

    blocks = read_table(spark, "blocks", base_path)
    tip = blocks.agg(F.max("number")).first()[0]
    candidates = reorged_out(blocks)
    if tip is not None and confirmation_depth > 0:
        candidates = candidates.filter(
            F.col("number") <= F.lit(tip - confirmation_depth)
        )
    # Fork residue is tiny by construction (reorg frequency x depth):
    # materialize it off the files about to be destroyed.
    stale_rows = candidates.collect()
    if not stale_rows:
        return {name: 0 for name in BLOCK_COL}
    stale = spark.createDataFrame(stale_rows, candidates.schema)
    evicted: dict[str, int] = {}

    stale_hashes = stale.select("hash")
    for name in BLOCK_COL:
        df = read_table(spark, name, base_path)
        before = df.count()
        if name == "blocks":
            healed = df.join(
                F.broadcast(stale), ["number", "hash"], "left_anti"
            )
        else:
            healed = df.join(
                F.broadcast(stale_hashes.withColumnRenamed("hash", "blockHash")),
                ["blockHash"],
                "left_anti",
            )
        src = f"{base_path}/{name}"
        tmp = f"{base_path}/{name}__canonicalizing"
        (
            healed.drop("block_bucket")
            .withColumn(
                "block_bucket", F.expr(f"{BLOCK_COL[name]} div {bucket_size}")
            )
            .repartition("block_bucket")
            .sortWithinPartitions(*DEDUP_KEYS[name])
            .write.mode("overwrite")
            .partitionBy("block_bucket")
            .parquet(tmp)
        )
        import shutil

        after = spark.read.parquet(tmp).count()
        shutil.rmtree(src)
        shutil.move(tmp, src)
        evicted[name] = before - after
    return evicted
