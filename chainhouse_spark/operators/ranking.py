"""Exact global row_number without a single-task window.

`Window.orderBy(...)` with no `partitionBy` gives exact global ranks but
serializes the ENTIRE input onto one executor — correct at sf0.1, a
scale-killer at 100 TB (the round-5 audit found six such windows). This
operator computes the same exact rank distributed:

1. `repartitionByRange(order)` — the range partitioner puts partition i's
   rows strictly before partition i+1's rows under the sort order, so the
   global rank of a row = (rows in earlier partitions) + (local rank).
2. A tiny per-partition count aggregate (≤ num_partitions rows) yields the
   cumulative offsets; the running sum over it is a single-task window over
   ≤ a few thousand rows — constant-size at any data scale.
3. Local ranks come from a window PARTITIONED by the range-partition id, so
   every window task holds one partition's rows, never the whole input.

Exactness requires a TOTAL order (include a tie-break column): with ties,
equal keys may straddle a range boundary and their relative order would be
partitioner-dependent. Every caller in this repo orders by
(score, unique_id).

CONSISTENCY: the offsets subtree and the main subtree both consume the
range-partitioned rows, and both re-derive the partition id. Catalyst's
ReusedExchange is NOT guaranteed to unify the two reads (column pruning
can specialize one branch's exchange, and AQE may coalesce the two reads
differently) — and RangePartitioner samples its boundaries with an
RDD-id-dependent seed, so two independent executions of the "same"
repartitionByRange can place a row in DIFFERENT partitions. That skew
between branches silently corrupts every rank (observed: ~5.8k of 6.6k
ranks off under local[8]). The fix is structural: `localCheckpoint`
(lazy) materializes the partitioned, pid-tagged rows ONCE, and both
subtrees read the same physical blocks — pid consistency by construction,
not by optimizer goodwill.

Cost: one range shuffle + one executor-local materialization of the
range-partitioned thin projection (comparable to an extra shuffle write
at 100 TB, spillable) + a broadcast of the offsets; with
`materialize_input=True` (map-only inputs — see `global_row_number`) one
more materialization of the input replaces the sampling job's re-execution
of the caller's subtree. `global_running_sums` additionally pays one hash
shuffle for its per-partition ordered window — see its "Not yet
optimized" note in OPTIMIZATION_r12.md. Trade-off: localCheckpoint truncates lineage, so an
executor loss means rerunning the whole stage rather than recomputing a
partition — acceptable for batch analytics, and the alternative (literal
range boundaries collected at the driver) costs an extra eager scan per
call and restricts keys to numeric types.

Reference capability: the reference delegates ranking to ClickHouse
(`/root/reference/src/main.rs:57-161`), which executes ORDER BY + row
numbering distributed; this is the Spark-native equivalent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

_PID = "__gr_pid"
_OFF = "__gr_off"


def _ranged_with_pid(
    df: DataFrame,
    order_by: list[Column],
    num_partitions: int | None,
    materialize_input: bool = False,
) -> DataFrame:
    """Range-partition on the order and tag each row with its partition id,
    materialized ONCE (lazy localCheckpoint) so every downstream subtree
    sees the identical pid assignment — see the module docstring for why
    re-deriving the pid per branch is unsound. `materialize_input`: see
    `global_row_number`."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    if materialize_input:
        df = df.localCheckpoint(eager=False)
    return (
        df.repartitionByRange(num_partitions, *order_by)
        .withColumn(_PID, F.spark_partition_id())
        .localCheckpoint(eager=False)
    )


_MID = "__gr_mid"
_LOCAL_BITS = 33  # monotonically_increasing_id: pid << 33 | row-in-partition


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rank",
    num_partitions: int | None = None,
    materialize_input: bool = False,
) -> DataFrame:
    """Add `out_col` = exact 1-based global row number under `order_by`.

    `order_by` must be a TOTAL order (tie-break on a unique column) or
    ranks of tied rows are partitioner-dependent.

    Round-12 form (guide §2.4): the local rank within each range
    partition comes from `monotonically_increasing_id()` evaluated ABOVE
    an explicit `sortWithinPartitions` — the documented id layout is
    `partition_id << 33 | row_number_within_partition`, so the id's low
    bits ARE the 0-based local rank in sort order and the high bits the
    partition id. The previous form derived the local rank with a window
    PARTITIONED by pid, which cost a second full-data hash Exchange +
    Sort per call (the lazy localCheckpoint hides the range partitioning
    from EnsureRequirements, so the window re-shuffled everything).
    Per-call plan diff: 2 full-data Exchanges -> 1, one Window removed;
    ranks identical — same range partitioner, same total order, rank =
    rows-in-earlier-partitions + local position either way. The
    nondeterministic id is safe here for the same reason the pid tag was:
    the lazy localCheckpoint materializes the tagged rows once and every
    downstream subtree reads the same physical blocks.

    `materialize_input` (round-12 W9, guide §1.2 "don't compute things
    twice"): RangePartitioner's boundary-sampling job fully executes the
    child, so the input subtree runs TWICE per call — once for the
    sample, once for the shuffle map stage (measured exactly 2.0
    evaluations per input row; tests/test_round12_opt.py::
    test_rank_input_evaluated_once pins both modes). Whether that
    matters depends on the input's shape, because Spark REUSES shuffle
    map stages and broadcasts across the jobs of one execution:

    - input WITH an exchange (a groupBy aggregate): the second run only
      repeats the reduce side over already-written shuffle files —
      cheap. Materializing regressed every aggregate-input caller
      measured (vocab_coverage_curve +23%, audience_rfm_segments +15%
      at sf0.1 — the persist costs more than the repeated reduce), so
      the DEFAULT is False.
    - MAP-ONLY input (a scoring pass straight off a scan): the second
      run repeats the full scan + per-row work. `materialize_input=True`
      makes the sampling pass double as a lazy-localCheckpoint
      materialization and the shuffle reads the persisted blocks
      (search_hybrid_rrf's two scoring passes measured −6% at sf0.1; at
      scale it removes one full scan+score pass per call).

    Rank values are boundary-independent (the offsets correct for
    whatever partitioning the sampler draws), so results are identical
    either way."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    if materialize_input:
        df = df.localCheckpoint(eager=False)
    ranged = (
        df.repartitionByRange(num_partitions, *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn(_MID, F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    pid = F.shiftrightunsigned(F.col(_MID), _LOCAL_BITS)
    counts = ranged.groupBy(pid.alias(_PID)).agg(
        F.count(F.lit(1)).alias("__n")
    )
    # Running sum over ≤ num_partitions rows: the one intentionally tiny
    # global window (constant-size regardless of input scale).
    w_off = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        _PID, F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias(_OFF)
    )
    local = F.col(_MID).bitwiseAND(F.lit((1 << _LOCAL_BITS) - 1))
    return (
        ranged.withColumn(_PID, pid)
        .join(F.broadcast(offsets), _PID)
        # int + bigint offset widened to bigint, exactly as the previous
        # row_number()+offset form typed it — schema byte-identical.
        .withColumn(out_col, local + F.col(_OFF) + F.lit(1))
        .drop(_PID, _OFF, _MID)
    )


_BLK = "__gr_blk"


def global_running_sums(
    df: DataFrame,
    order_by: list[Column],
    sum_cols: dict[str, str],
    num_partitions: int | None = None,
    materialize_input: bool = False,
    block_key: str | None = None,
) -> DataFrame:
    """Add exact inclusive running sums under a global order, distributed.

    `sum_cols` maps input column -> output column; each output is
    SUM(input) over rows ordered at-or-before the current row (inclusive
    prefix sum). `order_by` must be a total order for ties to be
    well-defined; callers that later collapse ties per key (e.g. ECDF
    steps taking the last running count per value) may order by the key
    alone IF every summed column is tie-invariant under that collapse.

    Exactness, by summed column type (the same rule as the query
    modules' DOUBLE aggregates, `queries/registry.py`):

    - integral and DECIMAL columns are summed exactly in their own type,
      as Spark's SUM types them;
    - FLOAT/DOUBLE columns are summed through a hidden DECIMAL(38,18)
      twin (per-part totals, offsets and the local window alike) and the
      exact decimal prefix is rounded ONCE to DOUBLE, the type SUM gives
      them, so the output schema is unchanged. Each summand enters as
      Spark's cast to DECIMAL(38,18) gives it (it reads the double's
      decimal string form), so the resolution is 1e-18 and magnitudes
      near or below that lose relative precision against a double. Every
      prefix must stay below 5e18 in magnitude: each partial sum formed
      is a difference of two prefixes and must fit DECIMAL(37,18), and
      beyond that Spark's ANSI mode (the default) raises an overflow;
    - a NaN or ±Inf summand (and, with ANSI off, one outside
      DECIMAL(38,18)) raises an error naming the column; it is never
      skipped or turned into a NULL result.

    Callers that need another scale cast to DECIMAL themselves, as
    `surv_kaplan_meier` does for its `lterm` column.

    Two forms (round-13, guide §2.4):

    `block_key=None` — the round-5 two-phase shape: range partition on
    the order, pid tag, lazy localCheckpoint (pid consistency between
    the offsets and main subtrees — see the module docstring), tiny
    per-partition totals -> cumulative offsets, local running sum from a
    window PARTITIONED by pid. The checkpoint hides the range
    partitioning from EnsureRequirements, so that window costs a SECOND
    full-data Exchange (hash on pid) + Sort after the range exchange and
    the checkpoint write — three full-data passes over the network/disk
    per call.

    `block_key="col"` — `col` must be the LEADING `order_by` expression,
    ASCENDING, numeric, and never-null-unless-the-data-has-null-keys
    (every caller in this repo orders by a post-groupBy key, so the key
    is unique and the order total). The operator collects ~4x
    `num_partitions` approximate quantile boundaries of the key (one
    thin driver action over the key column only — the same pass the
    range partitioner's sampler would have run) and derives a
    DETERMINISTIC contiguous block id per row: `blk = #{boundaries < x}`
    (nulls -> block 0, Spark's ASC NULLS FIRST). Determinism is the
    point: both subtrees re-derive bit-identical block ids from the
    parquet rows, so NO checkpoint is needed for consistency, and the
    per-block totals (map-side partial aggregate — the exchange carries
    ~n_blocks rows) plus ONE hash exchange feeding the block-partitioned
    window are the only shuffles. Plan diff vs the None form: full-data
    exchanges 2 -> 1, full-data checkpoint write removed, sampler job
    replaced by the quantile action. Results are boundary-independent
    (offsets correct for whatever blocks the quantiles draw, and every
    sum is exact — float columns included, see Exactness above), exactly
    as ranks are in `global_row_number`: both forms, at any partition
    count, give bit-identical outputs. Skew caveat: all ties of one key
    value land in one block, so a tie-heavy leading key (e.g. Zipf
    counts) needs a tie-broken unique key instead — vocab_coverage_curve
    passes its rank column for exactly that reason.

    `materialize_input`: see `global_row_number` — True only pays off
    for MAP-ONLY input subtrees; every current consumer feeds an
    aggregate (whose shuffle stage the sampling/quantile job reuses), so
    all stay at the False default.
    """
    if block_key is not None:
        return _block_running_sums(
            df, order_by, sum_cols, num_partitions, materialize_input, block_key
        )
    ranged = _ranged_with_pid(df, order_by, num_partitions, materialize_input)
    return _offset_running_sums(ranged, _PID, order_by, sum_cols)


def _block_running_sums(
    df: DataFrame,
    order_by: list[Column],
    sum_cols: dict[str, str],
    num_partitions: int | None,
    materialize_input: bool,
    block_key: str,
) -> DataFrame:
    """`global_running_sums` block-quantile form — see its docstring."""
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
        )
    # The input is ALWAYS lazily checkpointed here (so `materialize_input`
    # is implied): the quantile action below executes the input anyway, so
    # the checkpoint materializes for free, the totals and window subtrees
    # read the same physical blocks instead of re-deriving the input once
    # each (a chained call — survival's curve-over-steps — would otherwise
    # replicate the first call's whole tree into every branch of the
    # second), and the lineage cut keeps iterative/chained plans bounded
    # exactly as the range-partitioned checkpoint did.
    df = df.localCheckpoint(eager=False)
    n_blocks = 4 * num_partitions
    probs = [i / n_blocks for i in range(1, n_blocks)]
    # One thin pass over the key column; boundaries become literals, so
    # the block id below is a deterministic pure-row function.
    bounds = df.stat.approxQuantile(block_key, probs, 1.0 / (4 * n_blocks))
    bounds = sorted({b for b in bounds if b == b})  # dedupe, drop NaN
    if bounds:
        barr = F.array(*[F.lit(float(b)) for b in bounds])
        key = F.col(block_key).cast("double")
        blk = F.size(F.filter(barr, lambda b: b < key))
    else:
        blk = F.lit(0)
    return _offset_running_sums(
        df.withColumn(_BLK, blk), _BLK, order_by, sum_cols
    )


# Float summands are accumulated in this decimal; the final offset + local
# addition narrows both sides to DECIMAL(37,18) so that Spark types the
# sum DECIMAL(38,18) — two DECIMAL(38,18) operands would be typed
# DECIMAL(38,17) and rounded before the one cast back to DOUBLE.
_DEC = "decimal(38,18)"
_DEC_ADD = "decimal(37,18)"


def _decimal_twins(
    df: DataFrame, sum_cols: dict[str, str]
) -> tuple[DataFrame, dict[str, str]]:
    """Give every FLOAT/DOUBLE summed column a hidden DECIMAL(38,18) twin.

    Returns the widened frame and src -> the column actually summed (the
    twin, or `src` itself for integral and DECIMAL columns, which are
    left untouched). A non-null summand whose decimal is NULL (NaN, ±Inf,
    or out of range with ANSI off) raises, naming the column — `sum`
    would otherwise skip it without a word."""
    summed = {}
    for src in sum_cols:
        summed[src] = src
        if not isinstance(df.schema[src].dataType, (FloatType, DoubleType)):
            continue
        summed[src] = twin = f"__gr_d_{src}"
        dec = F.col(src).cast(_DEC)
        df = df.withColumn(
            twin,
            F.when(
                F.col(src).isNotNull() & dec.isNull(),
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"global_running_sums: column {src!r} holds a "
                            f"value with no {_DEC.upper()} equivalent: "
                        ),
                        F.col(src).cast("string"),
                    )
                ),
            ).otherwise(dec),
        )
    return df, summed


def _offset_running_sums(
    tagged: DataFrame,
    part: str,
    order_by: list[Column],
    sum_cols: dict[str, str],
) -> DataFrame:
    """Running sums of rows tagged with contiguous parts (`part` ascending
    follows the global order): tiny per-part totals -> cumulative offsets
    (broadcast), plus a local running sum from a window partitioned by
    `part`. Drops `part` and every helper column.

    NULL summands follow a global window's SUM: the offset is NULL while
    every earlier summand is NULL, the local sum is NULL while every
    summand of the part up to the row is NULL, and the running sum is
    `coalesce(run + off, run, off)`, so a NULL on either side gives the
    other (the preceding prefix, for a part that opens with NULLs)."""
    tagged, summed = _decimal_twins(tagged, sum_cols)
    totals = tagged.groupBy(part).agg(
        *[F.sum(col).alias(f"__t_{src}") for src, col in summed.items()]
    )
    w_off = Window.orderBy(part).rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        part,
        *[
            F.sum(f"__t_{src}").over(w_off).alias(f"__o_{src}")
            for src in sum_cols
        ],
    )
    local = (
        Window.partitionBy(part)
        .orderBy(*order_by)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = tagged.join(F.broadcast(offsets), part)
    for src, dst in sum_cols.items():
        run, off = F.sum(summed[src]).over(local), F.col(f"__o_{src}")
        if summed[src] == src:
            out = out.withColumn(dst, F.coalesce(run + off, run, off))
        else:
            exact = run.cast(_DEC_ADD) + off.cast(_DEC_ADD)
            out = out.withColumn(
                dst, F.coalesce(exact, run, off).cast("double")
            )
    twins = [col for src, col in summed.items() if col != src]
    return out.drop(part, *twins, *[f"__o_{src}" for src in sum_cols])
