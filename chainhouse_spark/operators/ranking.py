"""Exact global row numbers and running sums without a single-task window.

`Window.orderBy(...)` with no `partitionBy` gives exact global row numbers
and prefix sums but serializes the ENTIRE input onto one executor —
correct at sf0.1, a scale-killer at 100 TB (the round-5 audit found six
such windows). The two operators here compute the same exact values
distributed, in one shape:

1. Tag every row with a contiguous PART: under the order, every row of
   part i comes before every row of part i+1.
2. `_part_offsets`: a per-part aggregate (one row per part) and a
   running sum over it — the one intentionally tiny global window,
   constant-size at any data scale — give each part's offset, the total
   of all earlier parts, broadcast back onto the rows.
3. The global value is the part's offset plus the row's local value
   within its part. The offsets correct for wherever the part boundaries
   fall, so results are boundary-independent: identical at any partition
   count.

The operators differ in how they draw the parts.

`global_row_number` takes any total order. Its call sites rank DESC scores
(`search.py`), an md5 string key (`sample_systematic_every_k`), Zipf-tied
counts broken by token (`vocab_coverage_curve`) and a timestamp
(`ts_hurst_rs`), none of them one ascending numeric key. Its parts are
range partitions: `repartitionByRange` on the order — the one full-data
exchange per call — sorted within each partition, where
`monotonically_increasing_id` gives both the part (high bits) and the
local position (low bits). The tagged rows are materialized ONCE by a lazy
`localCheckpoint`: RangePartitioner samples its boundaries with an
RDD-id-dependent seed and Catalyst does not reliably reuse one exchange
for the offsets and main subtrees, so two executions of the "same"
repartitionByRange can place a row in DIFFERENT partitions, which
silently corrupts every rank (observed: ~5.8k of 6.6k ranks off under
local[8]). Reading one materialization makes the parts consistent by
construction. Trade-off: the checkpoint truncates lineage, so an executor
loss reruns the whole stage — acceptable for batch analytics.

`global_running_sums` takes one ascending numeric key. Its parts are
deterministic quantile blocks: approximate-quantile boundaries of the key,
collected eagerly as literals, and a row's block is the number of
boundaries below its key — a pure function of the row, so every subtree
derives the same blocks without relying on a checkpoint for consistency
(the input is checkpointed so that the quantile job's pass is reused), and
the one full-data exchange is the hash on the block that feeds the local
window.

Reference capability: the reference delegates ranking and running totals
to ClickHouse (`src/main.rs:57-161`), which executes ORDER BY and window
sums distributed; this is the Spark-native equivalent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType

_PID = "__gr_pid"
_BLK = "__gr_blk"
_MID = "__gr_mid"
_LOCAL_BITS = 33  # monotonically_increasing_id: pid << 33 | row-in-partition


def _num_parts(df: DataFrame, num_partitions: int | None) -> int:
    """`num_partitions`, defaulting to the session's shuffle partitions."""
    if num_partitions is not None:
        return num_partitions
    return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))


def _part_offsets(
    rows: DataFrame,
    part: str,
    totals: dict[str, Column],
    by: Column | None = None,
) -> DataFrame:
    """Each part's offsets, broadcast for a join on `part`.

    `totals` maps a name to an aggregate; offset column `__o_{name}` is
    that aggregate over every EARLIER part — a groupBy on `part` (computed
    by `by` when `rows` does not carry it), then a running sum over the
    one row per part. It is NULL for the first part, and while every
    earlier total is NULL."""
    w = Window.orderBy(part).rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        rows.groupBy(part if by is None else by.alias(part))
        .agg(*[agg.alias(f"__t_{name}") for name, agg in totals.items()])
        .select(
            part,
            *[
                F.sum(f"__t_{name}").over(w).alias(f"__o_{name}")
                for name in totals
            ],
        )
    )
    return F.broadcast(offsets)


def global_row_number(
    df: DataFrame,
    order_by: list[Column],
    out_col: str = "rank",
    num_partitions: int | None = None,
    materialize_input: bool = False,
) -> DataFrame:
    """Add `out_col` = exact 1-based global row number under `order_by`.

    `order_by` must be a TOTAL order (tie-break on a unique column) or
    ranks of tied rows are partitioner-dependent. `out_col` is a non-null
    BIGINT. Parts are `num_partitions` range partitions (default:
    `spark.sql.shuffle.partitions`); the local rank is the low bits of
    `monotonically_increasing_id()` evaluated above an explicit
    `sortWithinPartitions`, so the call costs one full-data exchange (see
    the module docstring for why the tagged rows are checkpointed).

    `materialize_input`: RangePartitioner's boundary-sampling job fully
    executes the input, so the input subtree runs TWICE per call — once
    for the sample, once for the shuffle map stage
    (`tests/test_ranking.py::test_rank_input_evaluated_once` pins both
    modes). Whether that matters depends on the input's shape, because
    Spark reuses shuffle map stages and broadcasts across the jobs of one
    execution:

    - input WITH an exchange (a groupBy aggregate): the second run only
      repeats the reduce side over already-written shuffle files — cheap.
      Materializing regressed every aggregate-input caller measured
      (vocab_coverage_curve +23%, audience_rfm_segments +15% at sf0.1),
      so the DEFAULT is False.
    - MAP-ONLY input (a scoring pass straight off a scan): the second run
      repeats the full scan and per-row work. `materialize_input=True`
      makes the sampling pass double as a lazy-localCheckpoint
      materialization that the shuffle reads back (search_hybrid_rrf's
      two scoring passes measured −6% at sf0.1).

    Ranks are boundary-independent, so results are identical either way."""
    if materialize_input:
        df = df.localCheckpoint(eager=False)
    ranged = (
        df.repartitionByRange(_num_parts(df, num_partitions), *order_by)
        .sortWithinPartitions(*order_by)
        .withColumn(_MID, F.monotonically_increasing_id())
        .localCheckpoint(eager=False)
    )
    pid = F.shiftrightunsigned(F.col(_MID), _LOCAL_BITS)
    offsets = _part_offsets(ranged, _PID, {"n": F.count(F.lit(1))}, by=pid)
    local = F.col(_MID).bitwiseAND(F.lit((1 << _LOCAL_BITS) - 1))
    off = F.coalesce(F.col("__o_n"), F.lit(0))
    return (
        ranged.withColumn(_PID, pid)
        .join(offsets, _PID)
        .withColumn(out_col, local + off + F.lit(1))
        .drop(_PID, "__o_n", _MID)
    )


def global_running_sums(
    df: DataFrame,
    key: str,
    sum_cols: dict[str, str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Add exact inclusive running sums in ascending `key` order.

    `sum_cols` maps input column -> output column; each output is
    `SUM(input) OVER (ORDER BY key ROWS UNBOUNDED PRECEDING)`, computed
    distributed. NULL keys sort first and NaN keys last, as in that
    window. Rows that tie on `key` take their running sums in an
    arbitrary order among themselves, as the window gives them, so callers
    either key a unique column (every caller here keys a post-groupBy
    column or a row number) or collapse ties per key, e.g. ECDF steps
    taking the last running count per value.

    Construction-time contract: each call runs one eager Spark job, an
    `approxQuantile` over `key`, while the DataFrame is being built — not
    when it is executed — and a non-numeric `key` fails there. The job
    also materializes the input's lazy checkpoint, so executing the result
    reads the input back instead of running it again, and the lineage cut
    keeps chained calls (survival's curve over steps) bounded.

    Blocks: the quantile job collects 4x `num_partitions` (default:
    `spark.sql.shuffle.partitions`) boundaries of `key`, and a row's block
    is the number of boundaries below its key (NULL keys in block 0, NaN
    keys in the last). The per-block totals (a partial aggregate: the
    exchange carries one row per block per task) and ONE hash exchange on
    the block feeding the block-partitioned local window are the only
    shuffles. Skew: all ties of one key value land in one block, so a
    tie-heavy key (e.g. Zipf counts) needs a unique surrogate —
    `vocab_coverage_curve` keys its row number for that reason.

    Exactness, by summed column type (the same rule as the query
    modules' DOUBLE aggregates, `queries/registry.py`):

    - integral and DECIMAL columns are summed exactly in their own type,
      as Spark's SUM types them;
    - FLOAT/DOUBLE columns are summed through a hidden DECIMAL(38,18)
      twin (per-block totals, offsets and the local window alike) and the
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

    NULL summands follow the window's SUM: a row whose block has only NULL
    summands up to it gets the preceding prefix, and a prefix of NULLs
    alone stays NULL.
    """
    n_blocks = 4 * _num_parts(df, num_partitions)
    df = df.localCheckpoint(eager=False)
    probs = [i / n_blocks for i in range(1, n_blocks)]
    # Boundaries become literals, so the block id is a pure row function.
    bounds = df.stat.approxQuantile(key, probs, 1.0 / (4 * n_blocks))
    bounds = sorted({b for b in bounds if b == b})  # dedupe, drop NaN
    blk = _count_below(bounds, F.col(key).cast("double"))
    tagged, summed = _decimal_twins(df.withColumn(_BLK, blk), sum_cols)
    offsets = _part_offsets(
        tagged, _BLK, {src: F.sum(col) for src, col in summed.items()}
    )
    out = tagged.join(offsets, _BLK)
    local = (
        Window.partitionBy(_BLK)
        .orderBy(F.asc(key))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # coalesce: a NULL on either side gives the other.
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
    return out.drop(_BLK, *twins, *[f"__o_{src}" for src in sum_cols])


def _count_below(bounds: list[float], k: Column) -> Column:
    """The number of `bounds` (ascending, no NaN) strictly below `k`: 0
    for a NULL `k`, all of them for a NaN `k`.

    A branchless binary search over ONE array literal, log2(n) lookups
    per row. The array is NaN-padded to 2^m - 1 slots (NaN is above every
    number in Spark's order, and not below itself), so every probe is in
    range and the pads never count. Two requirements shape it:

    - no lambda: Catalyst canonicalizes lambda variables to small
      expression ids, which collide with a key column whose id is one
      of them; constraint inference then pushed the block id of a
      `filter(bounds, b -> b < key)` onto the offsets side of the join,
      where the key does not exist;
    - the boundaries are the values of one literal, which generated
      code reads from a reference, not inlined constants, so the
      generated class is the same whatever the data (only m varies) and
      repeat calls hit the codegen cache.
    """
    size = 1 << len(bounds).bit_length()
    pads = [float("nan")] * (size - 1 - len(bounds))
    padded = F.array(*[F.lit(b) for b in bounds + pads])
    pos = F.lit(0)
    step = size // 2
    while step:
        probe = F.element_at(padded, pos + step) < k
        pos = pos + F.when(probe, step).otherwise(0)
        step //= 2
    return pos


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
