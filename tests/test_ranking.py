"""Pins for `operators/ranking.py`: exact distributed row numbers and
running sums, checked against Spark's own unpartitioned windows, plus the
plan shape and the input-evaluation count each form relies on.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from chainhouse_spark.operators.ranking import (
    global_row_number,
    global_running_sums,
)

_NAN = float("nan")


def test_global_row_number_values_are_exact(spark):
    # Rank parity with the single-task window it replaces, on a value
    # column with heavy ties (k) broken by unique id — exactness needs the
    # total order, and the range partitioner must not perturb it.
    base = spark.range(0, 5000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    got = {
        r["id"]: r["rk"]
        for r in global_row_number(
            base, [F.asc("k"), F.desc("id")], "rk", num_partitions=8
        ).collect()
    }
    want = {
        r["id"]: r["rk"]
        for r in base.select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.asc("k"), F.desc("id")))
            .alias("rk"),
        ).collect()
    }
    assert got == want
    # global_running_sums takes one ascending key: (k ASC, id DESC) as a
    # single unique column.
    keyed = base.withColumn("ok", F.col("k") * 5000 + (4999 - F.col("id")))
    run = {
        r["id"]: r["rs"]
        for r in global_running_sums(
            keyed, "ok", {"k": "rs"}, num_partitions=8
        ).collect()
    }
    want_run = {
        r["id"]: r["rs"]
        for r in base.select(
            "id",
            F.sum("k")
            .over(
                Window.orderBy(F.asc("k"), F.desc("id")).rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            .alias("rs"),
        ).collect()
    }
    assert run == want_run


def test_global_row_number_schema_is_non_null_bigint(spark):
    # The row number is appended as a non-null BIGINT after the input's
    # columns, whatever the input's nullability.
    df = spark.createDataFrame([(None,), (2,), (None,), (1,)], "a int")
    out = global_row_number(df, [F.asc("a")], "rk", num_partitions=3)
    assert out.schema.simpleString() == "struct<a:int,rk:bigint>"
    assert [f.nullable for f in out.schema.fields] == [True, False]
    assert sorted(out.collect(), key=lambda r: r.rk) == [
        (None, 1), (None, 2), (1, 3), (2, 4)
    ]


def test_global_row_number_is_deterministic_across_runs(spark):
    # Regression: re-deriving spark_partition_id in the offsets branch and
    # the main branch gave partitioner-dependent (FLAKY) ranks whenever
    # Catalyst didn't reuse the range exchange — localCheckpoint pins one
    # materialization. Three fresh builds must agree exactly.
    from pyspark.sql import functions as F2

    def build():
        base = (
            spark.range(0, 20000)
            .select(F2.col("id"), (F2.col("id") % 13).alias("k"))
            .groupBy("k", (F2.col("id") % 997).alias("g"))
            .agg(F2.count(F2.lit(1)).alias("t"))
        )
        return sorted(
            (r["k"], r["g"], r["rk"])
            for r in global_row_number(
                base, [F2.asc("t"), F2.asc("k"), F2.asc("g")], "rk"
            ).collect()
        )

    first = build()
    for _ in range(2):
        assert build() == first


def test_global_row_number_no_post_checkpoint_exchange(spark):
    # The local rank comes from monotonically_increasing_id above an
    # explicit sortWithinPartitions, so the main data path after the
    # checkpoint must be scan -> project -> broadcast join — a window
    # partitioned by pid would re-shuffle the full data (Exchange
    # hashpartitioning(__gr_pid)) per call.
    df = spark.range(0, 5000).select(
        (F.col("id") % 37).alias("score"), F.col("id").alias("k")
    )
    ranked = global_row_number(df, [F.desc("score"), F.asc("k")], "rk")
    text = ranked._sc._jvm.PythonSQLUtils.explainString(
        ranked._jdf.queryExecution(), "formatted"
    )
    assert "hashpartitioning(__gr_pid" not in text, text
    # exactly ONE Window node (the constant-size offsets running sum;
    # formatted plans print each node twice — tree line + detail header)
    assert text.count("Window") == 2, text


def test_rank_input_evaluated_once(spark):
    # repartitionByRange's boundary-sampling job fully executes
    # global_row_number's input subtree, so a MAP-ONLY input is evaluated
    # exactly 2.0x per call — once for the sample, once for the shuffle
    # map stage. materialize_input=True makes the sampling pass double as
    # a lazy-localCheckpoint materialization: exactly 1.0x. The default
    # stays False because aggregate-shaped inputs already amortize via
    # shuffle-stage reuse and MEASURED a regression when
    # blanket-materialized (OPTIMIZATION_r12.md W9). global_running_sums
    # always checkpoints its input, which its eager quantile job
    # materializes: 1.0x. Values are boundary-independent, so this is
    # behavior-only (results pinned elsewhere); an accumulator probe
    # counts the evaluations.
    sc = spark.sparkContext
    n = 5000

    def probe(op, **kw):
        acc = sc.accumulator(0)

        def bump(x):
            acc.add(1)
            return x

        bump_udf = F.udf(bump, "long").asNondeterministic()
        df = spark.range(n).select(
            bump_udf("id").alias("k"),
            (F.col("id") % 97).alias("score"),
            F.lit(1).alias("c"),
        )
        if op == "rank":
            out = global_row_number(
                df, [F.desc("score"), F.asc("k")], "rk", **kw
            )
        else:
            out = global_running_sums(df, "k", {"c": "cum"}, **kw)
        out.write.format("noop").mode("overwrite").save()
        return acc.value / n

    assert probe("rank", materialize_input=True) == 1.0
    assert probe("sums") == 1.0
    # the False default is a deliberate, measured choice for
    # aggregate-shaped inputs — pin the 2.0x so an accidental blanket
    # flip shows up here
    assert probe("rank") == 2.0


def _steps(df):
    """Per key, the largest running sums (the last, for positive
    summands); NULL and NaN keys made comparable and sortable."""

    def canon(k):
        if k is None:
            return (0, 0.0)
        return (2, 0.0) if k != k else (1, k)

    rows = df.groupBy("k").agg(F.max("ca"), F.max("cx")).collect()
    return sorted((canon(r[0]), r[1], r[2]) for r in rows)


@pytest.mark.parametrize(
    "rows",
    [
        [(float(i), i % 7 + 1, float(i) / 3.0) for i in range(1, 500)],
        [(float(i) ** 2, 1, 0.5) for i in range(1, 50)],  # skewed keys
        [(-5.0, 3, 1.0), (0.0, 4, 2.0), (7.5, 5, 3.0)],  # negatives
        [(1.0, 2, 1.0)],  # single row
        [],  # empty
        [(3.0, i, 1.0) for i in range(1, 20)],  # constant key (one block)
        # NaN keys sort last
        [(float(i), i % 5 + 1, i / 3.0) for i in range(1, 60)]
        + [(_NAN, 7, 2.0), (_NAN, 3, 1.0)],
        [(None, i, i / 3.0) for i in range(1, 20)],  # all-NULL keys
        # NULL keys first and NaN keys last, together
        [(None, 4, 1.0), (_NAN, 5, 2.0), (None, 6, 0.25), (_NAN, 1, 1.0)]
        + [(float(i), 1, i / 7.0) for i in range(1, 40)],
    ],
)
def test_block_running_sums_matches_range_form(spark, rows):
    """global_running_sums must give the running sums of Spark's
    unpartitioned window, SUM(...) OVER (ORDER BY k ROWS UNBOUNDED
    PRECEDING), for any key distribution: skewed, negative, a single row,
    empty input, one constant key (a single block), NaN keys, all-NULL
    keys (no quantile boundaries at all) and NULL with NaN keys. Tied keys
    take their running sums in an arbitrary order, so the comparison is
    per key: the LAST running sum of each key (the ECDF-step contract).
    The DOUBLE column is summed exactly, so the window sums its
    DECIMAL(38,18) image and rounds once, as the operator documents."""
    df = spark.createDataFrame(rows, "k double, a long, x double")
    got = global_running_sums(df, "k", {"a": "ca", "x": "cx"})
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = df.select(
        "*",
        F.sum("a").over(w).alias("ca"),
        F.sum(F.col("x").cast("decimal(38,18)"))
        .over(w)
        .cast("double")
        .alias("cx"),
    )
    assert _steps(got) == _steps(want)
    # schema (names, types, order, nullability) must be identical too
    assert got.schema == want.schema


def test_block_running_sums_null_keys_first(spark):
    df = spark.createDataFrame(
        [(None, 10), (1.0, 1), (2.0, 2), (None, 5)], "k double, a long"
    )
    got = global_running_sums(df, "k", {"a": "ca"})
    # NULL keys sort first (ASC NULLS FIRST): their 15 precedes the
    # non-null keys' running sums.
    get = lambda d: {r.k: r.ca for r in d.collect() if r.k is not None}
    assert get(got) == {1.0: 16, 2.0: 18}


def test_block_running_sums_runs_fewer_shuffles(spark):
    """The block form runs ONE full-data exchange (hash on the
    deterministic block id) besides the per-block totals. Pin the stage
    count of the executed job group, the eager quantile job included: 15
    on this aggregate input, against 20 for the range-partitioned form
    (range exchange + checkpoint + hash exchange) that it replaced."""
    import uuid

    df = spark.range(1, 20001).select(
        (F.col("id") % 977).cast("double").alias("k0"),
        F.lit(1).alias("one"),
    )
    grouped = df.groupBy("k0").agg(F.sum("one").alias("t"))

    def stages(fn) -> int:
        group = f"ranking-{uuid.uuid4()}"
        sc = spark.sparkContext
        sc.setJobGroup(group, "stage-count")
        fn().write.format("noop").mode("overwrite").save()
        sc.setJobGroup(None, None)
        tracker = sc.statusTracker()
        sids = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info:
                sids.update(info.stageIds)
        return len(sids)

    n = stages(lambda: global_running_sums(grouped, "k0", {"t": "ct"}))
    assert n == 15, n


_FIRST_COLUMN_KEY = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from chainhouse_spark.operators.ranking import global_running_sums
from chainhouse_spark.session import build_spark

spark = build_spark(app_name="ranking-first-key", master="local[2]",
                    shuffle_partitions=4)
# k0 is the first column this JVM names: expression id 1.
df = spark.range(1, 20001).select(
    (F.col("id") % 977).cast("double").alias("k0"), F.lit(1).alias("one")
)
grouped = df.groupBy("k0").agg(F.sum("one").alias("t"))
out = global_running_sums(grouped, "k0", {"t": "ct"})
print("MAX_CT", out.agg(F.max("ct")).first()[0])
spark.stop()
"""


def test_running_sums_key_with_first_expression_id():
    """A key whose expression id is 1 only exists in a fresh JVM, so the
    call runs in a subprocess. Catalyst canonicalizes lambda variables to
    small ids; a lambda-based block id collided with the key there and
    failed with "Could not find k0#1"."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", _FIRST_COLUMN_KEY, root],
        capture_output=True, text=True, timeout=600, env=env,
    )
    assert "MAX_CT 20000" in proc.stdout, proc.stderr[-3000:]


@pytest.mark.parametrize("n", [0, 1, 2, 3, 4, 7, 8, 12])
def test_block_id_counts_bounds_below_key(spark, n):
    """The block id is the number of boundaries strictly below the key,
    as `bisect_left` gives it; NULL keys count 0 and NaN keys all."""
    from bisect import bisect_left

    from chainhouse_spark.operators.ranking import _count_below

    bounds = [float(2 * i) for i in range(n)]
    keys = [float(x) / 2 for x in range(-2, 4 * n + 3)] + [
        float("-inf"), float("inf"), _NAN, None
    ]
    df = spark.createDataFrame([(k,) for k in keys], "k double")
    got = df.select("k", _count_below(bounds, F.col("k")).alias("b")).collect()
    for r in got:
        if r.k is None:
            want = 0
        elif r.k != r.k:
            want = n
        else:
            want = bisect_left(bounds, r.k)
        assert r.b == want, (n, r.k, r.b, want)


def test_running_sums_reject_non_numeric_key_at_construction(spark):
    """The quantile job runs while the DataFrame is built, so a key that
    is not numeric fails at the call, before anything is executed."""
    df = spark.createDataFrame([("a", 1), ("b", 2)], "k string, x long")
    with pytest.raises(Exception, match="Quantile calculation for column k"):
        global_running_sums(df, "k", {"x": "cx"})


def _running_sum_forms(df, key="k"):
    """global_running_sums at several partition counts."""
    for p in (2, 4, 7, 16):
        yield f"P={p}", global_running_sums(
            df, key, {"x": "cx"}, num_partitions=p
        )


def test_double_running_sums_are_boundary_independent(spark):
    """DOUBLE running sums are exact (summed in DECIMAL(38,18), rounded
    once to DOUBLE), so every partition count gives the same bits: the
    property rows0 above checks at one partition count only. x = i/3 does
    not add exactly in binary, so IEEE summation in a boundary-dependent
    order would differ in the last bit."""
    from decimal import Decimal, localcontext

    n = 1999
    df = spark.createDataFrame(
        [(float(i), i / 3.0) for i in range(1, n + 1)], "k double, x double"
    )
    # Oracle: Spark's own decimal image of each summand, summed exactly
    # in Python and rounded once (float(Decimal) rounds correctly).
    twins = df.select("k", F.col("x").cast("decimal(38,18)").alias("d"))
    want, acc = {}, Decimal(0)
    with localcontext(prec=60):  # exact: 38 digits never round
        for r in sorted(twins.collect()):
            acc += r.d
            want[r.k] = float(acc)
    schema = "struct<k:double,x:double,cx:double>"
    for form, out in _running_sum_forms(df):
        assert dict(out.select("k", "cx").collect()) == want, form
        assert out.schema.simpleString() == schema, form


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_running_sums_raise_on_non_finite_summand(spark, bad):
    """A NaN or ±Inf summand has no decimal image; it must fail loudly,
    naming the column — never be skipped by SUM and never come back as a
    NULL running sum."""
    rows = [(float(i), float(i) / 3.0) for i in range(1, 40)] + [(50.0, bad)]
    df = spark.createDataFrame(rows, "k double, x double")
    for form, out in _running_sum_forms(df):
        with pytest.raises(Exception, match="column 'x'"):
            out.collect()


@pytest.mark.parametrize("typ", ["long", "double"])
def test_running_sums_carry_prefix_over_null_summands(spark, typ):
    """A row whose block has only NULL summands up to it gets the
    preceding prefix, as a global window's SUM gives it, at every
    partition count; a prefix of NULLs alone stays NULL. At P=7 the NULL
    at k=50 is alone in its block, so its local sum is NULL and the offset
    alone carries the prefix."""
    num = float if typ == "double" else int
    rows = [(0.0, None)] + [(float(i), num(i)) for i in range(1, 40)]
    rows.append((50.0, None))
    df = spark.createDataFrame(rows, f"k double, x {typ}")
    want = {0.0: None, 50.0: 780}
    want.update({float(i): i * (i + 1) // 2 for i in range(1, 40)})
    for form, out in _running_sum_forms(df):
        assert dict(out.select("k", "cx").collect()) == want, form
