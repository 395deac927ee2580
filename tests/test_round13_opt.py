"""Round-13 optimization pins.

Star-loop convergence (operators/components.py): the per-round check is
now `_non_star_nodes(e_new)` — a star-forest test on ONE generation —
instead of `_edge_set_diff(e_new, e)` on two. Pins here:

- check semantics: empty iff the oriented edge set is a star forest,
  including the mid-run shapes (chains, multi-level trees) where a node
  is both source and target;
- plan shape: one map-side-combinable Exchange, no Join;
- loop equivalence AND the one-round-earlier exit: the new loop returns
  byte-identical components to a reference loop using the old
  generation-diff check, in exactly one FEWER round (the old loop's
  final confirming round is never built).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chainhouse_spark.operators.components import (
    _edge_set_diff,
    _non_star_nodes,
    connected_components,
    connected_components_star,
)
from chainhouse_spark.session import build_spark


@pytest.fixture(scope="module")
def spark():
    s = build_spark(app_name="test-round13-opt")
    yield s


def _formatted(df):
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _edges(spark, rows):
    return spark.createDataFrame(rows, "u long, v long")


def test_non_star_nodes_semantics(spark):
    # A star forest (every edge points at its component root): empty.
    star = _edges(spark, [(5, 1), (3, 1), (9, 1), (8, 7)])
    assert _non_star_nodes(star).count() == 0
    # A chain 3->2->1: node 2 is both source and target.
    chain = _edges(spark, [(3, 2), (2, 1)])
    assert [r.node for r in _non_star_nodes(chain).collect()] == [2]
    # Two-level tree: 9->5, 5->1 plus a direct 7->1 — only 5 is interior.
    tree = _edges(spark, [(9, 5), (5, 1), (7, 1)])
    assert [r.node for r in _non_star_nodes(tree).collect()] == [5]
    # Empty edge set is trivially a star forest.
    assert _non_star_nodes(_edges(spark, [])).count() == 0


def test_non_star_nodes_is_one_exchange(spark):
    plan = _formatted(_non_star_nodes(_edges(spark, [(3, 2), (2, 1)])))
    # formatted plans print each node twice (tree line + detail header)
    assert plan.count("Exchange") == 2, plan
    assert "Join" not in plan, plan


def _star_loop_with_diff_check(edges, src="src", dst="dst", max_iter=50):
    """Reference: the round-12 star loop body with the generation-diff
    convergence check — used to pin value equality AND the round count."""
    e = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        e_large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        mins2 = e_large.groupBy("u").agg(F.min("v").alias("m"))
        joined = e_large.join(mins2, "u")
        e_new = (
            joined.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        changed = _edge_set_diff(e_new, e).limit(1).count()
        e = e_new
        if changed == 0:
            break
    roots = e.select(F.col("v").alias("node")).subtract(
        e.select(F.col("u").alias("node"))
    )
    out = e.select(
        F.col("u").alias("node"), F.col("v").alias("cluster_id")
    ).union(roots.select("node", F.col("node").alias("cluster_id")))
    return out, rounds


def test_star_loop_equivalence_and_earlier_exit(spark, monkeypatch):
    # A long path (needs several folding rounds), a flat star, an isolated
    # pair, plus duplicate/reversed/self-loop noise.
    rows = (
        [(i, i + 1) for i in range(1, 10)]  # path 1-2-...-10
        + [(20, 21), (20, 22), (20, 23)]  # star rooted at 20
        + [(31, 30), (30, 31), (31, 31)]  # pair + noise
    )
    edges = spark.createDataFrame(rows, "src long, dst long")

    import chainhouse_spark.operators.components as C

    calls = {"n": 0}
    real = C._non_star_nodes

    def counting(e):
        calls["n"] += 1
        return real(e)

    monkeypatch.setattr(C, "_non_star_nodes", counting)
    new = {r.node: r.cluster_id for r in connected_components_star(edges).collect()}
    new_rounds = calls["n"]

    ref_df, ref_rounds = _star_loop_with_diff_check(edges)
    ref = {r.node: r.cluster_id for r in ref_df.collect()}

    prop = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert new == ref == prop
    # The reference loop needs one extra confirming round after the edge
    # set stabilizes; the star-forest check exits on the stable round.
    assert new_rounds == ref_rounds - 1, (new_rounds, ref_rounds)


def _sums_rows(df, key):
    return sorted(
        tuple(r) for r in df.collect()
    )


@pytest.mark.parametrize(
    "rows",
    [
        [(float(i), i % 7 + 1, float(i) / 3.0) for i in range(1, 500)],
        [(float(i) ** 2, 1, 0.5) for i in range(1, 50)],  # skewed keys
        [(-5.0, 3, 1.0), (0.0, 4, 2.0), (7.5, 5, 3.0)],  # negatives
        [(1.0, 2, 1.0)],  # single row
        [],  # empty
        [(3.0, i, 1.0) for i in range(1, 20)],  # constant key (one block)
    ],
)
def test_block_running_sums_matches_range_form(spark, rows):
    """The block-quantile form (round-13) must produce per-row-identical
    running sums to the range-partitioned form for any key distribution —
    including the degenerate single-block case (all keys equal; summed
    columns here are tie-invariant totals so the collapse is
    well-defined), negatives, and empty input."""
    from chainhouse_spark.operators.ranking import global_running_sums

    df = spark.createDataFrame(rows, "k double, a long, x double")
    # constant-key case: ties share a key, so sum per-key must collapse —
    # compare the per-key LAST running sum (the ECDF-step contract)
    old = global_running_sums(df, [F.asc("k")], {"a": "ca", "x": "cx"})
    new = global_running_sums(
        df, [F.asc("k")], {"a": "ca", "x": "cx"}, block_key="k"
    )
    old_steps = sorted(
        tuple(r)
        for r in old.groupBy("k").agg(F.max("ca"), F.max("cx")).collect()
    )
    new_steps = sorted(
        tuple(r)
        for r in new.groupBy("k").agg(F.max("ca"), F.max("cx")).collect()
    )
    assert new_steps == old_steps
    # schema (names, types, order) must be identical too
    assert new.schema == old.schema


def test_block_running_sums_null_keys_first(spark):
    from chainhouse_spark.operators.ranking import global_running_sums

    df = spark.createDataFrame(
        [(None, 10), (1.0, 1), (2.0, 2), (None, 5)], "k double, a long"
    )
    new = global_running_sums(df, [F.asc("k")], {"a": "ca"}, block_key="k")
    old = global_running_sums(df, [F.asc("k")], {"a": "ca"})
    # NULL keys sort first (ASC NULLS FIRST) in both forms; totals at the
    # non-null keys must agree exactly.
    get = lambda d: {r.k: r.ca for r in d.collect() if r.k is not None}
    assert get(new) == get(old) == {1.0: 16, 2.0: 18}


def test_block_running_sums_runs_fewer_shuffles(spark):
    """The whole point of the block form: ONE full-data exchange (hash on
    the deterministic block id) instead of range-exchange + checkpoint +
    hash-exchange. Pin via the stage count of the executed job group —
    fewer shuffle boundaries = fewer stages for the same query."""
    import uuid

    from chainhouse_spark.operators.ranking import global_running_sums

    df = spark.range(1, 20001).select(
        (F.col("id") % 977).cast("double").alias("k0"),
        F.lit(1).alias("one"),
    )
    grouped = df.groupBy("k0").agg(F.sum("one").alias("t"))

    def stages(fn) -> int:
        group = f"r13-{uuid.uuid4()}"
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

    n_old = stages(
        lambda: global_running_sums(grouped, [F.asc("k0")], {"t": "ct"})
    )
    n_new = stages(
        lambda: global_running_sums(
            grouped, [F.asc("k0")], {"t": "ct"}, block_key="k0"
        )
    )
    assert n_new < n_old, (n_new, n_old)


def test_star_loop_converged_input_single_round(spark):
    # Input already a star forest: exactly one (identity) round, exit.
    edges = spark.createDataFrame(
        [(5, 1), (3, 1), (9, 1)], "src long, dst long"
    )
    got = {r.node: r.cluster_id for r in connected_components_star(edges).collect()}
    assert got == {5: 1, 3: 1, 9: 1, 1: 1}


def _running_sum_forms(df, key="k"):
    """Both global_running_sums forms at several partition counts."""
    from chainhouse_spark.operators.ranking import global_running_sums

    for p in (2, 4, 7, 16):
        yield f"range/P={p}", global_running_sums(
            df, [F.asc(key)], {"x": "cx"}, num_partitions=p
        )
        yield f"block/P={p}", global_running_sums(
            df, [F.asc(key)], {"x": "cx"}, num_partitions=p, block_key=key
        )


def test_double_running_sums_are_boundary_independent(spark):
    """DOUBLE running sums are exact (summed in DECIMAL(38,18), rounded
    once to DOUBLE), so every form and partition count gives the same
    bits: the property rows0 above checks at one partition count only.
    x = i/3 does not add exactly in binary, so IEEE summation in a
    boundary-dependent order would differ in the last bit."""
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
    naming the column, in both forms — never be skipped by SUM and never
    come back as a NULL running sum."""
    rows = [(float(i), float(i) / 3.0) for i in range(1, 40)] + [(50.0, bad)]
    df = spark.createDataFrame(rows, "k double, x double")
    for form, out in _running_sum_forms(df):
        with pytest.raises(Exception, match="column 'x'"):
            out.collect()


@pytest.mark.parametrize("typ", ["long", "double"])
def test_running_sums_carry_prefix_over_null_summands(spark, typ):
    """A row whose part has only NULL summands up to it gets the preceding
    prefix, as a global window's SUM gives it, in both forms at every
    partition count; a prefix of NULLs alone stays NULL. The block form at
    P=7 puts the NULL at k=50 alone in its block, so its local sum is
    NULL and the offset alone carries the prefix."""
    num = float if typ == "double" else int
    rows = [(0.0, None)] + [(float(i), num(i)) for i in range(1, 40)]
    rows.append((50.0, None))
    df = spark.createDataFrame(rows, f"k double, x {typ}")
    want = {0.0: None, 50.0: 780}
    want.update({float(i): i * (i + 1) // 2 for i in range(1, 40)})
    for form, out in _running_sum_forms(df):
        assert dict(out.select("k", "cx").collect()) == want, form
