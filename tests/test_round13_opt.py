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


def test_star_loop_converged_input_single_round(spark):
    # Input already a star forest: exactly one (identity) round, exit.
    edges = spark.createDataFrame(
        [(5, 1), (3, 1), (9, 1)], "src long, dst long"
    )
    got = {r.node: r.cluster_id for r in connected_components_star(edges).collect()}
    assert got == {5: 1, 3: 1, 9: 1, 1: 1}
