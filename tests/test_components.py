"""Connected components: chains, multiple components, canonical selection,
and the star loop's convergence check.

Star-loop convergence (operators/components.py): the per-round check is
`_non_star_nodes(e_new)` — a star-forest test on ONE generation — instead
of `_edge_set_diff(e_new, e)` on two. Pins here:

- check semantics: empty iff the oriented edge set is a star forest,
  including the mid-run shapes (chains, multi-level trees) where a node
  is both source and target;
- plan shape: one map-side-combinable Exchange, no Join;
- loop equivalence AND the one-round-earlier exit: the loop returns
  byte-identical components to a reference loop using the old
  generation-diff check, in exactly one FEWER round (the old loop's
  final confirming round is never built).

The label loop's check `_changed_nodes` and the two-generation
`_edge_set_diff` are pinned the same way: empty iff converged (including
labels swapped between nodes, which a bag-level checksum would miss),
and one Exchange each. A repeat run of a star-loop query compiles no
generated class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from chainhouse_spark.operators.components import (
    _changed_nodes,
    _edge_set_diff,
    _non_star_nodes,
    canonicalize,
    connected_components,
    connected_components_star,
)


def test_chain_and_islands(spark):
    # chain 1-2-3-4 (one component), pair 10-11, pair 20-21
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20)], "src long, dst long"
    )
    got = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_long_chain_converges(spark):
    n = 30  # diameter 30 chain — stresses the iteration bound
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    got = {r.node: r.cluster_id for r in connected_components(edges, max_iter=40).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_canonicalize(spark):
    edges = spark.createDataFrame([(5, 9), (9, 7), (2, 3)], "src long, dst long")
    comp = connected_components(edges)
    cl = {r.cluster_id: (r.n_members, r.canonical_id)
          for r in canonicalize(comp).collect()}
    assert cl == {5: (3, 5), 2: (2, 2)}


def test_star_matches_propagation(spark):
    from chainhouse_spark.operators.components import connected_components_star

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11), (21, 20), (4, 2)],
        "src long, dst long",
    )
    prop = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    star = {r.node: r.cluster_id
            for r in connected_components_star(edges).collect()}
    assert star == prop


def test_star_long_chain_few_rounds(spark):
    # A diameter-64 chain: min-propagation needs ~64 rounds; the
    # star algorithm must finish within max_iter=8 (edge set folds
    # roughly in half per round).
    from chainhouse_spark.operators.components import connected_components_star

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    )
    got = {r.node: r.cluster_id
           for r in connected_components_star(edges, max_iter=8).collect()}
    assert set(got.values()) == {0}
    assert len(got) == n + 1


def test_star_random_graph_equivalence(spark):
    import random

    from chainhouse_spark.operators.components import connected_components_star

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(70)]
    edges = [e for e in edges if e[0] != e[1]]
    df = spark.createDataFrame(edges, "src long, dst long")
    prop = {r.node: r.cluster_id for r in connected_components(df).collect()}
    star = {r.node: r.cluster_id for r in connected_components_star(df).collect()}
    assert star == prop


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


def _labels(spark, rows):
    return spark.createDataFrame(rows, "node long, label long")


def test_changed_nodes_semantics(spark):
    old = _labels(spark, [(1, 1), (2, 1), (3, 3)])
    # identical generations -> empty (the early-exit case)
    assert _changed_nodes(_labels(spark, [(1, 1), (2, 1), (3, 3)]), old).count() == 0
    # one relabel -> exactly that node
    got = _changed_nodes(_labels(spark, [(1, 1), (2, 1), (3, 1)]), old)
    assert [r.node for r in got.collect()] == [3]
    # labels SWAPPED between nodes: the label multiset is unchanged, so a
    # bag checksum would read "converged" — the per-node min/max must not
    swapped = _labels(spark, [(1, 3), (2, 1), (3, 1)])
    assert _changed_nodes(swapped, old).count() == 2


def test_edge_set_diff_semantics(spark):
    e = spark.createDataFrame([(5, 3), (7, 2)], "u long, v long")
    same = spark.createDataFrame([(7, 2), (5, 3)], "u long, v long")
    assert _edge_set_diff(same, e).count() == 0  # order-free set equality
    # one edge replaced -> both the vanished and the new edge surface
    moved = spark.createDataFrame([(5, 3), (7, 4)], "u long, v long")
    diff = {(r.u, r.v) for r in _edge_set_diff(moved, e).collect()}
    assert diff == {(7, 2), (7, 4)}
    # strict subset (e_new shrank) must read non-empty too
    assert _edge_set_diff(e.limit(1), e).count() > 0


def test_convergence_check_is_one_exchange(spark):
    a = _labels(spark, [(1, 1), (2, 1)])
    b = _labels(spark, [(1, 1), (2, 2)])
    # formatted plans print each node twice (tree line + detail header)
    plan = _formatted(_changed_nodes(a, b))
    assert plan.count("Exchange") == 2, plan
    e = spark.createDataFrame([(5, 3)], "u long, v long")
    f = spark.createDataFrame([(5, 4)], "u long, v long")
    plan = _formatted(_edge_set_diff(e, f))
    assert plan.count("Exchange") == 2, plan
    assert "Join" not in plan, plan


def test_loops_with_adversarial_edges(spark):
    # Duplicate, reversed and self-loop edges must still converge to the
    # right clustering (dupes collapse at the seed distinct; the count==1
    # trick relies on per-half-step .distinct() which this exercises).
    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (2, 2), (4, 3), (3, 4)],
        "src long, dst long",
    )
    star = {r.node: r.cluster_id for r in connected_components_star(edges).collect()}
    prop = {r.node: r.cluster_id for r in connected_components(edges).collect()}
    assert star == prop == {1: 1, 2: 1, 3: 3, 4: 3}


def test_repeat_run_compiles_no_class(spark, sf_dir):
    # The convergence checks compile once: a repeat run of a star-loop
    # query finds every generated class in the codegen cache.
    from chainhouse_spark.queries import QUERIES
    from chainhouse_spark.session import codegen_compiles

    query = QUERIES["dedup_clusters_star"]
    query(spark, sf_dir).collect()
    before, _ = codegen_compiles(spark)
    query(spark, sf_dir).collect()
    assert codegen_compiles(spark)[0] - before == 0
