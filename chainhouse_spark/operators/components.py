"""Distributed connected components — the clustering stage of near-dup
deduplication: pair edges (from LSH/Jaccard/SimHash) become duplicate
CLUSTERS, and each cluster keeps one canonical document.

Algorithm: iterative min-label propagation (hash-to-min family). Every node
starts labeled with itself; each round a node takes the minimum label among
itself and its neighbors; convergence when no label changes. Rounds needed
are bounded by component diameter — for dedup graphs (small, dense clusters)
this is a handful; the classic alternating large/small-star optimization is
unnecessary at that diameter.

Spark mechanics that matter at scale:
- each round is one shuffle (edge⨝label + groupBy-min, both on node keys);
- `localCheckpoint()` per round cuts the lineage — without it the plan
  doubles every iteration and the job dies on planning time, the classic
  iterative-DataFrame mistake;
- the convergence check is one union + groupBy aggregate per round
  (`_changed_nodes` for the label loop, `_non_star_nodes` for the star
  loop) — a single map-side-combinable exchange, never a join of the two
  generations; the star loop's check reads ONE generation and exits on
  the first star-forest round, one full round before a generation diff
  could;
- the check's action is `isEmpty()`: a take of one row straight off the
  aggregate. `limit(1).count()` planned a second, single-partition
  exchange (one more job per round) and a whole-stage-codegen limit whose
  counter field is named from a JVM-wide sequence, so its generated class
  never hit the codegen cache and was compiled again on every round.

Iterative -> not SQL-expressible as one query in Spark, but the fixpoint IS
expressible as a recursive CTE in DuckDB, so the cluster query in
queries/llm_dedup.py is fully oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _changed_nodes(new_labels: DataFrame, labels: DataFrame) -> DataFrame:
    """Nodes whose label differs between two label generations, in ONE
    exchange (round-12, guide §2.2): each generation holds every node
    exactly once, so after union + groupBy(node) a changed label shows
    as min != max — replaces the old/new equi-join (2 label-table
    exchanges) with a single map-side-combinable aggregate. The per-node
    min/max form (not a multiset compare) also catches labels SWAPPED
    between nodes, which any bag-level checksum would miss."""
    return (
        new_labels.union(labels)
        .groupBy("node")
        .agg((F.min("label") != F.max("label")).alias("__d"))
        .filter(F.col("__d"))
    )


def _edge_set_diff(e_new: DataFrame, e: DataFrame) -> DataFrame:
    """Symmetric difference of two DISTINCT (u, v) edge sets in ONE
    exchange: after union + groupBy(u, v) an edge counts 2 iff it is in
    both sets — any count-1 row is a difference. The anti-join form this
    replaces shuffled both edge lists twice (4 edge-sized exchanges per
    round, ~1/3 of a star round's shuffle volume); this is one
    map-side-combinable aggregate (round-12, guide §2.2). Requires both
    inputs deduplicated — the star loop guarantees that with .distinct()
    on every half-step. (Round-13: the star loop's convergence check is
    now `_non_star_nodes`, which looks at one generation only and fires a
    round earlier; this diff stays as the generic two-generation set
    compare and the equivalence baseline the tests pin against.)"""
    return (
        e_new.union(e)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") == 1)
    )


def _non_star_nodes(e: DataFrame) -> DataFrame:
    """Nodes that appear as BOTH a source (u) and a target (v) of the
    big->small oriented edge set — EMPTY iff `e` is a star forest, i.e.
    every edge points directly at its component's root.

    Round-13 convergence check for the alternating-star loop, replacing
    the `_edge_set_diff(e_new, e)` comparison (guide §2.2/§1.2):

    - star forest => fixpoint: with every edge (u, r), u > r and r never
      a source, large-star reproduces each (u, r) from center r (m =
      least(r, min children) = r) and emits nothing from child centers
      (their only neighbor r is smaller), and small-star maps each u to
      mins2(u) = r — the round is the identity, so exiting here returns
      the exact edge set the generation-diff loop would return after one
      MORE confirming round.
    - fixpoint reached => star forest: the loop's half-steps preserve
      connectivity and big->small orientation, so a stable generation
      with some node x both source and target (edges (x, a), (b, x),
      a < x < b) cannot survive large-star — center x re-points b at
      m <= a < x, changing the set.

    So the check fires exactly one round EARLIER than the diff (the
    converged round's two joins, two distincts and checkpoints are never
    built), examines ONE generation instead of two (half the check's
    shuffle rows, and narrower), and is still one map-side-combinable
    exchange. Requires the loop's invariant orientation u > v."""
    return (
        e.select(F.col("u").alias("node"), F.lit(1).alias("s"), F.lit(0).alias("d"))
        .union(e.select(F.col("v").alias("node"), F.lit(0).alias("s"), F.lit(1).alias("d")))
        .groupBy("node")
        .agg((F.max("s") + F.max("d") == 2).alias("__b"))
        .filter(F.col("__b"))
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Edges (undirected; any orientation) -> (node, cluster_id) where
    cluster_id is the minimum node id in the component."""
    sym = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).union(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["b"] == labels["node"])
            .groupBy(sym["a"].alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(nbr_min, "node", "left_outer")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
            )
            # eager=False: the convergence check below materializes this
            # round's labels in the SAME job — one Spark job per round
            # instead of checkpoint-job + check-job (guide §1.2: fewer
            # actions, identical lineage-cut semantics).
            .localCheckpoint(eager=False)
        )
        converged = _changed_nodes(new_labels, labels).isEmpty()
        labels = new_labels
        if converged:
            break
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def canonicalize(components: DataFrame, id_col: str = "node") -> DataFrame:
    """(node, cluster_id) -> per-cluster summary with the canonical (minimum)
    member and the cluster size — the drop-list input for dedup."""
    return components.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min(id_col).alias("canonical_id"),
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris
    et al. 2014, "Connected Components in MapReduce and Beyond") ->
    (node, cluster_id), cluster_id = component minimum. Same contract as
    `connected_components`, different convergence bound: O(log^2 n)
    rounds REGARDLESS of diameter (vs diameter rounds for
    min-propagation) — the form that survives long-chain graphs
    (web link paths, citation chains), where a 10^6-hop component would
    hang the propagation loop.

    Each round is two half-steps over the edge list:
      large-star: every node connects its LARGER neighbors to the minimum
        of its neighborhood (incl. itself) — long chains fold in half;
      small-star: every node connects its not-larger neighbors to that
        minimum — stars flatten.
    Edges stay oriented big->small throughout; on convergence the edge
    set IS the star (node -> component min). Both half-steps are one
    groupBy-min plus one join on the node key; `localCheckpoint` per
    half-step cuts the iterative-plan lineage exactly as in
    `connected_components`."""
    e = (
        edges.select(F.col(src).alias("x"), F.col(dst).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .select(
            F.greatest("x", "y").alias("u"), F.least("x", "y").alias("v")
        )
        .distinct()
        # eager=False throughout the loop: each round's convergence check
        # materializes the round's two half-step checkpoints and this seed
        # in ONE job — the eager form paid 3 driver-blocking jobs per
        # round (2 checkpoints + count), measured ~25% of the star loop's
        # wall at sf0.1.
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        # large-star over the symmetrized graph
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
        # small-star on the downward-oriented result
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
        # Round-13: star-forest test on e_new alone — fires one round
        # earlier than diffing against e (see _non_star_nodes), and this
        # check is still the ONE job that materializes the round's lazy
        # checkpoints.
        converged = _non_star_nodes(e_new).isEmpty()
        e = e_new
        if converged:
            break
    roots = e.select(F.col("v").alias("node")).subtract(
        e.select(F.col("u").alias("node"))
    )
    return e.select(F.col("u").alias("node"), F.col("v").alias("cluster_id")).union(
        roots.select("node", F.col("node").alias("cluster_id"))
    )
