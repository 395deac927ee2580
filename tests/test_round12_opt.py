"""Round-12 OPTIMIZATION pins: every rewrite here changed an operator's
internals while contracting identical results — each gets the equivalence
(or plan-shape) pin the optimization relies on, per the round's rule.

Covered:
- graph._order_part_pairs: in-row pair generation == the op self-join.
- graph_kcore_peel: incremental degree-decrement peel == the recompute
  (double semi-join) form it replaced.
- functions.vector.cosine_prenorm_sql: bit-identical to cosine_sql.
- dedup_minhash_lsh_planned: signatures computed ONCE (checkpoint) — the
  executed join's final plan re-reads the checkpoint, not parquet.
- stream_decontaminate_bloom: fully stateless — append mode, no
  aggregation anywhere in the streaming plan.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from chainhouse_spark.queries import QUERIES
from chainhouse_spark.session import build_spark
from chainhouse_spark.tables import load_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = build_spark(app_name="test-round12-opt")
    yield s


def test_order_part_pairs_matches_self_join(spark):
    from chainhouse_spark.queries.graph import _order_part_pairs

    li = load_table(spark, SF, "lineitem")
    got = sorted(
        tuple(r) for r in _order_part_pairs(li).collect()
    )
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    want = sorted(
        tuple(r)
        for r in a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .collect()
    )
    assert got == want  # multiset equality, per-order fanout included


def test_kcore_incremental_matches_recompute(spark):
    # The shipped incremental peel must emit exactly the recompute form's
    # summary (the form the oracle states declaratively): three rounds of
    # "drop nodes with degree < 3 within the survivors", then
    # (n_start, n_kept, edges_kept, min_degree_kept).
    from chainhouse_spark.queries.graph import _edges

    got = QUERIES["graph_kcore_peel"](spark, SF).collect()[0]

    edges = _edges(spark, SF)
    bi = edges.select(F.col("src").alias("node"), F.col("dst").alias("nbr")).unionAll(
        edges.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
    ).localCheckpoint()
    keep = bi.select("node").distinct()
    n_start = keep.count()
    for _ in range(3):
        surv = bi.join(keep, "node", "left_semi").join(
            keep.select(F.col("node").alias("nbr")), "nbr", "left_semi"
        )
        keep = (
            surv.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= 3)
            .select("node")
            .localCheckpoint()
        )
    kept_bi = bi.join(keep, "node", "left_semi").join(
        keep.select(F.col("node").alias("nbr")), "nbr", "left_semi"
    )
    deg = kept_bi.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    row = deg.agg(
        F.coalesce((F.sum("deg") / 2).cast("bigint"), F.lit(0)).alias("e"),
        F.coalesce(F.min("deg"), F.lit(0)).cast("bigint").alias("md"),
    ).collect()[0]
    assert got.n_nodes_start == n_start
    assert got.n_nodes_kept == keep.count()
    assert got.n_edges_kept == row.e
    assert got.min_degree_kept == row.md


def test_cosine_prenorm_bit_identical(spark):
    from chainhouse_spark.functions.vector import (
        cosine_prenorm_sql,
        cosine_sql,
        norm_sql,
    )

    df = (
        spark.range(200)
        .select(
            F.col("id").alias("i"),
            F.expr(
                "transform(sequence(1, 16), j -> "
                "sin(CAST(id * j AS DOUBLE)) * CASE WHEN j % 3 = 0 "
                "THEN -1.0 ELSE 1.0 END)"
            ).alias("va"),
            F.expr(
                "transform(sequence(1, 16), j -> cos(CAST(id + j AS DOUBLE)))"
            ).alias("vb"),
        )
        .withColumn("na", F.expr(norm_sql("va")))
        .withColumn("nb", F.expr(norm_sql("vb")))
    )
    diff = df.select(
        F.expr(cosine_sql("va", "vb")).alias("c1"),
        F.expr(cosine_prenorm_sql("va", "vb", "na", "nb")).alias("c2"),
    ).filter("c1 IS DISTINCT FROM c2")
    assert diff.count() == 0  # exact equality, no tolerance


def test_minhash_planned_single_signature_pass(spark):
    # The executed banded join must read the CHECKPOINTED signature table —
    # a parquet scan in the final plan means the shingle+md5+minima
    # pipeline is being re-derived (the pre-round-12 double pass).
    df = QUERIES["dedup_minhash_lsh_planned"](spark, SF)
    text = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert text.count("Scan parquet") == 0, text
    assert "Scan ExistingRDD" in text


def test_stream_bloom_is_stateless(spark, monkeypatch):
    # The probe-and-count is in-row, so the streaming plan must carry NO
    # aggregation (no state store, no shuffle) and run in append mode.
    import chainhouse_spark.queries.streaming_queries as sq

    captured = {}
    real = sq._run_to_table

    def spy(stream_df, mode):
        captured["mode"] = mode
        captured["plan"] = stream_df._jdf.queryExecution().analyzed().toString()
        return real(stream_df, mode)

    monkeypatch.setattr(sq, "_run_to_table", spy)
    out = QUERIES["stream_decontaminate_bloom"](spark, SF)
    assert captured["mode"] == "append"
    assert "Aggregate" not in captured["plan"], captured["plan"]
    # and it still finds contamination (the oracle pins exact values)
    assert out.count() > 0


def test_embedding_near_pairs_salted_equals_unsalted(spark):
    # The salted self-join (left side salted by id, right side replicated
    # over the salt range) must emit exactly the unsalted in-block pair
    # set — every (a, b) pair meets once, on the left row's salt. Same
    # prenorm cosine expressions on both sides (prenorm bit-equality is
    # pinned separately above).
    #
    # A shared-base variant (both join sides reading one lazily
    # checkpointed (blk, id, vec, norm) projection) was tried and REVERTED
    # this round: measured 18-25% slower at sf0.1 across interleaved JVM
    # pairs — the materialization job costs more than the re-derived
    # scan + norm folds, the funnel-checkpoint no-go mechanism
    # (OPTIMIZATION_r12.md, measured no-gos).
    from chainhouse_spark.functions.vector import cosine_prenorm_sql, norm_sql
    from chainhouse_spark.operators.similarity import embedding_near_pairs

    emb = load_table(spark, SF, "embeddings").withColumn(
        "lbl", (F.col("vec_id") % 7).cast("int")
    )
    pairs = embedding_near_pairs(
        emb, block_col="lbl", threshold=0.2, salt=4
    )
    base = emb.select(
        F.col("lbl").alias("blk"),
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        F.expr(norm_sql("embedding")).alias("n"),
    )
    a = base.select(
        "blk", F.col("id").alias("vec_a"), F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    b = base.select(
        "blk", F.col("id").alias("vec_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    want = sorted(
        tuple(r)
        for r in a.join(b, "blk")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "blk", "vec_a", "vec_b",
            F.expr(cosine_prenorm_sql("va", "vb", "na", "nb")).alias("c"),
        )
        .filter(F.col("c") >= 0.2)
        .collect()
    )
    got = sorted(tuple(r) for r in pairs.collect())
    assert got == want


def test_stream_bloom_probe_evaluated_once(spark, monkeypatch):
    # Round-12 single-evaluation pin: a .filter() on the projected hit
    # count gets pushed below the projection and DUPLICATES the whole
    # shingle+md5+probe pipeline into the Filter node (batch-twin
    # measurement: 1.587 -> 0.879 s). The shipped form applies the
    # predicate via explode(filter(array(n), ...)): the analyzed plan
    # must carry the md5 pipeline exactly once, inside a Generate, with
    # NO Filter above the probe projection — without that filter shape
    # the optimizer has nothing to push down and duplicate (a streaming
    # DF cannot be optimizer-planned without starting it, so the pin
    # lives on the analyzed plan; the doc-id split filter on the raw
    # source column is the only Filter allowed).
    import chainhouse_spark.queries.streaming_queries as sq

    captured = {}
    real = sq._run_to_table

    def spy(stream_df, mode):
        captured["plan"] = (
            stream_df._jdf.queryExecution().analyzed().toString()
        )
        return real(stream_df, mode)

    monkeypatch.setattr(sq, "_run_to_table", spy)
    QUERIES["stream_decontaminate_bloom"](spark, SF)
    plan = captured["plan"]
    assert plan.count("md5(") == 1, plan
    assert "Generate explode" in plan, plan
    for line in plan.split("\n"):
        if line.strip().startswith("Filter") or "+- Filter" in line:
            assert "md5(" not in line, line
            assert "% 97" in line, line  # only the raw doc-id split filter


def test_span_corruption_tokenize_evaluated_once(spark):
    # Same duplication class: the old .filter(n_tok >= k) on the
    # projected token count pushed a second split(text) into a Filter
    # node (3 occurrences in the plan for the plan query, 4 for targets).
    # The shipped explode-fused cutoff leaves no Filter carrying split();
    # the remaining occurrences sit in ONE Project where codegen
    # subexpression elimination evaluates them once.
    for name, max_splits in (
        ("span_corruption_plan", 1),
        ("span_corruption_targets", 2),
    ):
        plan = (
            QUERIES[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("split(text") <= max_splits, (name, plan)
        for line in plan.split("\n"):
            if "Filter" in line:
                assert "split(text" not in line, (name, line)


def test_bigram_queries_tokenize_not_in_filter(spark):
    # Round-12 W11: the bigram family's >=2 token guard is fused into the
    # explode — as a .filter() on the projected token array it pushed
    # below the projection and re-tokenized every document in a Filter
    # node (split occurrences in the plan: lm_bigram 8->5, pmi 8->4,
    # entropy 4->3). Pin: no Filter node may carry the tokenize.
    import re

    for name in (
        "text_ngram_entropy_rate",
        "text_collocations_pmi",
        "lm_bigram_perplexity_rank",
    ):
        plan = (
            QUERIES[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for line in plan.split("\n"):
            if re.match(r"^[:+\-\s*]*\*?\(?\d*\)?\s*Filter ", line):
                assert "split(text" not in line, (name, line)


def test_vector_folds_not_duplicated_into_filters(spark):
    # Round-12 W12: cosine thresholds ride explode(filter(array(cos),..))
    # instead of .filter() on the projected value — the filter form let
    # the optimizer pull the fold into the join condition AND infer
    # isnotnull(<norm fold>) below each side's projection, so every
    # input row paid the 128-dim norm fold twice and every candidate the
    # dot fold twice. Pin: no Filter node carries a zip_with fold in the
    # pair/range/projection family (fold totals: near_pairs 6->3,
    # contamination_semantic_cells 5->3, ann_range_search 6->3,
    # embedding_random_projection 2->1).
    import re

    for name in (
        "embedding_near_pairs",
        "contamination_semantic_cells",
        "ann_range_search",
        "embedding_random_projection",
    ):
        plan = (
            QUERIES[name](spark, SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for line in plan.split("\n"):
            if re.match(r"^[:+\-\s*]*\*?\(?\d*\)?\s*Filter ", line):
                assert "aggregate(zip_with" not in line, (name, line)
