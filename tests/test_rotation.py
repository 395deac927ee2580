"""The driver's rotation order (`chainhouse_spark/queries/rotation.py`) and
the plan fingerprints it reads (`chainhouse_spark/plans/fingerprint.py`).

The ordering tests run without Spark. The last two sweep query plans:
one checks that the committed `fp` values are current, the other that
altering an operator moves its consumers into the driver's first 50
with no hand edit.
"""

from __future__ import annotations

from chainhouse_spark.plans.fingerprint import fingerprint_queries, normalize
from chainhouse_spark.queries import ORACLES, QUERIES, rotation


def _fp(fp: str, checked: str | None = None) -> dict[str, str]:
    return {"fp": fp, "checked": fp if checked is None else checked}


def test_non_green_verdict_leads():
    names = ["a", "b", "c"]
    verdicts = {"a": (3, "green"), "b": (3, "green"), "c": (9, "mismatch")}
    fps = {n: _fp(n) for n in names}
    assert rotation.rotation_order(names, verdicts, fps) == ["c", "a", "b"]


def test_changed_green_query_moves_ahead_of_never_checked():
    names = ["old", "new", "moved"]
    verdicts = {"old": (3, "green"), "moved": (9, "green")}
    fps = {"old": _fp("x"), "moved": _fp("y2", checked="y1"), "new": {"fp": "z"}}
    assert rotation.rotation_order(names, verdicts, fps) == ["moved", "new", "old"]


def test_missing_checked_value_counts_as_changed():
    names = ["a", "b"]
    verdicts = {"a": (3, "green"), "b": (3, "green")}
    fps = {"a": _fp("x"), "b": {"fp": "y"}}
    assert rotation.rotation_order(names, verdicts, fps) == ["b", "a"]


def test_unchanged_green_falls_back_by_verdict_round():
    names = ["r9a", "r3a", "r5", "r3b", "r9b"]
    verdicts = {n: (int(n[1]), "green") for n in names}
    fps = {n: _fp(n) for n in names}
    assert rotation.rotation_order(names, verdicts, fps) == [
        "r3a", "r3b", "r5", "r9a", "r9b"
    ]


def test_unregistered_verdicts_and_fingerprints_are_ignored():
    names = ["a", "b"]
    verdicts = {"a": (4, "green"), "b": (3, "green"), "gone": (1, "err")}
    fps = {"a": _fp("x"), "b": _fp("y"), "gone": {"fp": "z"}}
    assert rotation.rotation_order(names, verdicts, fps) == ["b", "a"]


def test_verdict_status():
    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    assert rotation.verdict_status(ok) == "green"
    assert rotation.verdict_status({**ok, "hash_match": False}) == "rows-only"
    assert rotation.verdict_status({**ok, "hash_match": False, "rows_match": False}) == "mismatch"
    assert rotation.verdict_status({**ok, "err": "boom"}) == "err"


def test_reorder_keeps_keys_and_moves_registries_together():
    queries = {"a": 1, "b": 2, "c": 3}
    oracles = {"a": "A", "c": "C"}
    rotation.reorder(["c", "a", "b"], queries, oracles)
    assert list(queries.items()) == [("c", 3), ("a", 1), ("b", 2)]
    assert list(oracles.items()) == [("c", "C"), ("a", "A")]


def test_registry_is_in_rotation_order():
    verdicts = rotation.read_verdicts()
    fingerprints = rotation.read_fingerprints()
    order = list(QUERIES)
    assert order == rotation.rotation_order(order, verdicts, fingerprints)
    assert list(ORACLES) == [n for n in order if n in ORACLES]
    assert set(fingerprints) == set(QUERIES)
    # Every query that needs a verdict comes ahead of every green
    # unchanged one.
    needs = {
        n for n in order
        if n not in verdicts
        or verdicts[n][1] != "green"
        or rotation.is_changed(fingerprints[n])
    }
    assert set(order[: len(needs)]) == needs


def test_normalize_strips_run_dependent_tokens():
    a = "Project [transform(a#3, lambdafunction((lambda x_15#4 + 1), lambda x_15#4))] at 0x7f3a"
    b = "Project [transform(a#7, lambdafunction((lambda x_2#8 + 1), lambda x_2#8))] at 0x10ff"
    assert normalize(a) == normalize(b)
    assert normalize("Relation [a#1] parquet, /tmp/x/y.parquet") == normalize(
        "Relation [a#2] parquet, file:/data/other/z.parquet"
    )
    assert normalize("Filter (a#1 > 5)") != normalize("Filter (a#1 > 6)")


def test_fingerprints_are_current(spark):
    fps, errors = fingerprint_queries(spark, QUERIES)
    assert not errors, errors
    committed = rotation.read_fingerprints()
    stale = sorted(n for n in QUERIES if committed.get(n, {}).get("fp") != fps[n])
    assert not stale, (
        f"{len(stale)} plan fingerprints are stale ({', '.join(stale)}); "
        "regenerate them with `python tools/query_rotation.py --write`"
    )


# The global_running_sums consumers, and two queries that do not use it.
_RUNNING_SUM_CONSUMERS = [
    "stat_ks_two_sample", "stat_mann_whitney_u", "stat_kruskal_wallis",
    "eval_auc_roc", "vocab_coverage_curve", "surv_kaplan_meier",
]
_CONTROLS = ["q1_pricing_summary", "stat_moments"]


def test_altered_operator_moves_consumers_into_window(spark, monkeypatch):
    from pyspark.sql import functions as F

    from chainhouse_spark.operators import ranking

    names = _RUNNING_SUM_CONSUMERS + _CONTROLS
    before, errors = fingerprint_queries(spark, QUERIES, names)
    assert not errors, errors
    count_below = ranking._count_below
    monkeypatch.setattr(
        ranking, "_count_below", lambda bounds, k: count_below(bounds, k) + F.lit(0)
    )
    after, errors = fingerprint_queries(spark, QUERIES, names)
    assert not errors, errors
    assert {n for n in names if after[n] != before[n]} == set(_RUNNING_SUM_CONSUMERS)

    # A registry where every query was judged at its current plan, then
    # the altered plans: only the consumers move, and all into the window.
    order = list(QUERIES)
    verdicts = {n: (9 if n in names else 3, "green") for n in order}
    judged = {n: _fp(before.get(n, n)) for n in order}
    rotated = rotation.rotation_order(order, verdicts, judged)
    assert not set(_RUNNING_SUM_CONSUMERS) & set(rotated[: rotation.WINDOW])
    altered = {**judged, **{n: _fp(after[n], before[n]) for n in names}}
    rotated = rotation.rotation_order(order, verdicts, altered)
    assert rotated[: len(_RUNNING_SUM_CONSUMERS)] == [
        n for n in order if n in _RUNNING_SUM_CONSUMERS
    ]


def test_partition_count_is_pinned(spark):
    # The running-sum consumers' quantile literal holds 4 * P bounds, so
    # their plans differ by shuffle partitions unless the sweep pins it.
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "2")
        at2, _ = fingerprint_queries(spark, QUERIES, ["stat_ks_two_sample"])
        spark.conf.set(key, "8")
        at8, _ = fingerprint_queries(spark, QUERIES, ["stat_ks_two_sample"])
        assert spark.conf.get(key) == "8"  # restored after the sweep
    finally:
        spark.conf.set(key, saved)
    assert at2 == at8
