"""Edge cases of `sketch_theta_set_ops` on hand-built `events` tables.

The cases without NULLs are checked against the registered DuckDB oracle
with the driver-mirroring comparator. Rows with a NULL `user_id` or
`event_type` are not: Spark ranks a NULL hash first (ASC NULLS FIRST) and
DuckDB ranks it last, so there the expected rows are written out.
"""

from __future__ import annotations

import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from chainhouse_spark.queries import ORACLES, QUERIES
from tests.compare import compare_frames

NAME = "sketch_theta_set_ops"
POW32 = 4_294_967_296


def _write_events(sf_dir, rows) -> str:
    """Write (event_type, user_id) rows as an `events` table of the
    testdata schema; returns the scale-factor directory."""
    n = len(rows)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array([datetime.datetime(2024, 1, 1)] * n, pa.timestamp("us")),
            "user_id": pa.array([u for _, u in rows], pa.int64()),
            "event_type": pa.array([t for t, _ in rows], pa.string()),
            "value": pa.array([1.0] * n, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }),
        f"{sf_dir}/events.parquet",
    )
    return str(sf_dir)


def _spark_and_oracle(spark, sf):
    got = QUERIES[NAME](spark, sf).toPandas()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf}/events.parquet'")
        want = con.execute(ORACLES[NAME]).df()
    finally:
        con.close()
    return got, want


def test_small_types_and_disjoint_pairs_match_oracle(spark, tmp_path):
    # a and b overlap on users 100..200 and have more than k=32 users; c
    # (20 users) and d (10 users) are below k, so theta = 2^32, and share
    # no user with any other type.
    rows = (
        [("a", u) for u in range(1, 201)]
        + [("b", u) for u in range(100, 301)]
        + [("c", u) for u in range(1000, 1020)]
        + [("d", u) for u in range(2000, 2010)]
    )
    rows += rows[:50]  # repeated events of the same user change nothing
    sf = _write_events(tmp_path, rows)
    got, want = _spark_and_oracle(spark, sf)
    assert compare_frames(got, want) == []
    assert len(got) == 6
    by_pair = {(r.event_a, r.event_b): r for r in got.itertuples()}
    assert by_pair[("a", "b")].exact_intersection == 101
    for pair in [("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d")]:
        assert by_pair[pair].exact_intersection == 0
        assert by_pair[pair].est_intersection == 0.0
    # Both sketches hold every hash and tm = 2^32: the estimate is exact.
    assert by_pair[("c", "d")].est_union == 30.0
    assert by_pair[("c", "d")].exact_union == 30


def test_single_event_type_gives_no_rows(spark, tmp_path):
    sf = _write_events(tmp_path, [("only", u) for u in range(1, 51)])
    got, want = _spark_and_oracle(spark, sf)
    assert len(got) == 0
    assert compare_frames(got, want) == []


def test_null_users_and_types(spark, tmp_path):
    # x: users 1..40 and a NULL user; y: users 30..60 and a NULL user; z:
    # users 55..57 and a NULL user; a NULL event_type with users 1..10 and
    # a NULL user. The NULL hash counts in each type's n_h but never in an
    # intersection; NULL event types form no pair.
    rows = (
        [("x", u) for u in range(1, 41)] + [("x", None), ("x", None)]
        + [("y", u) for u in range(30, 61)] + [("y", None)]
        + [(None, u) for u in range(1, 11)] + [(None, None)]
        + [("z", None)] + [("z", u) for u in range(55, 58)]
    )
    sf = _write_events(tmp_path, rows)
    got = sorted(tuple(r) for r in QUERIES[NAME](spark, sf).collect())
    assert got == [
        ("x", "y", 59.74242523418496, 10.389986997249558, 62, 11, True, True),
        ("x", "z", 42.858696363654424, 0.0, 45, 0, True, True),
        ("y", "z", 31.081594078533435, 3.1081594078533437, 33, 3, True, True),
    ]
