"""Property-based tests (hypothesis): invariants that must hold for ANY
input, not just the fixtures — the contract a 100 TB run depends on when the
data stops looking like the test tables.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

GAP = 600  # seconds

# A user's event offsets: small positive gaps and occasional > GAP silences.
_offsets = st.lists(
    st.integers(min_value=0, max_value=4 * GAP), min_size=1, max_size=12
)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.lists(_offsets, min_size=1, max_size=3))
def test_sessionize_invariants(spark, data):
    """For arbitrary event streams: (1) sessions partition the events —
    counts add up per user; (2) a session never contains an internal gap
    > GAP (its span is bounded by (n-1)*GAP); (3) consecutive sessions of a
    user are separated by > GAP."""
    from chainhouse_spark.operators.sessionize import sessionize_events

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for user, offs in enumerate(data):
        t = 0
        for o in offs:
            t += o
            rows.append((eid, user, t0 + dt.timedelta(seconds=t), 1.0))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp_ntz, value double"
    )
    out = sessionize_events(df, gap_seconds=GAP).collect()

    per_user_events = {u: len(o) for u, o in enumerate(data)}
    got_counts: dict[int, int] = {}
    by_user: dict[int, list] = {}
    for r in out:
        got_counts[r.user_id] = got_counts.get(r.user_id, 0) + r.n_events
        by_user.setdefault(r.user_id, []).append(r)
        span = (r.session_end - r.session_start).total_seconds()
        assert span <= (r.n_events - 1) * GAP  # no internal gap > GAP
        assert r.n_events >= 1
    assert got_counts == per_user_events  # sessions partition the events

    for sessions in by_user.values():
        sessions.sort(key=lambda r: r.session_start)
        for a, b in zip(sessions, sessions[1:]):
            gap = (b.session_start - a.session_end).total_seconds()
            assert gap > GAP  # boundaries really are silences


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**9), min_size=1, max_size=50)
)
def test_hash_split_is_stable_under_subsetting(spark, ids):
    """The hash-gate split assigns by row identity alone: computing the split
    on any subset gives each row the same membership as on the full set —
    the incremental-ingest guarantee random sampling cannot offer."""
    full = spark.createDataFrame([(i,) for i in set(ids)], "doc_id long")
    split_expr = F.expr(
        "CASE WHEN substr(md5(CAST(doc_id AS STRING)), 1, 1) < 'd' "
        "THEN 'train' ELSE 'test' END"
    ).alias("split")
    whole = {r.doc_id: r.split for r in full.select("doc_id", split_expr).collect()}
    half = full.filter(F.col("doc_id") % 2 == 0)
    sub = {r.doc_id: r.split for r in half.select("doc_id", split_expr).collect()}
    assert all(whole[k] == v for k, v in sub.items())


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # group key
            st.decimals(
                min_value=-1000, max_value=1000, places=3, allow_nan=False
            ),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_salted_agg_equals_direct_agg(spark, vals):
    """Salting is invisible: partial-on-(key,salt) -> final-on-key equals the
    direct group-by for associative aggregates, for any distribution
    (including everything on one hot key)."""
    df = spark.createDataFrame(
        [(k, float(v)) for k, v in vals], "k long, value double"
    )
    direct = {
        (r.k): (r.n, r.s)
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)").alias("s"),
        )
        .collect()
    }
    salted = (
        df.withColumn("salt", F.pmod(F.monotonically_increasing_id(), F.lit(7)))
        .groupBy("k", "salt")
        .agg(
            F.count(F.lit(1)).alias("pn"),
            F.expr("SUM(CAST(value AS DECIMAL(18,6)))").alias("pv"),
        )
        .groupBy("k")
        .agg(
            F.sum("pn").alias("n"),
            F.expr("CAST(SUM(pv) AS DOUBLE)").alias("s"),
        )
    )
    got = {(r.k): (r.n, r.s) for r in salted.collect()}
    assert got == direct


def test_lsh_bucket_cap_bounds_adversarial_expansion(spark):
    """10k identical docs put every doc in ONE bucket per band; full
    expansion would be ~50M pairs x 4 bands. The star fallback must (1)
    complete with exactly n-1 pairs, (2) keep every doc connected to the
    min-id anchor (cluster connectivity preserved), (3) leave a normal
    corpus bit-identical to the uncapped expansion."""
    from chainhouse_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from chainhouse_spark.tables import load_table

    n = 10_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("the same adversarial text repeated verbatim in every doc").alias(
            "text"
        ),
    )
    sigs = minhash_signatures(docs, num_hashes=16, shingle_words=3)
    pairs = lsh_candidate_pairs(sigs, num_hashes=16, bands=4).collect()
    assert len(pairs) == n - 1
    assert all(r.doc_a == 0 for r in pairs)  # star anchor = min id
    assert {r.doc_b for r in pairs} == set(range(1, n))
    assert all(r.est_jaccard == 1.0 for r in pairs)

    # Normal corpus: cap never triggers, results identical to uncapped.
    real = load_table(spark, "/root/testdata/sf0.001", "documents")
    rsigs = minhash_signatures(real, num_hashes=16, shingle_words=3)
    capped = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in lsh_candidate_pairs(rsigs, num_hashes=16, bands=4).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in lsh_candidate_pairs(
            rsigs, num_hashes=16, bands=4, max_bucket=10**9
        ).collect()
    }
    assert capped == uncapped


@settings(max_examples=25, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**63 - 1),            # number
            st.binary(min_size=32, max_size=32),                      # hash
            st.one_of(st.none(),
                      st.integers(min_value=0, max_value=2**256 - 1)),  # value
            st.booleans(),                                            # removed
            st.one_of(st.none(), st.text(max_size=40)),               # note
            st.lists(st.binary(min_size=32, max_size=32), max_size=4),  # topics
        ),
        min_size=1,
        max_size=8,
    )
)
def test_native_block_encode_decode_roundtrip_property(rows):
    """For ANY values (full u256 range, NULLs, empty arrays, unicode
    strings): encode_block -> read_block == identity. No Spark needed —
    the encoder is pure."""
    import io
    from decimal import Decimal

    from pyspark.sql import Row
    from pyspark.sql.types import (
        ArrayType, BinaryType, BooleanType, DecimalType, LongType,
        StringType, StructField, StructType,
    )

    from chainhouse_spark.sinks.native_tcp import encode_block, read_block

    schema = StructType([
        StructField("number", LongType(), False),
        StructField("hash", BinaryType(), False),
        StructField("value", DecimalType(38, 0), True),
        StructField("removed", BooleanType(), False),
        StructField("note", StringType(), True),
        StructField("topics", ArrayType(BinaryType()), True),
    ])
    data = [
        Row(number=n, hash=h, value=None if v is None else Decimal(v),
            removed=r, note=note, topics=t)
        for n, h, v, r, note, t in rows
    ]
    block = encode_block(schema, data, order_by=["hash"])
    cols, back = read_block(io.BytesIO(block))
    assert [c for c, _ in cols] == schema.fieldNames()
    number, hash_, value, removed, note, topics = back
    assert len(number) == len(data)
    for i, orig in enumerate(data):
        assert number[i] == orig.number
        assert hash_[i] == orig.hash
        assert (None if value[i] is None else Decimal(value[i])) == orig.value
        assert removed[i] == orig.removed
        assert (None if note[i] is None else note[i].decode()) == orig.note
        assert topics[i] == list(orig.topics)


def test_lsh_star_cap_preserves_near_dup_clusters(spark):
    """Recall property under the bucket cap on a NEAR-dup corpus (distinct
    texts, unlike the identical-docs bound above): forcing a tiny cap so
    family-sized buckets hit the star fallback must leave the downstream
    connected-components clustering identical to the uncapped expansion —
    the star keeps every bucket connected through its anchor, so cluster
    membership (what semantic dedup consumes) loses nothing even though
    the pair set shrinks."""
    from chainhouse_spark.operators.components import connected_components
    from chainhouse_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = []
    doc_id = 0
    for fam in range(5):  # 5 families x 40 near-dup docs + 50 singletons
        # disjoint per-family vocabulary so families can't cross-connect
        fam_text = " ".join(f"fam{fam}word{j}" for j in range(40))
        for k in range(40):
            rows.append((doc_id, fam_text + f" tail{k}"))
            doc_id += 1
    for k in range(50):
        rows.append((doc_id, f"unique{k} " + " ".join(f"w{k}_{j}" for j in range(40))))
        doc_id += 1
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = minhash_signatures(docs, num_hashes=16, shingle_words=3)

    def clusters(max_bucket):
        pairs = lsh_candidate_pairs(
            sigs, num_hashes=16, bands=4, max_bucket=max_bucket
        ).select("doc_a", "doc_b")
        cc = connected_components(pairs, src="doc_a", dst="doc_b")
        return {(r.node, r.cluster_id) for r in cc.collect()}

    capped = clusters(max_bucket=8)  # families are 40 wide -> star path
    uncapped = clusters(max_bucket=10**9)
    assert capped == uncapped
    # sanity: the families actually clustered (5 clusters of 40 nodes)
    from collections import Counter

    sizes = Counter(cid for _, cid in uncapped)
    assert sorted(v for v in sizes.values() if v > 1) == [40] * 5


def test_ppjoin_equals_allpairs_jaccard(spark):
    """Prefix filtering must lose NOTHING: dedup_ppjoin_exact (candidate
    generation on rarest-first prefixes) returns exactly the all-pairs
    exact-Jaccard >= 0.8 result."""
    from chainhouse_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    pp = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in QUERIES["dedup_ppjoin_exact"](spark, sf).collect()
    }
    full = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in QUERIES["dedup_ngram_jaccard"](spark, sf).collect()
    }
    assert pp == full and len(pp) > 0
