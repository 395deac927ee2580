"""Sketch / heavy-hitter surface — ClickHouse `topK`, `uniqCombined`,
`quantileTDigest`-family parity (SURVEY.md §2.6 delegated query surface).

Three tiers:
- `topk_heavy_hitters`: EXACT top-k with a total-order tie-break — the
  correctness anchor (oracle-checked). At 100 TB the same plan holds: the
  count aggregate shuffles (key, partial-count) pairs only, and the final
  top-k is a driver-sized sort of |distinct keys| rows.
- `sketch_hll_merge`: Apache DataSketches HLL via hll_sketch_agg /
  hll_union_agg — per-source sketches merged into a global estimate. THE
  100 TB distinct-count pattern: sketches are small, mergeable, and
  precomputable per partition/day; re-aggregation never rescans rows.
- `sketch_freq_items`: freqItems candidate sketch + exact scoring pass.
- `sketch_approx_percentile`: Greenwald-Khanna mergeable quantile sketch.

Sketch estimates are engine-specific by design, so the sketch queries are
oracled via the invariant-twin pattern: every exact quantity in the output
(counts, distincts, top-k) is cross-checked against DuckDB, and each sketch
estimate is reduced to a boolean accuracy assertion that the oracle states
as TRUE — if the sketch drifts outside its error bound, the bool flips and
the value-hash mismatches. Raw estimates stay available through the
operator functions and unit tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chainhouse_spark.functions.rounding import round9
from chainhouse_spark.queries.registry import exempt_round9, register
from chainhouse_spark.tables import load_table

TOP_K = 10


@register(
    "topk_heavy_hitters",
    oracle=f"""
    SELECT l_partkey, n_lines
    FROM (
        SELECT l_partkey, COUNT(*) AS n_lines
        FROM lineitem GROUP BY l_partkey
    )
    ORDER BY n_lines DESC, l_partkey ASC
    LIMIT {TOP_K}
    """,
)
def topk_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ClickHouse-topK: most frequent part keys, ties broken by key so
    the result set is a total order (LIMIT without a total order is
    nondeterministic in ANY engine). Spark plans this as partial-agg ->
    shuffle -> final-agg -> TakeOrderedAndProject: the limit is pushed into
    the sort, no full global sort happens."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_lines"))
        .orderBy(F.desc("n_lines"), F.asc("l_partkey"))
        .limit(TOP_K)
    )


@register(
    "sketch_hll_merge",
    oracle="""
    SELECT o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           COUNT(*) AS n_orders,
           TRUE AS approx_ok
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'ALL' AS o_orderpriority,
           COUNT(DISTINCT o_custkey) AS exact_customers,
           COUNT(*) AS n_orders,
           TRUE AS approx_ok
    FROM orders
    """,
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches: one HLL sketch per order-priority
    (the 'per-partition precompute'), then hll_union_agg merges them into a
    global estimate without touching rows again — re-aggregation never
    rescans rows. Sketch estimates are engine-specific, so the oracled
    surface is the invariant: exact distincts (cross-checked, including the
    merged ALL row) + a bool asserting each estimate is within 10 % of
    exact (DataSketches HLL at default lgK errs ~1.6 %, so a pass is a real
    accuracy statement)."""
    o = load_table(spark, sf_dir, "orders")
    per_source = o.groupBy("o_orderpriority").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk"),
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("exact_customers"),
    )
    # Lazy localCheckpoint, not .cache(): the per/merged branches share one
    # materialization without leaving a CacheManager entry behind in a
    # resident session (round-13).
    per_source = per_source.localCheckpoint(eager=False)
    per = per_source.select(
        "o_orderpriority",
        F.expr("hll_sketch_estimate(sk)").cast("bigint").alias("approx_customers"),
        "n_orders",
        "exact_customers",
    )
    merged = (
        per_source.agg(
            F.lit("ALL").alias("o_orderpriority"),
            F.expr("hll_sketch_estimate(hll_union_agg(sk))")
            .cast("bigint")
            .alias("approx_customers"),
            F.sum("n_orders").alias("n_orders"),
        )
        # Merged exact distinct is not derivable from per-group exacts
        # (customers span priorities) — one extra tiny global distinct.
        .crossJoin(o.agg(F.countDistinct("o_custkey").alias("exact_customers")))
    )
    both = per.unionAll(merged.select(*per.columns))
    return both.select(
        "o_orderpriority",
        "exact_customers",
        "n_orders",
        (
            F.abs(F.col("approx_customers") - F.col("exact_customers"))
            <= F.lit(0.10) * F.col("exact_customers").cast("double")
        ).alias("approx_ok"),
    )


@register(
    "sketch_freq_items",
    oracle=f"""
    SELECT l_suppkey, exact_count FROM (
        SELECT l_suppkey, COUNT(*) AS exact_count
        FROM lineitem GROUP BY l_suppkey
    )
    ORDER BY exact_count DESC, l_suppkey ASC
    LIMIT {TOP_K}
    """,
)
def sketch_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """freqItems (Karp/Shenker/Papadimitriou one-pass heavy-hitter sketch)
    proposes candidate keys above a support threshold; a second exact pass
    scores them. The sketch pass never shuffles rows (partial summaries
    merge on the driver), the scoring pass is a broadcast semi-join — the
    standard two-pass heavy-hitter shape at 100 TB. Superset guarantee:
    every key above support is in the candidates (plus false positives,
    which the exact pass then ranks out). The oracle is the exact global
    top-K: it matches exactly when the candidate superset covers the true
    top-K, which the support guarantee ensures whenever each top-K key
    exceeds 1 % frequency (true for the testdata supplier distribution;
    pinned by the parity replay in tests/test_oracle_parity.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    candidates = li.select("l_suppkey").stat.freqItems(["l_suppkey"], support=0.01)
    cand = candidates.select(
        F.explode("l_suppkey_freqItems").alias("l_suppkey")
    )
    return (
        li.join(F.broadcast(cand), "l_suppkey", "left_semi")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("l_suppkey"))
        .limit(TOP_K)
    )


@register(
    "sketch_approx_percentile",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n_rows,
           TRUE AS ok_p50, TRUE AS ok_p90, TRUE AS ok_p99, TRUE AS ok_median_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def sketch_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (Greenwald-Khanna) — the single-pass mergeable
    quantile sketch for 100 TB (exact twin: agg_percentiles /
    stat_median_iqr, both oracle-checked). accuracy=10000 bounds rank error
    at 1/10000 of the partition; sketches merge across partitions without a
    second pass. Sketch quantiles are engine-specific, so the oracled
    surface is the invariant: group count (cross-checked) + one bool per
    quantile asserting the sketch value lies within the exact [p-0.01,
    p+0.01] percentile band — a rank-error statement ~100x looser than the
    sketch's guarantee, so a failure means the sketch is broken, not noisy."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr(
            "approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)"
        ).alias("ap"),
        F.expr("approx_percentile(l_quantity, 0.5, 10000)").alias("amq"),
        F.expr(
            "percentile(l_extendedprice, array(0.49, 0.51, 0.89, 0.91, 0.98, 1.0))"
        ).alias("pb"),
        F.expr("percentile(l_quantity, array(0.49, 0.51))").alias("qb"),
    )

    def _in_band(value, lo, hi):
        return (value >= lo) & (value <= hi)

    return agg.select(
        "l_returnflag",
        "n_rows",
        _in_band(
            F.element_at("ap", 1), F.element_at("pb", 1), F.element_at("pb", 2)
        ).alias("ok_p50"),
        _in_band(
            F.element_at("ap", 2), F.element_at("pb", 3), F.element_at("pb", 4)
        ).alias("ok_p90"),
        _in_band(
            F.element_at("ap", 3), F.element_at("pb", 5), F.element_at("pb", 6)
        ).alias("ok_p99"),
        _in_band(
            F.col("amq"), F.element_at("qb", 1), F.element_at("qb", 2)
        ).alias("ok_median_qty"),
    )


# -- KMV / theta-style set-operation sketches --------------------------------
#
# HLL answers "how many distinct" but cannot intersect; theta sketches can.
# This is the KMV form: per segment keep the k-1 smallest 32-bit hashes and
# theta = the k-th smallest (or 1.0 when the segment is smaller than k).
# Unions/intersections operate on the retained hash sets below
# min(theta_a, theta_b). Everything is deterministic given the hash, so —
# unlike the HLL/GK rows above — the ESTIMATES themselves replay in DuckDB
# bit-for-bit; the accuracy bools against the exact counts ride along.
#
# 100 TB shape: a segment's sketch is k longs regardless of cardinality,
# built with one partial-agg shuffle (top-k-min per key), mergeable by
# re-min; pairwise set ops touch sketches only, never rows.

_KMV_K = 32
_POW32 = 4_294_967_296


def _duck_h32(expr: str) -> str:
    """DuckDB: first 8 md5 hex digits of `expr` -> BIGINT (mirror of
    Spark's conv(substring(md5(x), 1, 8), 16, 10))."""
    return "(" + " + ".join(
        f"(instr('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    ) + ")"


@register(
    "sketch_theta_set_ops",
    oracle=f"""
    WITH uh AS (
        SELECT DISTINCT event_type,
               {_duck_h32("CAST(user_id AS VARCHAR)")} AS h
        FROM events
    ),
    ranked AS (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS r
        FROM uh
    ),
    stats AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_h,
               CAST(COALESCE(MAX(CASE WHEN r = {_KMV_K} THEN h END),
                             {_POW32}) AS BIGINT) AS theta
        FROM ranked GROUP BY event_type
    ),
    sk AS (SELECT event_type, h FROM ranked WHERE r <= {_KMV_K - 1}),
    pairs AS (
        SELECT a.event_type AS event_a, b.event_type AS event_b,
               LEAST(a.theta, b.theta) AS tm,
               a.n_h AS n_a, b.n_h AS n_b
        FROM stats a JOIN stats b ON a.event_type < b.event_type
    ),
    uni AS (
        SELECT p.event_a, p.event_b, CAST(COUNT(DISTINCT s.h) AS BIGINT) AS n_u
        FROM pairs p
        JOIN sk s ON s.event_type IN (p.event_a, p.event_b) AND s.h < p.tm
        GROUP BY p.event_a, p.event_b
    ),
    com AS (
        SELECT p.event_a, p.event_b, CAST(COUNT(*) AS BIGINT) AS n_c
        FROM pairs p
        JOIN sk sa ON sa.event_type = p.event_a
        JOIN sk sb ON sb.event_type = p.event_b AND sb.h = sa.h
        WHERE sa.h < p.tm
        GROUP BY p.event_a, p.event_b
    ),
    ex AS (
        SELECT a.event_type AS event_a, b.event_type AS event_b,
               CAST(COUNT(*) AS BIGINT) AS exact_inter
        FROM uh a JOIN uh b ON a.h = b.h AND a.event_type < b.event_type
        GROUP BY a.event_type, b.event_type
    )
    SELECT p.event_a, p.event_b,
           COALESCE(u.n_u, 0) * {_POW32}.0 / p.tm AS est_union,
           COALESCE(c.n_c, 0) * {_POW32}.0 / p.tm AS est_intersection,
           p.n_a + p.n_b - COALESCE(e.exact_inter, 0) AS exact_union,
           COALESCE(e.exact_inter, 0) AS exact_intersection,
           ABS(COALESCE(u.n_u, 0) * {_POW32}.0 / p.tm
               - (p.n_a + p.n_b - COALESCE(e.exact_inter, 0)))
               <= 0.5 * (p.n_a + p.n_b - COALESCE(e.exact_inter, 0)) + 10
               AS union_ok,
           ABS(COALESCE(c.n_c, 0) * {_POW32}.0 / p.tm
               - COALESCE(e.exact_inter, 0))
               <= 0.5 * COALESCE(e.exact_inter, 0) + 10 AS inter_ok
    FROM pairs p
    LEFT JOIN uni u ON u.event_a = p.event_a AND u.event_b = p.event_b
    LEFT JOIN com c ON c.event_a = p.event_a AND c.event_b = p.event_b
    LEFT JOIN ex e ON e.event_a = p.event_a AND e.event_b = p.event_b
    """,
)
def sketch_theta_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise distinct-user set operations between event-type segments
    via KMV/theta sketches (k=32): union AND intersection estimates from
    k-long sketches, with exact counts and accuracy bools alongside.
    Deterministic md5-derived hashes make the estimates themselves
    oracle-replayable — the whole point of choosing KMV over engine-opaque
    sketch registers.

    Plan: every branch reads one per-hash and one per-type aggregate.
    One groupBy(h) keeps each hash's sorted, distinct event types; those
    explode back into the distinct (event_type, h) rows, which are ranked
    by h within each type and reduced by one groupBy(event_type) on the
    window's own partitioning to n_h, theta and the k-1 sketch as an
    array. Pairs are a broadcast nested-loop join of those <= |types|
    rows, and the sketch union/intersection counts are array functions on
    each pair row, so no branch re-plans or self-joins the distinct
    relation. The exact intersections explode each hash's i<j type pairs
    into one more groupBy: 6 shuffle exchanges in the plan. NULL event types
    never form a pair, and a NULL hash ranks first (ASC NULLS FIRST),
    counts in n_h, but is never in a sketch or an intersection."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    types_by_h = (
        ev.select(
            "event_type",
            F.expr(
                "CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10)"
                " AS BIGINT)"
            ).alias("h"),
        )
        .groupBy("h")
        .agg(F.array_sort(F.collect_set("event_type")).alias("types"))
    )
    uh = types_by_h.select(F.explode("types").alias("event_type"), "h")
    w = Window.partitionBy("event_type").orderBy("h")
    ranked = uh.withColumn("r", F.row_number().over(w))
    stats = ranked.groupBy("event_type").agg(
        F.max("r").cast("bigint").alias("n_h"),
        F.coalesce(
            F.max(F.when(F.col("r") == _KMV_K, F.col("h"))), F.lit(_POW32)
        ).alias("theta"),
        # collect_list skips NULLs: rows past k-1 and a NULL hash.
        F.collect_list(F.when(F.col("r") <= _KMV_K - 1, F.col("h"))).alias(
            "sk"
        ),
    )

    a, b = stats.alias("a"), stats.alias("b")
    tm = F.least("a.theta", "b.theta")

    def below_tm(arr):
        return F.size(F.filter(arr, lambda x: x < tm))

    pairs = a.join(b, F.col("a.event_type") < F.col("b.event_type")).select(
        F.col("a.event_type").alias("event_a"),
        F.col("b.event_type").alias("event_b"),
        tm.alias("tm"),
        F.col("a.n_h").alias("n_a"),
        F.col("b.n_h").alias("n_b"),
        below_tm(F.array_union("a.sk", "b.sk")).alias("n_u"),
        below_tm(F.array_intersect("a.sk", "b.sk")).alias("n_c"),
    )
    # Each hash's i<j type pairs; `types` is sorted, so event_a < event_b.
    # A NULL hash explodes to no pairs. A filter on h would be pushed below
    # groupBy(h) into the scan, so this branch would no longer share that
    # aggregate's exchange with the sketch branch, and md5 would run twice.
    type_pairs = F.expr(
        "flatten(transform(types, (ta, i) -> transform("
        "slice(types, i + 2, size(types)),"
        " tb -> named_struct('event_a', ta, 'event_b', tb))))"
    )
    ex = (
        types_by_h.select(
            F.explode(F.when(F.col("h").isNotNull(), type_pairs)).alias("p")
        )
        .groupBy("p.event_a", "p.event_b")
        .agg(F.count(F.lit(1)).alias("exact_inter"))
    )
    est_u = F.col("n_u") * F.lit(float(_POW32)) / F.col("tm")
    est_i = F.col("n_c") * F.lit(float(_POW32)) / F.col("tm")
    ex_u = F.col("n_a") + F.col("n_b") - F.coalesce("exact_inter", F.lit(0))
    ex_i = F.coalesce("exact_inter", F.lit(0))
    return (
        pairs.join(ex, ["event_a", "event_b"], "left")
        .select(
            "event_a",
            "event_b",
            est_u.alias("est_union"),
            est_i.alias("est_intersection"),
            ex_u.alias("exact_union"),
            ex_i.alias("exact_intersection"),
            (F.abs(est_u - ex_u) <= 0.5 * ex_u + 10).alias("union_ok"),
            (F.abs(est_i - ex_i) <= 0.5 * ex_i + 10).alias("inter_ok"),
        )
    )


@register(
    "sketch_countmin_heavy",
    oracle="""
    WITH cms AS (
        SELECT d, substr(md5(CAST(d AS VARCHAR) || ':'
                             || CAST(user_id AS VARCHAR)), 1, 2) AS b,
               COUNT(*) AS c
        FROM events, UNNEST([0, 1, 2, 3]) AS t(d)
        GROUP BY 1, 2
    ),
    exact AS (
        SELECT user_id, COUNT(*) AS exact_n FROM events GROUP BY user_id
        ORDER BY exact_n DESC, user_id ASC LIMIT 10
    ),
    probes AS (
        SELECT user_id, exact_n, d,
               substr(md5(CAST(d AS VARCHAR) || ':'
                          || CAST(user_id AS VARCHAR)), 1, 2) AS b
        FROM exact, UNNEST([0, 1, 2, 3]) AS t(d)
    )
    SELECT probes.user_id,
           CAST(MIN(probes.exact_n) AS BIGINT) AS exact_n,
           CAST(MIN(cms.c) AS BIGINT) AS cms_estimate,
           CAST(MIN(cms.c) - MIN(probes.exact_n) AS BIGINT) AS overestimate,
           MIN(cms.c) >= MIN(probes.exact_n) AS never_undercounts
    FROM probes JOIN cms ON probes.d = cms.d AND probes.b = cms.b
    GROUP BY probes.user_id
    """,
)
def sketch_countmin_heavy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation: a 4x256 counter table (rows =
    independent md5-salted hashes, the split_train_test_hash engine-neutral
    recipe), point estimate = min over rows — checked against the exact
    counts of the 10 heaviest users, with the CMS one-sided-error
    invariant (estimate >= truth, ALWAYS) emitted as a column.

    Why it matters at 100 TB: the sketch is CONSTANT-size and MERGEABLE —
    partial aggregation builds per-partition counter tables and the final
    merge is elementwise addition, which is exactly what the
    groupBy(d, bucket) partial-agg shuffle does; no per-key state ever
    materializes. The probe side is 40 rows joined against a broadcast of
    the 1024-cell sketch."""
    e = load_table(spark, sf_dir, "events")
    bucket = lambda d: F.expr(  # noqa: E731
        f"substr(md5(concat('{d}', ':', CAST(user_id AS STRING))), 1, 2)"
    )
    cms = (
        e.select(
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(d).alias("d"), bucket(d).alias("b"))
                        for d in range(4)
                    ]
                )
            ).alias("x")
        )
        .groupBy("x.d", "x.b")
        .agg(F.count(F.lit(1)).alias("c"))
        .select(F.col("d"), F.col("b"), F.col("c"))
    )
    exact = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(10)
    )
    probes = exact.select(
        "user_id",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(d).alias("d"), bucket(d).alias("b"))
                    for d in range(4)
                ]
            )
        ).alias("x"),
    ).select("user_id", "exact_n", "x.d", "x.b")
    return (
        probes.join(F.broadcast(cms), ["d", "b"])
        .groupBy("user_id")
        .agg(
            F.min("exact_n").cast("bigint").alias("exact_n"),
            F.min("c").cast("bigint").alias("cms_estimate"),
            (F.min("c") - F.min("exact_n")).cast("bigint").alias("overestimate"),
            (F.min("c") >= F.min("exact_n")).alias("never_undercounts"),
        )
    )


# --- Register-level HyperLogLog (own implementation, EXACT oracle) ---
# Unlike sketch_hll_merge (engine sketch, invariant-twin oracle), this
# builds the 256-register HLL explicitly from md5 bits, so DuckDB replays
# every register and the estimate itself bit-for-bit: bucket = first md5
# byte, rho = leading-zero count of the next 64 bits + 1 (capped at 64 so
# the harmonic term 2^(64-rho) stays integral), register = MAX(rho).
# The harmonic sum is kept EXACT by scaling by 2^64: each term is a
# power of two summed as DECIMAL(38,0) (the rho=1 term 2^63 exceeds signed
# BIGINT and is special-cased as a DECIMAL literal — a bare shift would
# overflow in DuckDB and silently wrap negative in Spark; (max 256*2^64 ~ 4.7e21 << 1e38),
# empty registers contribute 2^64 each. The only float op is the final
# single division C / S — C = alpha_256 * m^2 * 2^64 precomputed ONCE in
# Python and embedded as the same literal in both engines.
_HLL_M = 256
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)
_HLL_C = repr(_HLL_ALPHA * _HLL_M * _HLL_M * float(2**64))
_HLL_2_64 = str(2**64)

# Portable SQL fragments (identical text runs in Spark SQL and DuckDB):
# h = md5 hex of the key; bucket from the first 2 hex chars via explicit
# char CASEs (no conv/strpos divergence), rho from chars 3..18.
_HLL_NIB = (
    "(CASE {c} WHEN '0' THEN 0 WHEN '1' THEN 1 WHEN '2' THEN 2 WHEN '3' THEN 3"
    " WHEN '4' THEN 4 WHEN '5' THEN 5 WHEN '6' THEN 6 WHEN '7' THEN 7"
    " WHEN '8' THEN 8 WHEN '9' THEN 9 WHEN 'a' THEN 10 WHEN 'b' THEN 11"
    " WHEN 'c' THEN 12 WHEN 'd' THEN 13 WHEN 'e' THEN 14 ELSE 15 END)"
)
_HLL_BUCKET = (
    f"({_HLL_NIB.format(c='substr(h, 1, 1)')} * 16"
    f" + {_HLL_NIB.format(c='substr(h, 2, 2 - 1)')})"
)
# leading zero NIBBLES in the 16-hex-char (64-bit) slice, then the extra
# zero BITS inside the first non-zero nibble.
_HLL_RHO = """
LEAST(64,
  (16 - LENGTH(TRIM(LEADING '0' FROM substr(h, 3, 16)))) * 4
  + (CASE substr(TRIM(LEADING '0' FROM substr(h, 3, 16)), 1, 1)
       WHEN '1' THEN 3
       WHEN '2' THEN 2 WHEN '3' THEN 2
       WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 WHEN '7' THEN 1
       ELSE 0 END)
  + 1)
"""


@register(
    "sketch_hll_registers",
    oracle=f"""
    WITH d AS (
        SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
        FROM events
    ),
    reg AS (
        SELECT event_type,
               {_HLL_BUCKET} AS bucket,
               MAX({_HLL_RHO}) AS rho,
               CAST(COUNT(*) AS BIGINT) AS n_hashes
        FROM d GROUP BY event_type, bucket
    ),
    agg AS (
        SELECT event_type,
               CAST(SUM(n_hashes) AS BIGINT) AS n_exact,
               CAST({_HLL_M} - COUNT(*) AS INT) AS n_zero_registers,
               CAST(SUM(CASE WHEN rho = 1 THEN CAST(9223372036854775808 AS DECIMAL(38,0))
                             ELSE CAST((CAST(1 AS BIGINT) << (64 - rho)) AS DECIMAL(38,0)) END)
                    + CAST({_HLL_M} - COUNT(*) AS DECIMAL(38,0)) * {_HLL_2_64}
                    AS DECIMAL(38,0)) AS s_scaled
        FROM reg GROUP BY event_type
    )
    SELECT event_type,
           {_HLL_M} AS m,
           n_exact,
           n_zero_registers,
           CAST(s_scaled AS VARCHAR) AS s_scaled,
           (ROUND(({_HLL_C} / CAST(s_scaled AS DOUBLE)) * 1e9) / 1e9 + 0.0) AS hll_estimate,
           CASE WHEN n_zero_registers > 0
                 AND {_HLL_C} / CAST(s_scaled AS DOUBLE) <= 2.5 * {_HLL_M}
                THEN ROUND({_HLL_M} * LN(CAST({_HLL_M} AS DOUBLE)
                                         / n_zero_registers), 6)
           END AS lc_estimate,
           ABS(CASE WHEN n_zero_registers > 0
                     AND {_HLL_C} / CAST(s_scaled AS DOUBLE) <= 2.5 * {_HLL_M}
                THEN ROUND({_HLL_M} * LN(CAST({_HLL_M} AS DOUBLE)
                                         / n_zero_registers), 6)
                ELSE {_HLL_C} / CAST(s_scaled AS DOUBLE) END - n_exact)
               <= 0.2 * n_exact AS within_20pct
    FROM agg
    """,
)
def sketch_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit-register HyperLogLog distinct-user estimate per event type
    (Flajolet et al. 2007), built from md5 bits so the ENTIRE sketch —
    registers, harmonic sum, and final estimate — replays exactly in the
    oracle (the engine-sketch twin `sketch_hll_merge` can only assert an
    error bound). The 100 TB shape is identical to production HLL: one
    distinct pass, then register maxima partial-aggregate map-side to
    <= |types| * 256 rows; sketches merge by re-MAX (register union), so
    per-day/per-partition sketches re-aggregate without rescanning rows.
    Exact distinct (from the same lineage's bucket counts) and the
    linear-counting small-range branch ride along; the 20%-relative-error
    flag judges the CORRECTED estimate (linear counting when the raw HLL is
    in its known-biased n < 2.5m regime, raw otherwise — the published
    algorithm's correction rule)."""
    d = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.md5(F.col("user_id").cast("string")).alias("h"))
        .distinct()
    )
    reg = d.selectExpr(
        "event_type",
        f"{_HLL_BUCKET} AS bucket",
        f"{_HLL_RHO} AS rho",
    ).groupBy("event_type", "bucket").agg(
        F.max("rho").alias("rho"),
        F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
    )
    agg = reg.groupBy("event_type").agg(
        F.sum("n_hashes").cast("bigint").alias("n_exact"),
        (F.lit(_HLL_M) - F.count(F.lit(1))).cast("int").alias("n_zero_registers"),
        (
            F.sum(
                F.expr(
                    "CASE WHEN rho = 1 THEN CAST(9223372036854775808 AS DECIMAL(38,0))"
                    " ELSE CAST(shiftleft(CAST(1 AS BIGINT), 64 - rho)"
                    " AS DECIMAL(38,0)) END"
                )
            )
            + (F.lit(_HLL_M) - F.count(F.lit(1))).cast("decimal(38,0)")
            * F.expr(f"CAST({_HLL_2_64} AS DECIMAL(38,0))")
        )
        .cast("decimal(38,0)")
        .alias("s_scaled"),
    )
    est = F.expr(f"{_HLL_C}") / F.col("s_scaled").cast("double")
    return agg.select(
        "event_type",
        F.lit(_HLL_M).alias("m"),
        "n_exact",
        "n_zero_registers",
        F.col("s_scaled").cast("string").alias("s_scaled"),
        round9(est).alias("hll_estimate"),
        F.when(
            (F.col("n_zero_registers") > 0) & (est <= 2.5 * _HLL_M),
            F.round(
                _HLL_M
                * F.log(F.lit(float(_HLL_M)) / F.col("n_zero_registers")),
                6,
            ),
        ).alias("lc_estimate"),
        (
            F.abs(
                F.coalesce(
                    F.when(
                        (F.col("n_zero_registers") > 0) & (est <= 2.5 * _HLL_M),
                        F.round(
                            _HLL_M
                            * F.log(
                                F.lit(float(_HLL_M)) / F.col("n_zero_registers")
                            ),
                            6,
                        ),
                    ),
                    est,
                )
                - F.col("n_exact")
            )
            <= 0.2 * F.col("n_exact")
        ).alias("within_20pct"),
    )


# Theta-sketch estimates scale with the true distinct count (est = k-th
# hash inverse x 2^32 / theta): past ~9e6 the round-at-9 product leaves
# the 2^53 integer range and rounding degenerates — the magnitude-
# unbounded class. Protection is the original rule: both engines replay
# the identical deterministic md5 sketch and the identical single-division
# formula (flagged by the sf0.01 convention audit, round 9).
exempt_round9("sketch_theta_set_ops", {
    "est_union": "grows with distinct count (theta-sketch estimate)",
    "est_intersection": "grows with distinct count (theta-sketch estimate)",
})
