"""Statistical aggregates — corr / covariance / linear regression / higher
moments / histograms / conditional-boolean aggregates.

ClickHouse exposes `corr`, `covarSamp`, `simpleLinearRegression`, `skewPop`,
`kurtPop`, `histogram`, `countIf` over the tables the reference provisions
(SURVEY.md §2.6); Spark's built-in twins are `corr`, `covar_samp`,
`regr_slope/regr_intercept`, `skewness`, `kurtosis`, `width_bucket`,
`count_if`. The built-ins accumulate in floating point, so their results
depend on partition merge order and differ across engines — useless for a
bit-exact oracle. Here each statistic is derived from EXACT decimal power
sums (sum x, sum x^2, ... — algebraic, order-insensitive, map-side
combinable) followed by one shared float formula evaluated identically by
Spark and DuckDB. sqrt() is IEEE-correctly-rounded so the formulas avoid
pow() (libm-dependent) in favor of explicit multiplication and SQRT.

Scale: every query is scan -> partial agg -> final agg (single shuffle of a
handful of decimals per group); the float math runs on the final aggregate
rows only. This is also the 100 TB pattern for statistics: never ship rows,
ship moments.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chainhouse_spark.functions.rounding import round9
from chainhouse_spark.queries.registry import exempt_round9, register
from chainhouse_spark.tables import load_table

# Exact INTEGER decimal power sums. x = l_quantity (integral in this data),
# y = l_extendedprice rounded to whole dollars. Integer-valued (scale-0)
# decimals are the load-bearing choice: a scale-k decimal -> double cast can
# double-round (engines disagree by 1 ulp once the scaled integer exceeds
# 2^53 — observed on DuckDB vs the JVM), while every sum below stays under
# 2^53 through sf0.1, so each cast is EXACT in both engines and the float
# formulas see bit-identical inputs.
_X = "CAST(ROUND(l_quantity, 0) AS DECIMAL(8,0))"
_Y = "CAST(ROUND(l_extendedprice, 0) AS DECIMAL(10,0))"
_MOMENT_AGGS = f"""
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM({_X}) AS DOUBLE) AS sx,
    CAST(SUM({_Y}) AS DOUBLE) AS sy,
    CAST(SUM({_X} * {_X}) AS DOUBLE) AS sxx,
    CAST(SUM({_Y} * {_Y}) AS DOUBLE) AS syy,
    CAST(SUM({_X} * {_Y}) AS DOUBLE) AS sxy
"""

# Round-at-9 on the bounded outputs (corr/r2 in [-1,1], slope ~ price/qty
# ratio ≤ ~1e2). covar_samp and intercept stay RAW: they live on the
# price scale (~5e4 at sf0.01), where ROUND itself diverges cross-engine
# (registry.ROUND9_EXEMPT) — their protection is this shared string being
# the single source for both engines' formulas.
_CORR_FORMULAS = """
    (sxy - sx * sy / n) / (n - 1.0) AS covar_samp,
    (ROUND(((n * sxy - sx * sy)
      / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))) * 1e9) / 1e9 + 0.0) AS corr,
    (ROUND(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1e9) / 1e9 + 0.0) AS slope,
    (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept,
    (ROUND((((n * sxy - sx * sy) / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)))
      * ((n * sxy - sx * sy) / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)))
      ) * 1e9) / 1e9 + 0.0) AS r2
"""


@register(
    "stat_corr_regression",
    oracle=f"""
    WITH m AS (
        SELECT l_returnflag, {_MOMENT_AGGS}
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, {_CORR_FORMULAS} FROM m
    """,
)
def stat_corr_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance + OLS fit of
    round(l_extendedprice) ~ l_quantity per return flag, from exact moments.
    (Built-in twins: F.corr / F.covar_samp / REGR_SLOPE / REGR_INTERCEPT.)"""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        *[F.expr(a.strip()) for a in _MOMENT_AGGS.split(",\n")]
    )
    return m.selectExpr("l_returnflag", *_CORR_FORMULAS.split(",\n"))


# Power sums of x = l_quantity up to x^4 — integer decimals throughout
# (50^4 * 600k rows ~ 3.8e12 << 2^53: every cast to double is exact).
_HIGH_MOMENT_AGGS = f"""
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM({_X}) AS DOUBLE) AS sx,
    CAST(SUM({_X} * {_X}) AS DOUBLE) AS sxx,
    CAST(SUM(({_X} * {_X}) * {_X}) AS DOUBLE) AS sxxx,
    CAST(SUM(({_X} * {_X}) * ({_X} * {_X})) AS DOUBLE) AS sxxxx
"""

# Population central moments from raw power sums; denominators use
# m2 * SQRT(m2) (resp. m2 * m2) instead of POWER() so both engines hit the
# same IEEE operations.
_HIGH_MOMENT_FORMULAS = """
    (ROUND((sxx / n - (sx / n) * (sx / n)) * 1e9) / 1e9 + 0.0) AS variance_pop,
    (ROUND((SQRT(sxx / n - (sx / n) * (sx / n))) * 1e9) / 1e9 + 0.0) AS stddev_pop,
    (ROUND(((sxxx / n - 3.0 * (sx / n) * (sxx / n) + 2.0 * (sx / n) * (sx / n) * (sx / n))
      / ((sxx / n - (sx / n) * (sx / n)) * SQRT(sxx / n - (sx / n) * (sx / n)))
      ) * 1e9) / 1e9 + 0.0) AS skewness_pop,
    (ROUND(((sxxxx / n - 4.0 * (sx / n) * (sxxx / n)
       + 6.0 * (sx / n) * (sx / n) * (sxx / n)
       - 3.0 * (sx / n) * (sx / n) * (sx / n) * (sx / n))
      / ((sxx / n - (sx / n) * (sx / n)) * (sxx / n - (sx / n) * (sx / n)))
      - 3.0) * 1e9) / 1e9 + 0.0) AS kurtosis_excess
"""


@register(
    "stat_moments",
    oracle=f"""
    WITH m AS (
        SELECT l_linestatus, {_HIGH_MOMENT_AGGS}
        FROM lineitem GROUP BY l_linestatus
    )
    SELECT l_linestatus, {_HIGH_MOMENT_FORMULAS} FROM m
    """,
)
def stat_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population variance / stddev / skewness / excess kurtosis of
    l_quantity per line status from exact power sums (built-in twins:
    var_pop, stddev_pop, skewness, kurtosis)."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_linestatus").agg(
        *[F.expr(a.strip()) for a in _HIGH_MOMENT_AGGS.split(",\n")]
    )
    return m.selectExpr("l_linestatus", *_HIGH_MOMENT_FORMULAS.split(",\n"))


@register(
    "stat_histogram_fixed_bins",
    oracle="""
    SELECT
        CAST(FLOOR(l_extendedprice / 10000.0) AS BIGINT) AS price_bin,
        COUNT(*) AS n_items,
        CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY 1
    """,
)
def stat_histogram_fixed_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of l_extendedprice (10k-wide bins). The bin id is
    one IEEE divide + floor — deterministic across engines, unlike
    WIDTH_BUCKET whose edge handling is implementation-defined. Bin id is a
    pure row function: histogram = single shuffle of (bin, partials)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.floor(F.col("l_extendedprice") / 10000.0).cast("bigint").alias("price_bin")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.expr("CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)").alias(
            "total_qty"
        ),
    )


@register(
    "agg_conditional_bool",
    oracle="""
    SELECT
        l_returnflag,
        COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
        COUNT(*) FILTER (WHERE l_tax = 0.0) AS n_taxfree,
        BOOL_AND(l_quantity > 0) AS all_positive_qty,
        BOOL_OR(l_quantity > 49) AS any_qty_49plus
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_conditional_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count_if / bool_and / bool_or (ClickHouse countIf / groupBitAnd-style
    predicates). count_if aliased to the CASE-sum the oracle uses."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("COUNT_IF(l_discount > 0.05)").alias("n_discounted"),
        F.expr("COUNT_IF(l_tax = 0.0)").alias("n_taxfree"),
        F.expr("BOOL_AND(l_quantity > 0)").alias("all_positive_qty"),
        F.expr("BOOL_OR(l_quantity > 49)").alias("any_qty_49plus"),
    )


@register(
    "stat_median_iqr",
    oracle="""
    SELECT
        l_returnflag,
        MEDIAN(l_quantity) AS median_qty,
        QUANTILE_CONT(l_quantity, 0.25) AS q1_qty,
        QUANTILE_CONT(l_quantity, 0.75) AS q3_qty,
        QUANTILE_CONT(l_quantity, 0.75) - QUANTILE_CONT(l_quantity, 0.25) AS iqr_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stat_median_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median + interquartile range (both engines define median/quantile_cont
    as the same linear interpolation over the sorted multiset)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("MEDIAN(l_quantity)").alias("median_qty"),
        F.expr("PERCENTILE(l_quantity, 0.25)").alias("q1_qty"),
        F.expr("PERCENTILE(l_quantity, 0.75)").alias("q3_qty"),
        F.expr("PERCENTILE(l_quantity, 0.75) - PERCENTILE(l_quantity, 0.25)").alias(
            "iqr_qty"
        ),
    )


@register(
    "stat_weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag,
               l_extendedprice AS x,
               CAST(ROUND(l_quantity, 0) AS BIGINT) AS wt
        FROM lineitem
    ),
    cum AS (
        SELECT l_returnflag, x, wt,
               SUM(wt) OVER (PARTITION BY l_returnflag ORDER BY x, wt
                             ROWS UNBOUNDED PRECEDING) AS cw,
               SUM(wt) OVER (PARTITION BY l_returnflag) AS tw
        FROM w
    )
    SELECT l_returnflag, MIN(x) AS weighted_median
    FROM cum WHERE cw * 2 >= tw
    GROUP BY l_returnflag
    """,
)
def stat_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (lower) median: smallest x whose cumulative weight reaches
    half the total — ClickHouse quantileExactWeighted(0.5). Weights are
    integral (quantity), so the threshold test is exact integer arithmetic;
    value ties are broken inside the cumulative ordering and MIN(x) makes
    the pick order-insensitive. One windowed pass per group; at 100 TB the
    same shape runs per (group, day) partition, never a global sort."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    w = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("x"),
        F.round("l_quantity", 0).cast("bigint").alias("wt"),
    )
    cum = w.select(
        "l_returnflag",
        "x",
        F.sum("wt")
        .over(
            Window.partitionBy("l_returnflag")
            .orderBy("x", "wt")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cw"),
        F.sum("wt").over(Window.partitionBy("l_returnflag")).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("x").alias("weighted_median"))
    )

@register(
    "stat_time_weighted_avg",
    oracle="""
    WITH pts AS (
        SELECT event_type,
               CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS v_cents,
               event_id
        FROM events
    ),
    seg AS (
        SELECT event_type, v_cents,
               LEAD(t) OVER (PARTITION BY event_type ORDER BY t, event_id) - t
                 AS dt
        FROM pts
    )
    SELECT event_type,
           (ROUND((CAST(SUM(v_cents * dt) AS DOUBLE)
             / (CAST(SUM(dt) AS DOUBLE) * 100.0)) * 1e9) / 1e9 + 0.0) AS tw_avg,
           CAST(SUM(dt) AS BIGINT) AS covered_sec
    FROM seg WHERE dt IS NOT NULL
    GROUP BY event_type
    """,
)
def stat_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TimescaleDB `time_weight('LOCF')` analogue):
    each observation holds until the next one, so the mean is
    sum(v_i * (t_{i+1}-t_i)) / sum(dt) per signal. Everything before the
    final division is INTEGER arithmetic (cents x seconds), so partition
    merge order can't move the result — the float appears exactly once.
    One shuffle (the per-signal window); at 100 TB the same window runs
    per (signal, day) with a boundary-row carry, never a global sort."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        F.unix_seconds(F.col("ts").cast("timestamp")).alias("t"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("v_cents"),
        "event_id",
    )
    seg = pts.select(
        "event_type",
        "v_cents",
        (
            F.lead("t").over(
                Window.partitionBy("event_type").orderBy("t", "event_id")
            )
            - F.col("t")
        ).alias("dt"),
    ).filter(F.col("dt").isNotNull())
    return seg.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("v_cents") * F.col("dt")).cast("double")
            / (F.sum("dt").cast("double") * F.lit(100.0)),
            9,
        ).alias("tw_avg"),
        F.sum("dt").cast("bigint").alias("covered_sec"),
    )


@register(
    "stat_chi_square",
    oracle="""
    WITH cells AS (
        SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
               CAST(COUNT(*) AS BIGINT) AS o
        FROM events GROUP BY event_type, hr
    ),
    tot AS (
        SELECT event_type, hr, o,
               SUM(o) OVER (PARTITION BY event_type) AS rt,
               SUM(o) OVER (PARTITION BY hr) AS ct,
               SUM(o) OVER () AS n
        FROM cells
    )
    SELECT
        CAST(SUM(CAST(ROUND(
            (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
          * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
          / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)), 6)
          AS DECIMAL(20,6))) AS DOUBLE) AS chi2,
        CAST((COUNT(DISTINCT event_type) - 1) * (COUNT(DISTINCT hr) - 1) AS BIGINT)
          AS dof
    FROM tot
    """,
)
def stat_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test on the event_type x hour-of-day
    contingency table. Observed counts are exact integers; each cell's
    (o-e)^2/e is one identical float formula in both engines, rounded to
    6 decimals and summed as DECIMAL so the cross-cell summation order
    (engine/partition dependent for floats) cannot move the statistic.
    Scale shape: one count aggregate over the fact table, then windows over
    |cells| rows (types x 24) — the test itself costs nothing extra."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        "event_type", F.hour(F.col("ts").cast("timestamp")).cast("int").alias("hr")
    ).agg(F.count(F.lit(1)).alias("o"))
    tot = cells.select(
        "event_type",
        "hr",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("rt"),
        F.sum("o").over(Window.partitionBy("hr")).alias("ct"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    oD, rtD, ctD, nD = [F.col(c).cast("double") for c in ("o", "rt", "ct", "n")]
    eD = rtD * ctD / nD
    contrib = F.round((oD - eD) * (oD - eD) / eD, 6).cast("decimal(20,6)")
    return tot.agg(
        F.sum(contrib).cast("double").alias("chi2"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("hr") - 1)
        ).cast("bigint").alias("dof"),
    )


@register(
    "stat_entropy",
    oracle="""
    WITH cnt AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source, lang
    ),
    tot AS (
        SELECT source, lang, c, SUM(c) OVER (PARTITION BY source) AS n
        FROM cnt
    )
    SELECT source,
           CAST(SUM(CAST(ROUND(
               -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
                 * LN(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) / LN(2.0), 6)
             AS DECIMAL(20,6))) AS DOUBLE) AS lang_entropy_bits,
           CAST(COUNT(*) AS BIGINT) AS n_langs
    FROM tot
    GROUP BY source
    """,
)
def stat_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (bits) of each source's language distribution — the
    corpus-mixing diagnostic (a source collapsing to one language shows
    H -> 0). Counts are exact; each -p*log2(p) term is rounded to 6 decimals
    and summed as DECIMAL: libm vs JVM LN may differ in the last ulp, and
    float summation order is engine-dependent — rounding before the sum
    absorbs both. Same count -> window -> tiny-sum shape as the chi-square:
    one real aggregate over the data, math over |cells| rows."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.select(
        "source", "lang", "c", F.sum("c").over(Window.partitionBy("source")).alias("n")
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term = F.round(-p * F.log(p) / F.log(F.lit(2.0)), 6).cast("decimal(20,6)")
    return tot.groupBy("source").agg(
        F.sum(term).cast("double").alias("lang_entropy_bits"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
    )


@register(
    "stat_welch_ttest",
    oracle="""
    WITH m AS (
        SELECT
            CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS n1,
            CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS DOUBLE) AS n2,
            CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                 FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS s1,
            CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                 FILTER (WHERE event_type = 'error') AS DOUBLE) AS s2,
            CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
                   * CAST(ROUND(value * 100, 0) AS BIGINT))
                 FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS q1,
            CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
                   * CAST(ROUND(value * 100, 0) AS BIGINT))
                 FILTER (WHERE event_type = 'error') AS DOUBLE) AS q2
        FROM events WHERE event_type IN ('purchase', 'error')
    )
    SELECT CAST(n1 AS BIGINT) AS n_a,
           CAST(n2 AS BIGINT) AS n_b,
           (ROUND(((s1 / n1 - s2 / n2) / 100.0) * 1e9) / 1e9 + 0.0) AS mean_diff,
           (ROUND(((s1 / n1 - s2 / n2)
             / SQRT( ((q1 - s1 * s1 / n1) / (n1 - 1.0)) / n1
                   + ((q2 - s2 * s2 / n2) / (n2 - 1.0)) / n2 )) * 1e9) / 1e9 + 0.0) AS t_stat,
           ( ((q1 - s1 * s1 / n1) / (n1 - 1.0)) / n1
           + ((q2 - s2 * s2 / n2) / (n2 - 1.0)) / n2 )
           * ( ((q1 - s1 * s1 / n1) / (n1 - 1.0)) / n1
             + ((q2 - s2 * s2 / n2) / (n2 - 1.0)) / n2 )
           / ( ((q1 - s1 * s1 / n1) / (n1 - 1.0)) / n1
               * (((q1 - s1 * s1 / n1) / (n1 - 1.0)) / n1) / (n1 - 1.0)
             + ((q2 - s2 * s2 / n2) / (n2 - 1.0)) / n2
               * (((q2 - s2 * s2 / n2) / (n2 - 1.0)) / n2) / (n2 - 1.0) )
             AS welch_dof
    FROM m
    """,
)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test between two event populations (the
    A/B-test primitive) in ONE scan: both groups' exact integer power sums
    come from FILTER-ed aggregates over a single pass, then the t statistic
    and Welch-Satterthwaite dof are one shared float formula on the
    6-number aggregate row. Note the mean-difference uses cents/100 — the
    t statistic is scale-invariant so cents cancel there. At 100 TB an A/B
    readout costs exactly one filtered scan, no shuffle beyond the global
    6-column partial-agg merge."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    is_a = F.col("event_type") == "purchase"
    is_b = F.col("event_type") == "error"
    m = e.agg(
        F.count(F.when(is_a, 1)).cast("double").alias("n1"),
        F.count(F.when(is_b, 1)).cast("double").alias("n2"),
        F.sum(F.when(is_a, cents)).cast("double").alias("s1"),
        F.sum(F.when(is_b, cents)).cast("double").alias("s2"),
        F.sum(F.when(is_a, cents * cents)).cast("double").alias("q1"),
        F.sum(F.when(is_b, cents * cents)).cast("double").alias("q2"),
    )
    v1 = "((q1 - s1 * s1 / n1) / (n1 - 1.0)) / n1"
    v2 = "((q2 - s2 * s2 / n2) / (n2 - 1.0)) / n2"
    return m.selectExpr(
        "CAST(n1 AS BIGINT) AS n_a",
        "CAST(n2 AS BIGINT) AS n_b",
        "(ROUND(((s1 / n1 - s2 / n2) / 100.0) * 1e9) / 1e9 + 0.0) AS mean_diff",
        f"(ROUND(((s1 / n1 - s2 / n2) / SQRT({v1} + {v2})) * 1e9) / 1e9 + 0.0) AS t_stat",
        f"({v1} + {v2}) * ({v1} + {v2})"
        f" / ({v1} * ({v1}) / (n1 - 1.0) + {v2} * ({v2}) / (n2 - 1.0))"
        " AS welch_dof",
    )


@register(
    "stat_zscore_outliers",
    oracle="""
    WITH m AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) AS s,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
                      * CAST(ROUND(value * 100, 0) AS BIGINT)) AS DOUBLE) AS q
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           (ROUND(((CAST(CAST(ROUND(e.value * 100, 0) AS BIGINT) AS DOUBLE) - m.s / m.n)
             / SQRT(m.q / m.n - (m.s / m.n) * (m.s / m.n))) * 1e9) / 1e9 + 0.0) AS zscore
    FROM events e JOIN m ON e.event_type = m.event_type
    WHERE ABS(
        (CAST(CAST(ROUND(e.value * 100, 0) AS BIGINT) AS DOUBLE) - m.s / m.n)
          / SQRT(m.q / m.n - (m.s / m.n) * (m.s / m.n))
    ) > 2.5
    """,
)
def stat_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score anomaly flagging: group mean/std from exact integer
    power sums (one tiny aggregate), broadcast back onto the rows, flag
    |z| > 2.5. The z formula is identical IEEE ops in both engines, in
    cents scale so the threshold compare sees bit-identical doubles. At
    100 TB: one scan + one |groups|-row broadcast — anomaly detection as a
    map-only second pass, no row shuffle."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    m = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(cents).cast("double").alias("s"),
        F.sum(cents * cents).cast("double").alias("q"),
    )
    joined = e.join(F.broadcast(m), "event_type")
    z = (cents.cast("double") - F.col("s") / F.col("n")) / F.sqrt(
        F.col("q") / F.col("n") - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n"))
    )
    # Threshold compares RAW z (identical formula both sides); only the
    # emitted column rounds — round-before-filter would move the cut line.
    return joined.filter(F.abs(z) > 2.5).select(
        "event_id", "event_type", "value", round9(z).alias("zscore")
    )


@register(
    "stat_equidepth_histogram",
    oracle="""
    SELECT bucket,
           COUNT(*) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM (
        SELECT o_totalprice,
               NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders
    )
    GROUP BY bucket
    """,
)
def stat_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (ClickHouse quantile grid / equi-height
    buckets): NTILE assigns equal-population buckets, then per-bucket count
    and value range.  The (value, key) total order makes bucket boundaries
    deterministic on any engine.  Scale: a single global sort is the honest
    cost of exact equi-depth; the approximate path at 100 TB is
    approx_percentile bucket edges + a map-only bucketize, pinned elsewhere
    (`sketch_approx_percentile`)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice"), F.col("o_orderkey"))
    return (
        o.select("o_orderkey", "o_totalprice", F.ntile(10).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@register(
    "stat_ks_two_sample",
    oracle="""
    WITH pooled AS (
        SELECT value,
               CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is_a,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_b,
               event_id
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    n AS (
        SELECT CAST(SUM(is_a) AS BIGINT) AS n_a,
               CAST(SUM(is_b) AS BIGINT) AS n_b
        FROM pooled
    ),
    run AS (
        SELECT value,
               SUM(is_a) OVER (ORDER BY value, event_id) AS c_a,
               SUM(is_b) OVER (ORDER BY value, event_id) AS c_b
        FROM pooled
    ),
    steps AS (
        -- the ECDF step heights at each distinct pooled value: take the
        -- LAST running counts per value (ties within a value collapse)
        SELECT value, MAX(c_a) AS c_a, MAX(c_b) AS c_b
        FROM run GROUP BY value
    )
    SELECT n.n_a, n.n_b,
           CAST(MAX(ABS(c_a * n.n_b - c_b * n.n_a)) AS BIGINT) AS d_num,
           n.n_a * n.n_b AS d_den,
           (ROUND((CAST(MAX(ABS(c_a * n.n_b - c_b * n.n_a)) AS DOUBLE)
               / (n.n_a * n.n_b)) * 1e9) / 1e9 + 0.0) AS d_stat
    FROM steps, n
    GROUP BY n.n_a, n.n_b
    """,
)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov D between the 'click' and
    'purchase' value distributions. D = max |ECDF_a - ECDF_b| over the
    pooled sample, computed as the INTEGER max of |c_a*n_b - c_b*n_a|
    (running counts at each distinct pooled value) with ONE final float
    division — no per-row float comparisons for the oracle to disagree on.

    Scale: collapse to per-distinct-value counts FIRST (one shuffle), then
    the running counts come from the DISTRIBUTED exact prefix sum
    (operators/ranking.py::global_running_sums — quantile blocks of the
    value + per-block offsets), so nothing ever runs single-task even
    when values are near-unique (round-5 scale audit replaced the
    previous unpartitioned window over raw pooled rows).
    """
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    pooled = e.select(
        "value",
        F.when(F.col("event_type") == "click", 1).otherwise(0).alias("is_a"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_b"),
    )
    per_value = pooled.groupBy("value").agg(
        F.sum("is_a").alias("a_cnt"), F.sum("is_b").alias("b_cnt")
    )
    from chainhouse_spark.operators.ranking import global_running_sums

    # ECDF step heights: the inclusive prefix sum over DISTINCT values
    # (values are unique after the groupBy, so ordering by value alone is
    # total) equals the oracle's last-running-count-per-value collapse.
    steps = global_running_sums(
        per_value, "value", {"a_cnt": "c_a", "b_cnt": "c_b"}
    ).select("value", "c_a", "c_b")
    n = pooled.agg(
        F.sum("is_a").alias("n_a"), F.sum("is_b").alias("n_b")
    )
    return (
        steps.crossJoin(F.broadcast(n))
        .groupBy("n_a", "n_b")
        .agg(
            F.max(
                F.abs(F.col("c_a") * F.col("n_b") - F.col("c_b") * F.col("n_a"))
            ).alias("d_num")
        )
        .select(
            "n_a",
            "n_b",
            "d_num",
            (F.col("n_a") * F.col("n_b")).alias("d_den"),
            round9(
                F.col("d_num").cast("double") / (F.col("n_a") * F.col("n_b"))).alias("d_stat"),
        )
    )


# Benford expected first-digit fractions as PRE-RENDERED double literals —
# embedding log10() calls would tie the oracle to two libm implementations;
# a literal parses to the identical IEEE double in both engines.
import math as _math

_BENFORD = {d: repr(_math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}
# CAST each literal to DOUBLE: DuckDB parses long numeric literals as wide
# DECIMALs, and decimal arithmetic then overflows in the chi-square terms.
_BENFORD_CASE = "CASE " + " ".join(
    f"WHEN digit = {d} THEN CAST({p} AS DOUBLE)" for d, p in _BENFORD.items()
) + " END"


@register(
    "stat_benford_audit",
    oracle=f"""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
                           1, 1) AS INT) AS digit
        FROM orders
    ),
    obs AS (
        SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM obs),
    terms AS (
        SELECT o.digit, o.n_obs, t.n,
               (ROUND((({_BENFORD_CASE})) * 1e9) / 1e9 + 0.0) AS benford_frac,
               (ROUND((CAST(o.n_obs AS DOUBLE) / t.n) * 1e9) / 1e9 + 0.0) AS obs_frac,
               ROUND((o.n_obs - t.n * ({_BENFORD_CASE}))
                     * (o.n_obs - t.n * ({_BENFORD_CASE}))
                     / (t.n * ({_BENFORD_CASE})), 10) AS term
        FROM obs o, tot t
    )
    SELECT digit, n_obs, obs_frac, benford_frac,
           CAST(SUM(CAST(term AS DECIMAL(28,10))) OVER () AS DOUBLE) AS chi2
    FROM terms
    """,
)
def stat_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the fraud/
    data-quality forensic: observed leading-digit fractions vs log10(1+1/d)
    with the chi-square statistic alongside (here it rejects loudly:
    synthetic uniform prices are exactly what Benford flags). Digit comes
    from the DECIMAL's canonical string (log10-based extraction is
    engine-divergent at power-of-ten boundaries); expected fractions are
    pre-rendered double literals (no libm in either engine); per-digit
    chi-square terms are rounded-then-DECIMAL-summed (the statistics-module
    idiom) so summation order cannot move the statistic."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    d = o.select(
        F.substring(
            F.col("o_totalprice").cast("decimal(12,2)").cast("string"), 1, 1
        ).cast("int").alias("digit")
    )
    obs = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    tot = obs.agg(F.sum("n_obs").alias("n"))
    terms = obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        "n",
        F.expr(f"(ROUND((({_BENFORD_CASE})) * 1e9) / 1e9 + 0.0)").alias("benford_frac"),
        round9(F.col("n_obs").cast("double") / F.col("n")).alias("obs_frac"),
        F.expr(
            f"ROUND((n_obs - n * ({_BENFORD_CASE})) "
            f"* (n_obs - n * ({_BENFORD_CASE})) "
            f"/ (n * ({_BENFORD_CASE})), 10)"
        ).alias("term"),
    )
    return terms.select(
        "digit",
        "n_obs",
        "obs_frac",
        "benford_frac",
        F.sum(F.col("term").cast("decimal(28,10)"))
        .over(Window.partitionBy())
        .cast("double")
        .alias("chi2"),
    )


@register(
    "stat_mann_whitney_u",
    oracle="""
    WITH v AS (
        SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS na,
               CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS nb
        FROM events WHERE event_type IN ('purchase', 'error')
        GROUP BY 1
    ),
    r AS (
        SELECT c, na, nb, na + nb AS t,
               COALESCE(SUM(na + nb) OVER (
                   ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS c_lt
        FROM v
    ),
    agg AS (
        SELECT CAST(SUM(na) AS DOUBLE) AS n1,
               CAST(SUM(nb) AS DOUBLE) AS n2,
               CAST(SUM(na * (2 * c_lt + t + 1)) AS DOUBLE) AS r1_x2,
               CAST(SUM(t * t * t - t) AS DOUBLE) AS ties
        FROM r
    )
    SELECT CAST(n1 AS BIGINT) AS n_a,
           CAST(n2 AS BIGINT) AS n_b,
           (r1_x2 - n1 * (n1 + 1.0)) / 2.0 AS u_stat,
           (ROUND((((r1_x2 - n1 * (n1 + 1.0)) / 2.0 - n1 * n2 / 2.0)
             / SQRT(n1 * n2 / 12.0
                    * ((n1 + n2 + 1.0)
                       - ties / ((n1 + n2) * (n1 + n2 - 1.0))))) * 1e9) / 1e9 + 0.0) AS z_stat
    FROM agg
    """,
)
def stat_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) between two event populations —
    the NONPARAMETRIC member of the A/B family next to Welch's t and the
    KS D: rank-based, so outliers and non-normal value distributions
    cannot distort it. Midranks come from exact integer counting over
    DISTINCT cent values (2*midrank = 2*below + ties + 1 keeps every rank
    term integral — no .5 floats in the aggregation), the tie-corrected
    normal approximation uses the exact Σ(t³ − t), and the only float ops
    are the final U/2 and z formulas on one aggregate row. The ordered
    cumulative counts run over DISTINCT values via the DISTRIBUTED exact
    prefix sum (operators/ranking.py::global_running_sums) — never raw
    rows, and never a single task even when values are near-unique."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    v = (
        e.select(
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
            (F.col("event_type") == "purchase").alias("is_a"),
        )
        .groupBy("c")
        .agg(
            F.count(F.when(F.col("is_a"), 1)).alias("na"),
            F.count(F.when(~F.col("is_a"), 1)).alias("nb"),
        )
        .withColumn("t", F.col("na") + F.col("nb"))
    )
    from chainhouse_spark.operators.ranking import global_running_sums

    # Exclusive prefix (ranks strictly below) = inclusive running sum - t.
    # `c` is unique after the groupBy, so ordering by it alone is total.
    r = global_running_sums(v, "c", {"t": "c_le"}).withColumn(
        "c_lt", F.col("c_le") - F.col("t")
    )
    agg = r.agg(
        F.sum("na").cast("double").alias("n1"),
        F.sum("nb").cast("double").alias("n2"),
        F.sum(F.col("na") * (2 * F.col("c_lt") + F.col("t") + 1))
        .cast("double")
        .alias("r1_x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("double")
        .alias("ties"),
    )
    return agg.selectExpr(
        "CAST(n1 AS BIGINT) AS n_a",
        "CAST(n2 AS BIGINT) AS n_b",
        "(r1_x2 - n1 * (n1 + 1.0)) / 2.0 AS u_stat",
        "(ROUND((((r1_x2 - n1 * (n1 + 1.0)) / 2.0 - n1 * n2 / 2.0)"
        " / SQRT(n1 * n2 / 12.0 * ((n1 + n2 + 1.0)"
        " - ties / ((n1 + n2) * (n1 + n2 - 1.0))))) * 1e9) / 1e9 + 0.0) AS z_stat",
    )


@register(
    "drift_psi_by_source",
    oracle="""
    WITH base AS (
        SELECT source,
               ((instr('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 2)
                 AS snap,
               CAST(LEAST(n_chars // 64, 9) AS INT) AS bin
        FROM documents
    ),
    cnt AS (
        SELECT source, bin,
               CAST(COUNT(*) FILTER (WHERE snap = 0) AS BIGINT) AS c0,
               CAST(COUNT(*) FILTER (WHERE snap = 1) AS BIGINT) AS c1
        FROM base GROUP BY source, bin
    ),
    spine AS (
        SELECT s.source, CAST(b AS INT) AS bin
        FROM (SELECT DISTINCT source FROM cnt) s, UNNEST(range(0, 10)) t(b)
    ),
    full_cnt AS (
        SELECT spine.source, spine.bin,
               COALESCE(cnt.c0, 0) AS c0, COALESCE(cnt.c1, 0) AS c1
        FROM spine LEFT JOIN cnt
          ON spine.source = cnt.source AND spine.bin = cnt.bin
    ),
    tot AS (
        SELECT source, bin, c0, c1,
               SUM(c0) OVER (PARTITION BY source) AS n0,
               SUM(c1) OVER (PARTITION BY source) AS n1
        FROM full_cnt
    ),
    term AS (
        SELECT source, bin, c0, c1, n0, n1,
               CAST(c0 + 1 AS DOUBLE) / (n0 + 10) AS p0,
               CAST(c1 + 1 AS DOUBLE) / (n1 + 10) AS p1,
               ABS((c1 + 1) * (n0 + 10) - (c0 + 1) * (n1 + 10)) AS shift_mag
        FROM tot
    )
    SELECT source,
           CAST(MIN(n0) AS BIGINT) AS n_base,
           CAST(MIN(n1) AS BIGINT) AS n_cur,
           CAST(SUM(CAST(ROUND((p1 - p0) * LN(p1 / p0), 6)
                    AS DECIMAL(20,6))) AS DOUBLE) AS psi,
           CAST(MIN(CASE WHEN shift_rank = 1 THEN bin END) AS INT) AS top_shift_bin
    FROM (
        SELECT *,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY shift_mag DESC, bin ASC) AS shift_rank
        FROM term
    )
    GROUP BY source
    """,
)
def drift_psi_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of each source's document-length
    distribution between two corpus snapshots (split by a deterministic
    md5 bit of doc_id — id parity is constant within a source here) — the drift monitor a recurring training-data refresh
    runs before accepting a new crawl. Lengths bin into 10 fixed buckets;
    bin probabilities are Laplace-smoothed ((c+1)/(n+10)) so empty bins
    contribute finite terms, and each PSI term is rounded to 6 decimals and
    summed as DECIMAL (the stat_entropy recipe: LN may differ in the last
    ulp across engines, float sum order is engine-dependent). The reported
    top-shift bin is ranked by the INTEGER cross-product
    |(c1+1)(n0+10) - (c0+1)(n1+10)| — within a source the denominators are
    constant, so this orders |p1 - p0| exactly with no float compare.

    Scale: one count shuffle collapses the corpus map-side to
    <= |sources| * 10 * 2 cells; the bin spine is derived from the cube (not
    a second corpus scan) and every later op moves only cube-sized rows."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        # md5-bit snapshot split (NOT doc_id parity — id parity is constant
        # within a source in this data, so a parity split degenerates to
        # base-vs-empty; found via drift_ks_by_source, round 9)
        F.expr(
            "(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 1), 16, 10)"
            " AS INT) % 2)"
        ).alias("snap"),
        F.least(F.col("n_chars") / F.lit(64), F.lit(9)).cast("int").alias("bin"),
    )
    # The 10 bins are FIXED, so the whole (source, snap, bin) cube pivots
    # into 20 conditional sums of ONE aggregate — a single corpus scan and a
    # single shuffle whose map-side partials are 20 longs per source. Zero
    # bins fall out as zero sums (no spine join, which would branch the
    # lineage and re-scan the corpus for the source list — observed as a
    # second parquet scan in the spine-join formulation).
    def _c(snap: int, b: int):
        return (
            F.sum(
                F.when((F.col("snap") == snap) & (F.col("bin") == b), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"b{b}_{snap}")
        )

    agg = d.groupBy("source").agg(
        *[_c(s, b) for s in (0, 1) for b in range(10)]
    )
    arr0 = F.array(*[F.col(f"b{b}_0") for b in range(10)])
    arr1 = F.array(*[F.col(f"b{b}_1") for b in range(10)])
    tot = (
        agg.select(
            "source",
            sum([F.col(f"b{b}_0") for b in range(10)], F.lit(0).cast("bigint")).alias("n0"),
            sum([F.col(f"b{b}_1") for b in range(10)], F.lit(0).cast("bigint")).alias("n1"),
            arr0.alias("a0"),
            arr1.alias("a1"),
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin"),
        )
        .select(
            "source",
            F.col("bin").cast("int").alias("bin"),
            F.element_at("a0", F.col("bin") + 1).alias("c0"),
            F.element_at("a1", F.col("bin") + 1).alias("c1"),
            "n0",
            "n1",
        )
    )
    p0 = (F.col("c0") + 1).cast("double") / (F.col("n0") + 10)
    p1 = (F.col("c1") + 1).cast("double") / (F.col("n1") + 10)
    term = tot.select(
        "source",
        "bin",
        "n0",
        "n1",
        p0.alias("p0"),
        p1.alias("p1"),
        F.abs(
            (F.col("c1") + 1) * (F.col("n0") + 10)
            - (F.col("c0") + 1) * (F.col("n1") + 10)
        ).alias("shift_mag"),
    )
    ranked = term.withColumn(
        "shift_rank",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.desc("shift_mag"), F.asc("bin")
            )
        ),
    )
    psi_term = F.round(
        (F.col("p1") - F.col("p0")) * F.log(F.col("p1") / F.col("p0")), 6
    ).cast("decimal(20,6)")
    return ranked.groupBy("source").agg(
        F.min("n0").cast("bigint").alias("n_base"),
        F.min("n1").cast("bigint").alias("n_cur"),
        F.sum(psi_term).cast("double").alias("psi"),
        F.min(F.when(F.col("shift_rank") == 1, F.col("bin")))
        .cast("int")
        .alias("top_shift_bin"),
    )


@register(
    "stat_runs_test",
    oracle="""
    WITH base AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS c
        FROM events
        WHERE event_type IN ('click', 'purchase', 'error')
    ),
    ranked AS (
        SELECT event_type, event_id, c,
               COUNT(*) OVER (PARTITION BY event_type) AS n,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY c, event_id) AS rk
        FROM base
    ),
    med AS (
        SELECT event_type, event_id, c, n,
               MAX(CASE WHEN rk = (n + 1) // 2 THEN c END)
                   OVER (PARTITION BY event_type) AS med_c
        FROM ranked
    ),
    signs AS (
        SELECT event_type,
               CASE WHEN c > med_c THEN 1 ELSE 0 END AS s,
               LAG(CASE WHEN c > med_c THEN 1 ELSE 0 END)
                   OVER (PARTITION BY event_type ORDER BY event_id) AS prev_s
        FROM med
    ),
    agg AS (
        SELECT event_type,
               CAST(SUM(s) AS BIGINT) AS n_above,
               CAST(SUM(1 - s) AS BIGINT) AS n_below,
               CAST(1 + SUM(CASE WHEN prev_s IS NOT NULL AND s <> prev_s
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        FROM signs GROUP BY event_type
    )
    SELECT event_type, n_above, n_below, n_runs,
           CASE WHEN n_above = 0 OR n_below = 0 THEN NULL ELSE
           (ROUND(((CAST(n_runs AS DOUBLE)
            - (2.0 * n_above * n_below / (n_above + n_below) + 1.0))
           / SQRT(2.0 * n_above * n_below
                  * (2.0 * n_above * n_below - n_above - n_below)
                  / ((CAST(n_above + n_below AS DOUBLE)
                      * (n_above + n_below))
                     * (n_above + n_below - 1.0)))) * 1e9) / 1e9 + 0.0) END AS z_stat
    FROM agg
    """,
)
def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type: dichotomize each type's
    value sequence (ordered by event_id) against its exact rank-based
    median, count sign runs, and z-score against the null of a random
    ordering — the nonparametric randomness check an ingest pipeline runs
    to catch accidentally sorted/batched data (a sorted feed collapses to
    ~2 runs and screams in z). Runs/medians/counts are all integers from
    rank logic (ties dichotomize as <=, deterministically in both
    engines); z is a fixed chain of correctly-rounded IEEE ops from exact
    BIGINTs. One shuffle: every window and the final group share the
    event_type partitioning."""
    base = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase", "error"))
        .select(
            "event_type",
            "event_id",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
        )
    )
    wp = Window.partitionBy("event_type")
    ranked = base.withColumn("n", F.count(F.lit(1)).over(wp)).withColumn(
        "rk",
        F.row_number().over(wp.orderBy(F.asc("c"), F.asc("event_id"))),
    )
    med = ranked.withColumn(
        "med_c",
        F.max(
            # integer floor-div: (n+1)/2 would be a fractional DOUBLE in
            # Spark (never equal to rk for even n+1) while DuckDB's // is
            # integral — `div` matches the oracle exactly
            F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("c")).otherwise(
                F.lit(None)
            )
        ).over(wp),
    )
    s = F.when(F.col("c") > F.col("med_c"), 1).otherwise(0)
    signs = med.select(
        "event_type",
        s.alias("s"),
        F.lag(s).over(wp.orderBy("event_id")).alias("prev_s"),
    )
    agg = signs.groupBy("event_type").agg(
        F.sum("s").cast("bigint").alias("n_above"),
        F.sum(1 - F.col("s")).cast("bigint").alias("n_below"),
        (
            1
            + F.sum(
                F.when(
                    F.col("prev_s").isNotNull() & (F.col("s") != F.col("prev_s")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("n_runs"),
    )
    na, nb, r = (
        F.col("n_above").cast("double"),
        F.col("n_below").cast("double"),
        F.col("n_runs").cast("double"),
    )
    mu = 2.0 * na * nb / (na + nb) + 1.0
    var = (
        2.0 * na * nb * (2.0 * na * nb - na - nb)
        / (((na + nb) * (na + nb)) * (na + nb - 1.0))
    )
    return agg.select(
        "event_type",
        "n_above",
        "n_below",
        "n_runs",
        # a degenerate dichotomy (all values on one side of the median)
        # has zero variance — NULL z rather than ANSI divide-by-zero /
        # DuckDB inf divergence
        F.when(var > 0, round9((r - mu) / F.sqrt(var))).alias("z_stat"),
    )


@register(
    "stat_trimmed_mean",
    oracle="""
    WITH base AS (
        SELECT event_type, event_id,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS c
        FROM events
    ),
    ranked AS (
        SELECT event_type, c,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY c, event_id) AS rk,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM base
    ),
    marked AS (
        SELECT event_type, c, rk, n, (n * 5) // 100 AS k
        FROM ranked
    )
    SELECT event_type,
           CAST(MIN(n) AS BIGINT) AS n,
           (ROUND((CAST(SUM(c) AS DOUBLE) / MIN(n) / 100) * 1e9) / 1e9 + 0.0) AS mean,
           (ROUND((CAST(SUM(CASE WHEN rk > k AND rk <= n - k THEN c ELSE 0 END) AS DOUBLE)
               / (MIN(n) - 2 * MIN(k)) / 100) * 1e9) / 1e9 + 0.0) AS trimmed_mean_5pct,
           (ROUND((CAST(SUM(CASE WHEN rk > k AND rk <= n - k THEN c ELSE 0 END)
                + MIN(k) * MAX(CASE WHEN rk = k + 1 THEN c END)
                + MIN(k) * MAX(CASE WHEN rk = n - k THEN c END) AS DOUBLE)
               / MIN(n) / 100) * 1e9) / 1e9 + 0.0) AS winsorized_mean_5pct
    FROM marked
    GROUP BY event_type
    """,
)
def stat_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust means per event type: the 5%-trimmed mean (drop the exact-rank
    top/bottom 5%) and the 5%-winsorized mean (clamp them to the boundary
    order statistics) alongside the raw mean — the outlier-resistant
    location estimates a metrics pipeline reports when heavy tails make
    the plain mean lie. Values as integer cents; every sum and boundary
    statistic is exact, finished by one division chain both engines
    evaluate identically. One shuffle: rank window and final group share
    the event_type partitioning."""
    base = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
    )
    wp = Window.partitionBy("event_type")
    ranked = base.select(
        "event_type",
        "c",
        F.row_number().over(wp.orderBy(F.asc("c"), F.asc("event_id"))).alias("rk"),
        F.count(F.lit(1)).over(wp).alias("n"),
    ).withColumn("k", F.expr("(n * 5) div 100"))
    kept = F.when(
        (F.col("rk") > F.col("k")) & (F.col("rk") <= F.col("n") - F.col("k")),
        F.col("c"),
    ).otherwise(F.lit(0))
    lo = F.max(F.when(F.col("rk") == F.col("k") + 1, F.col("c")))
    hi = F.max(F.when(F.col("rk") == F.col("n") - F.col("k"), F.col("c")))
    return ranked.groupBy("event_type").agg(
        F.min("n").cast("bigint").alias("n"),
        round9(F.sum("c").cast("double") / F.min("n") / 100).alias("mean"),
        F.round(
            F.sum(kept).cast("double")
            / (F.min("n") - 2 * F.min("k"))
            / 100,
            9,
        ).alias("trimmed_mean_5pct"),
        F.round(
            (F.sum(kept) + F.min("k") * lo + F.min("k") * hi).cast("double")
            / F.min("n")
            / 100,
            9,
        ).alias("winsorized_mean_5pct"),
    )


@register(
    "stat_spearman_corr",
    oracle="""
    WITH base AS (
        SELECT l_returnflag AS g,
               CAST(ROUND(l_quantity, 0) AS BIGINT) AS x,
               CAST(ROUND(l_extendedprice, 0) AS BIGINT) AS y
        FROM lineitem
    ),
    rx AS (
        SELECT g, x,
               2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + c + 1 AS mr2
        FROM (SELECT g, x, COUNT(*) AS c FROM base GROUP BY g, x)
    ),
    ry AS (
        SELECT g, y,
               2 * COALESCE(SUM(c) OVER (PARTITION BY g ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + c + 1 AS mr2
        FROM (SELECT g, y, COUNT(*) AS c FROM base GROUP BY g, y)
    ),
    joined AS (
        SELECT base.g, rx.mr2 AS a, ry.mr2 AS b
        FROM base
        JOIN rx ON rx.g = base.g AND rx.x = base.x
        JOIN ry ON ry.g = base.g AND ry.y = base.y
    ),
    m AS (
        SELECT g,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(a) AS DECIMAL(38,0)) AS DOUBLE) AS sa,
               CAST(CAST(SUM(b) AS DECIMAL(38,0)) AS DOUBLE) AS sb,
               CAST(CAST(SUM(a * a) AS DECIMAL(38,0)) AS DOUBLE) AS saa,
               CAST(CAST(SUM(b * b) AS DECIMAL(38,0)) AS DOUBLE) AS sbb,
               CAST(CAST(SUM(a * b) AS DECIMAL(38,0)) AS DOUBLE) AS sab
        FROM joined GROUP BY g
    )
    SELECT g AS l_returnflag,
           CAST(n AS BIGINT) AS n_rows,
           (ROUND(((n * sab - sa * sb)
             / (SQRT(n * saa - sa * sa) * SQRT(n * sbb - sb * sb))
             ) * 1e9) / 1e9 + 0.0) AS spearman_rho
    FROM m
    """,
)
def stat_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs price per return flag — the
    robust (monotone-not-linear) counterpart to stat_corr_regression's
    Pearson. Tie-corrected midranks come from the Mann-Whitney recipe
    (2*midrank = 2*count_below + ties + 1, an exact INTEGER per distinct
    value, attached back to rows by an equi-join on the value); rho is
    Pearson over the doubled midranks, whose power sums stay exact in
    DECIMAL(38,0) and are cast to double ONCE before the shared formula.
    The rank tables hold |distinct values| rows per group — tiny relative
    to the fact table — so the two attach joins are broadcast-shaped at
    any scale."""
    base = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.round(F.col("l_quantity"), 0).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice"), 0).cast("bigint").alias("y"),
    )

    def mr2(col: str) -> DataFrame:
        cnt = base.groupBy("g", col).agg(F.count(F.lit(1)).alias("c"))
        w = (
            Window.partitionBy("g")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return cnt.select(
            "g",
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0)) + F.col("c") + 1
            ).alias("mr2"),
        )

    rx = mr2("x").withColumnRenamed("mr2", "a")
    ry = mr2("y").withColumnRenamed("mr2", "b")
    joined = base.join(rx, ["g", "x"]).join(ry, ["g", "y"])
    dec = lambda c: F.sum(c).cast("decimal(38,0)").cast("double")
    m = joined.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dec(F.col("a")).alias("sa"),
        dec(F.col("b")).alias("sb"),
        dec(F.col("a") * F.col("a")).alias("saa"),
        dec(F.col("b") * F.col("b")).alias("sbb"),
        dec(F.col("a") * F.col("b")).alias("sab"),
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    saa, sbb, sab = F.col("saa"), F.col("sbb"), F.col("sab")
    return m.select(
        F.col("g").alias("l_returnflag"),
        n.cast("bigint").alias("n_rows"),
        F.round(
            (n * sab - sa * sb)
            / (F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb)),
            9,
        ).alias("spearman_rho"),
    )


@register(
    "stat_mutual_information",
    oracle="""
    WITH cnt AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source, lang
    ),
    tot AS (
        SELECT source, lang, c,
               SUM(c) OVER (PARTITION BY source) AS cs,
               SUM(c) OVER (PARTITION BY lang) AS cl,
               SUM(c) OVER () AS n
        FROM cnt
    ),
    terms AS (
        SELECT c, cs, cl, n,
               CAST(ROUND((CAST(c AS DOUBLE) / n)
                    * LN((CAST(c AS DOUBLE) * n)
                         / (CAST(cs AS DOUBLE) * cl)) / LN(2.0), 6)
                    AS DECIMAL(20,6)) AS mi_term,
               CAST(ROUND(-(CAST(c AS DOUBLE) / n)
                    * LN(CAST(c AS DOUBLE) / n) / LN(2.0), 6)
                    AS DECIMAL(20,6)) AS hxy_term,
               (CAST(c AS DOUBLE) - CAST(cs AS DOUBLE) * cl / n)
                 * (CAST(c AS DOUBLE) - CAST(cs AS DOUBLE) * cl / n)
                 / (CAST(cs AS DOUBLE) * cl / n) AS chi_term
        FROM tot
    ),
    dims AS (
        SELECT COUNT(DISTINCT source) AS ns, COUNT(DISTINCT lang) AS nl,
               CAST(SUM(c) AS DOUBLE) AS n
        FROM cnt
    )
    SELECT CAST(dims.n AS BIGINT) AS n_docs,
           CAST(dims.ns AS INT) AS n_sources,
           CAST(dims.nl AS INT) AS n_langs,
           CAST(SUM(mi_term) AS DOUBLE) AS mi_bits,
           (ROUND((CAST(SUM(mi_term) AS DOUBLE)
               / CAST(SUM(hxy_term) AS DOUBLE)) * 1e9) / 1e9 + 0.0) AS nmi_joint,
           (ROUND((SQRT(CAST(SUM(CAST(ROUND(chi_term, 6) AS DECIMAL(20,6))) AS DOUBLE)
                / dims.n
                / (CASE WHEN dims.ns < dims.nl THEN dims.ns ELSE dims.nl END - 1))
               ) * 1e9) / 1e9 + 0.0) AS cramers_v
    FROM terms, dims
    GROUP BY dims.n, dims.ns, dims.nl
    """,
)
def stat_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-language dependence diagnostics over one contingency table:
    mutual information in bits, normalized MI (MI / joint entropy), and
    Cramér's V effect size — the corpus-balance checks that catch a
    source collapsing onto one language before training skews. Counts and
    marginals are exact integers from a single cube shuffle (marginals as
    windows over the cube — never a rescan); each per-cell float term is
    rounded-then-DECIMAL-summed (the stat_entropy recipe) so partition
    order can't move any statistic."""
    d = load_table(spark, sf_dir, "documents")
    cnt = d.groupBy("source", "lang").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = cnt.select(
        "source",
        "lang",
        "c",
        F.sum("c").over(Window.partitionBy("source")).alias("cs"),
        F.sum("c").over(Window.partitionBy("lang")).alias("cl"),
        F.sum("c").over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
    )
    cd, csd, cld, nd = (
        F.col("c").cast("double"),
        F.col("cs").cast("double"),
        F.col("cl").cast("double"),
        F.col("n").cast("double"),
    )
    ln2 = F.log(F.lit(2.0))
    mi_term = F.round(
        (cd / nd) * F.log((cd * nd) / (csd * cld)) / ln2, 6
    ).cast("decimal(20,6)")
    hxy_term = F.round(-(cd / nd) * F.log(cd / nd) / ln2, 6).cast("decimal(20,6)")
    e = csd * cld / nd
    chi_term = F.round((cd - e) * (cd - e) / e, 6).cast("decimal(20,6)")
    terms = tot.select(
        mi_term.alias("mi_term"),
        hxy_term.alias("hxy_term"),
        chi_term.alias("chi_term"),
        "c",
        "source",
        "lang",
        "n",
    )
    agg = terms.agg(
        F.min("n").cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("int").alias("n_sources"),
        F.countDistinct("lang").cast("int").alias("n_langs"),
        F.sum("mi_term").cast("double").alias("mi_bits"),
        round9(
            F.sum("mi_term").cast("double") / F.sum("hxy_term").cast("double")).alias("nmi_joint"),
        F.sum("chi_term").cast("double").alias("chi2"),
    )
    k = F.when(F.col("n_sources") < F.col("n_langs"), F.col("n_sources")).otherwise(
        F.col("n_langs")
    )
    return agg.select(
        "n_docs",
        "n_sources",
        "n_langs",
        "mi_bits",
        "nmi_joint",
        round9(F.sqrt(F.col("chi2") / F.col("n_docs") / (k - 1))).alias(
            "cramers_v"
        ),
    )


@register(
    "stat_gini_concentration",
    oracle="""
    WITH ranked AS (
        SELECT source, CAST(n_chars AS BIGINT) AS x,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars, doc_id) AS rk,
               COUNT(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT source,
           CAST(MIN(n) AS BIGINT) AS n_docs,
           CAST(SUM(x) AS BIGINT) AS total_chars,
           (ROUND((CAST(2 * SUM(rk * x) - (MIN(n) + 1) * SUM(x) AS DOUBLE)
               / (MIN(n) * SUM(x))) * 1e9) / 1e9 + 0.0) AS gini
    FROM ranked
    GROUP BY source
    """,
)
def stat_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of document-length mass per source — the
    concentration diagnostic behind shard balancing and packing decisions
    (a source whose token mass sits in a few huge documents packs and
    shards very differently from a uniform one; G=0 uniform, G->1 all
    mass in one doc). The exact-rank formulation
    (2*sum(rank*x) - (n+1)*sum(x)) / (n*sum(x)) is all integer until one
    final division; ranks tie-break on doc_id so both engines rank
    identically (any tie order yields the same G for equal x — the
    tie-break just pins the plan). One shuffle: rank window and final
    group share the source partitioning."""
    ranked = (
        load_table(spark, sf_dir, "documents")
        .select("source", "doc_id", F.col("n_chars").cast("bigint").alias("x"))
        .select(
            "source",
            "x",
            F.row_number()
            .over(
                Window.partitionBy("source").orderBy(F.asc("x"), F.asc("doc_id"))
            )
            .alias("rk"),
            F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
        )
    )
    return ranked.groupBy("source").agg(
        F.min("n").cast("bigint").alias("n_docs"),
        F.sum("x").cast("bigint").alias("total_chars"),
        F.round(
            (2 * F.sum(F.col("rk") * F.col("x")) - (F.min("n") + 1) * F.sum("x"))
            .cast("double")
            / (F.min("n") * F.sum("x")),
            9,
        ).alias("gini"),
    )


@register(
    "stat_arrival_burstiness",
    oracle="""
    WITH base AS (
        SELECT event_type, epoch_us(ts) // 60000000 AS minute
        FROM events
    ),
    cnt AS (
        SELECT event_type, minute, CAST(COUNT(*) AS BIGINT) AS c
        FROM base GROUP BY event_type, minute
    ),
    agg AS (
        SELECT event_type,
               CAST(SUM(c) AS BIGINT) AS n_events,
               CAST(MAX(minute) - MIN(minute) + 1 AS BIGINT) AS n_minutes,
               CAST(SUM(c * c) AS BIGINT) AS s2,
               CAST(COUNT(*) AS BIGINT) AS n_active_minutes
        FROM cnt GROUP BY event_type
    )
    SELECT event_type, n_events, n_minutes, n_active_minutes,
           (ROUND((CAST(n_events AS DOUBLE) / n_minutes) * 1e9) / 1e9 + 0.0) AS mean_per_minute,
           (ROUND(((CAST(s2 AS DOUBLE) / n_minutes
              - (CAST(n_events AS DOUBLE) / n_minutes)
                * (CAST(n_events AS DOUBLE) / n_minutes))
             / (CAST(n_events AS DOUBLE) / n_minutes)) * 1e9) / 1e9 + 0.0) AS fano_factor
    FROM agg
    """,
)
def stat_arrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival burstiness per event type: the Fano factor (variance/mean of
    per-minute counts over the type's full minute span — empty minutes
    contribute zero to both sums, so the spine never materializes) — the
    dispersion diagnostic that separates Poisson-like traffic (F~1) from
    bursty feeds (F>>1) and metronome-regular synthetic load (F<1) before
    capacity planning or anomaly thresholds are set. Integer count sums
    collapse the corpus map-side; the float finish is the shared
    variance/mean chain over |types| rows. One shuffle."""
    base = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) div 60000000").alias("minute"),
    )
    cnt = base.groupBy("event_type", "minute").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = cnt.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        (F.max("minute") - F.min("minute") + 1).cast("bigint").alias("n_minutes"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("n_active_minutes"),
    )
    mean = F.col("n_events").cast("double") / F.col("n_minutes")
    return agg.select(
        "event_type",
        "n_events",
        "n_minutes",
        "n_active_minutes",
        round9(mean).alias("mean_per_minute"),
        round9(
            (F.col("s2").cast("double") / F.col("n_minutes") - mean * mean) / mean).alias("fano_factor"),
    )


# ---- hash-deterministic multiplier bootstrap -------------------------------
# B=16 replicates; replicate b weights each row by the popcount of a 16-bit
# md5 slice keyed on (event_id, b) — Binomial(16, 1/2), mean 8, the
# Rubin-style multiplier bootstrap with integer weights. Every replicate sum
# is exact BIGINT arithmetic; the only float ops are 16 fixed divisions and
# one EXPLICIT left-to-right chain (shared between engines as the same
# generated expression text) for the mean/variance of the 16 replicate
# means — identical IEEE evaluation order, so the SE replays bit-for-bit.
_BOOT_B = 16


def _boot_w_spark(b: int) -> str:
    return (
        f"bit_count(CAST(conv(substr(md5(CAST(event_id AS STRING) || ':{b}'),"
        f" 1, 4), 16, 10) AS INT))"
    )


def _boot_w_duck(b: int) -> str:
    h = f"md5(CAST(event_id AS VARCHAR) || ':{b}')"
    val = " + ".join(
        f"(instr('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (3 - i)}"
        for i in range(4)
    )
    return f"bit_count(CAST(({val}) AS INTEGER))"


def _boot_mean_chain() -> str:
    # ((m1 + m2) + m3) + ... — explicit association so both engines add in
    # the same order (SQL + is left-associative, but parenthesize anyway).
    expr = "m1"
    for b in range(2, _BOOT_B + 1):
        expr = f"({expr} + m{b})"
    return f"({expr}) / {float(_BOOT_B)}"


def _boot_var_chain() -> str:
    expr = "(m1 - mbar) * (m1 - mbar)"
    for b in range(2, _BOOT_B + 1):
        expr = f"({expr} + (m{b} - mbar) * (m{b} - mbar))"
    return f"({expr}) / {float(_BOOT_B - 1)}"


def _boot_oracle() -> str:
    sums = ",\n               ".join(
        f"CAST(SUM(({_boot_w_duck(b)}) * x) AS BIGINT) AS sw{b},"
        f" CAST(SUM({_boot_w_duck(b)}) AS BIGINT) AS nw{b}"
        for b in range(1, _BOOT_B + 1)
    )
    means = ",\n               ".join(
        f"CAST(sw{b} AS DOUBLE) / CAST(nw{b} AS DOUBLE) AS m{b}"
        for b in range(1, _BOOT_B + 1)
    )
    return f"""
    WITH x AS (
        SELECT event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(x) AS BIGINT) AS sx,
               {sums}
        FROM x
    ),
    m AS (
        SELECT n_rows, CAST(sx AS DOUBLE) / n_rows AS mean_cents,
               {means}
        FROM s
    ),
    v AS (
        SELECT n_rows, mean_cents, {_boot_mean_chain()} AS mbar FROM m
    ),
    f AS (
        SELECT v.n_rows, v.mean_cents, v.mbar,
               sqrt({_boot_var_chain()}) AS boot_se_cents
        FROM v JOIN m ON 1 = 1
    )
    SELECT n_rows, mean_cents, mbar AS boot_mean_cents,
           (ROUND((boot_se_cents) * 1e9) / 1e9 + 0.0) AS boot_se_cents
    FROM f
    """


@register("stat_bootstrap_se", oracle=_boot_oracle())
def stat_bootstrap_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard error of the mean purchase value by a hash-deterministic
    multiplier bootstrap (Rubin 1981 Bayesian-bootstrap family; Owen &
    Eckles 2012 for the pipeline setting): B=16 replicates, replicate b
    reweighting each row by popcount of a 16-bit md5 slice keyed on
    (event_id, b) — Binomial(16, 1/2) weights, so E[w]=8 cancels in the
    ratio and replicate means are unbiased. Random resampling is not
    reproducible across engines; hash weights are, and at 100 TB the whole
    thing is ONE aggregate pass (32 conditional integer sums — no explode,
    no second scan, no per-replicate shuffle). The replicate-mean variance
    chain is an explicit left-to-right float expression shared with the
    oracle so both engines evaluate in the same IEEE order."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    x = e.select(
        "event_id", F.round(F.col("value") * 100, 0).cast("bigint").alias("x")
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("x").cast("bigint").alias("sx"),
    ]
    for b in range(1, _BOOT_B + 1):
        w = _boot_w_spark(b)
        aggs.append(F.expr(f"CAST(SUM(({w}) * x) AS BIGINT)").alias(f"sw{b}"))
        aggs.append(F.expr(f"CAST(SUM({w}) AS BIGINT)").alias(f"nw{b}"))
    s = x.agg(*aggs)
    m = s.select(
        "n_rows",
        F.expr("CAST(sx AS DOUBLE) / n_rows").alias("mean_cents"),
        *[
            F.expr(f"CAST(sw{b} AS DOUBLE) / CAST(nw{b} AS DOUBLE)").alias(f"m{b}")
            for b in range(1, _BOOT_B + 1)
        ],
    )
    v = m.select("*", F.expr(_boot_mean_chain()).alias("mbar"))
    return v.select(
        "n_rows",
        "mean_cents",
        F.col("mbar").alias("boot_mean_cents"),
        round9(F.expr(f"sqrt({_boot_var_chain()})")).alias("boot_se_cents"),
    )


@register(
    "stat_ab_power_mde",
    oracle="""
    WITH m AS (
        SELECT event_type,
               CAST(COUNT(*) FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS n1,
               CAST(COUNT(*) FILTER (WHERE user_id % 2 = 1) AS DOUBLE) AS n2,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                    FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS s1,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                    FILTER (WHERE user_id % 2 = 1) AS DOUBLE) AS s2,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
                        * CAST(ROUND(value * 100, 0) AS BIGINT))
                    FILTER (WHERE user_id % 2 = 0) AS DOUBLE) AS q1,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)
                        * CAST(ROUND(value * 100, 0) AS BIGINT))
                    FILTER (WHERE user_id % 2 = 1) AS DOUBLE) AS q2
        FROM events GROUP BY event_type
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_a, CAST(n2 AS BIGINT) AS n_b,
           (ROUND(((s1 / n1) / 100.0) * 1e9) / 1e9 + 0.0) AS mean_a,
           (ROUND(((2.7963852180769197
            * SQRT((q1 - s1 * s1 / n1) / (n1 - 1.0) / n1
                   + (q2 - s2 * s2 / n2) / (n2 - 1.0) / n2)) / 100.0
             ) * 1e9) / 1e9 + 0.0) AS mde_abs,
           (ROUND(((2.7963852180769197
            * SQRT((q1 - s1 * s1 / n1) / (n1 - 1.0) / n1
                   + (q2 - s2 * s2 / n2) / (n2 - 1.0) / n2)) / (s1 / n1)
             ) * 1e9) / 1e9 + 0.0) AS mde_rel
    FROM m
    """,
)
def stat_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect per segment for a 50/50 A/B split
    (user_id parity as the assignment hash): MDE = (z_{1-α/2} + z_{power})
    * SE(mean_a - mean_b) with α=0.05 two-sided and 80% power —
    1.959963984540054 + 0.8416212335729143 = 2.7963852180769197, baked in
    as a literal so no engine evaluates a normal quantile. The experiment-
    design readout pipelines need BEFORE launching a test: which segments
    are big enough to measure. Same one-scan exact-power-sums shape as
    `stat_welch_ttest` (the variance inputs are integer-cent sums; the MDE
    formula is one shared float expression on the aggregate row)."""
    e = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    in_a = F.col("user_id") % 2 == 0
    in_b = F.col("user_id") % 2 == 1
    m = e.groupBy("event_type").agg(
        F.count(F.when(in_a, 1)).cast("double").alias("n1"),
        F.count(F.when(in_b, 1)).cast("double").alias("n2"),
        F.sum(F.when(in_a, cents)).cast("double").alias("s1"),
        F.sum(F.when(in_b, cents)).cast("double").alias("s2"),
        F.sum(F.when(in_a, cents * cents)).cast("double").alias("q1"),
        F.sum(F.when(in_b, cents * cents)).cast("double").alias("q2"),
    )
    se = (
        "SQRT((q1 - s1 * s1 / n1) / (n1 - 1.0) / n1"
        " + (q2 - s2 * s2 / n2) / (n2 - 1.0) / n2)"
    )
    return m.selectExpr(
        "event_type",
        "CAST(n1 AS BIGINT) AS n_a",
        "CAST(n2 AS BIGINT) AS n_b",
        "(ROUND(((s1 / n1) / 100.0) * 1e9) / 1e9 + 0.0) AS mean_a",
        f"(ROUND(((2.7963852180769197 * {se}) / 100.0) * 1e9) / 1e9 + 0.0) AS mde_abs",
        f"(ROUND(((2.7963852180769197 * {se}) / (s1 / n1)) * 1e9) / 1e9 + 0.0) AS mde_rel",
    )


@register(
    "stat_cuped_variance_reduction",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN ts <  TIMESTAMP '2024-01-16'
                             THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS pre,
               CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                             THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS post
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    ),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(pre) AS DOUBLE) AS sx,
               CAST(SUM(post) AS DOUBLE) AS sy,
               CAST(SUM(pre * pre) AS DOUBLE) AS sxx,
               CAST(SUM(post * post) AS DOUBLE) AS syy,
               CAST(SUM(pre * post) AS DOUBLE) AS sxy
        FROM per_user
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           (ROUND(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1e9) / 1e9 + 0.0) AS theta,
           (syy - sy * sy / n) / (n - 1.0) AS var_post,
           ((syy - sy * sy / n)
            - (n * sxy - sx * sy) / (n * sxx - sx * sx)
              * (sxy - sx * sy / n)) / (n - 1.0) AS var_cuped,
           (ROUND((1.0 - (((syy - sy * sy / n)
                   - (n * sxy - sx * sy) / (n * sxx - sx * sx)
                     * (sxy - sx * sy / n)) / (n - 1.0))
                 / ((syy - sy * sy / n) / (n - 1.0))) * 1e9) / 1e9 + 0.0) AS variance_reduction
    FROM m
    """,
)
def stat_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013, 'Improving the
    sensitivity of online controlled experiments'): per-user pre-period
    purchase value as the covariate, post-period as the metric;
    theta = cov(pre, post)/var(pre), adjusted metric Y - theta*X, reported
    as the achieved variance reduction 1 - Var(Y_cuped)/Var(Y) — the
    number that says how much smaller an experiment can be. Identity used:
    Var(Y - tX) = Var(Y) - t*Cov(X,Y) at t = Cov/Var(X). One user-keyed
    aggregate then exact integer power sums (the moments recipe); every
    output is one shared float formula on a 6-number row. 100 TB shape:
    one shuffle of (user, 2 BIGINTs), one scalar gather."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    split = F.col("ts") < F.expr("TIMESTAMP_NTZ '2024-01-16 00:00:00'")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(split, cents).otherwise(0)).cast("bigint").alias("pre"),
        F.sum(F.when(~split, cents).otherwise(0)).cast("bigint").alias("post"),
    )
    m = per_user.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("pre").cast("double").alias("sx"),
        F.sum("post").cast("double").alias("sy"),
        F.sum(F.col("pre") * F.col("pre")).cast("double").alias("sxx"),
        F.sum(F.col("post") * F.col("post")).cast("double").alias("syy"),
        F.sum(F.col("pre") * F.col("post")).cast("double").alias("sxy"),
    )
    theta = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"
    var_post = "(syy - sy * sy / n) / (n - 1.0)"
    var_cuped = (
        f"((syy - sy * sy / n) - {theta} * (sxy - sx * sy / n)) / (n - 1.0)"
    )
    # var_post / var_cuped stay RAW: cents²-scale (≳1e6), where ROUND
    # itself diverges cross-engine — association-identical formulas are
    # their protection (registry.ROUND9_EXEMPT).
    return m.selectExpr(
        "CAST(n AS BIGINT) AS n_users",
        f"(ROUND(({theta}) * 1e9) / 1e9 + 0.0) AS theta",
        f"{var_post} AS var_post",
        f"{var_cuped} AS var_cuped",
        f"(ROUND((1.0 - ({var_cuped}) / ({var_post})) * 1e9) / 1e9 + 0.0) AS variance_reduction",
    )


@register(
    "stat_srm_check",
    oracle="""
    WITH arms AS (
        SELECT CAST(user_id % 2 AS INT) AS arm,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
        FROM events GROUP BY 1
    ),
    w AS (
        SELECT MAX(CASE WHEN arm = 0 THEN n_users END) AS n0,
               MAX(CASE WHEN arm = 1 THEN n_users END) AS n1
        FROM arms
    )
    SELECT n0 AS n_arm_a, n1 AS n_arm_b,
           (ROUND(((CAST(n0 - (n0 + n1) / 2.0 AS DOUBLE)
            * CAST(n0 - (n0 + n1) / 2.0 AS DOUBLE)) / ((n0 + n1) / 2.0)
           + (CAST(n1 - (n0 + n1) / 2.0 AS DOUBLE)
              * CAST(n1 - (n0 + n1) / 2.0 AS DOUBLE)) / ((n0 + n1) / 2.0)
             ) * 1e9) / 1e9 + 0.0) AS chi2,
           ((CAST(n0 - (n0 + n1) / 2.0 AS DOUBLE)
             * CAST(n0 - (n0 + n1) / 2.0 AS DOUBLE)) / ((n0 + n1) / 2.0)
            + (CAST(n1 - (n0 + n1) / 2.0 AS DOUBLE)
               * CAST(n1 - (n0 + n1) / 2.0 AS DOUBLE)) / ((n0 + n1) / 2.0))
             > 3.841458820694124 AS srm_detected
    FROM w
    """,
)
def stat_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch check (Fabijan et al. 2019 — the #1 A/B-test
    health gate): chi-square of observed arm sizes against the intended
    50/50 split, flagged against the df=1 α=0.05 critical value
    3.841458820694124 (a literal, so no engine evaluates an inverse-chi2).
    A detected SRM means assignment or logging is broken and every other
    readout is void — which is why platforms run this before any metric.
    One distinct-user aggregate, a 2-row pivot, fixed float formula."""
    e = load_table(spark, sf_dir, "events")
    arms = e.groupBy((F.col("user_id") % 2).cast("int").alias("arm")).agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    w = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
    )
    term = (
        "(CAST(n{i} - (n0 + n1) / 2.0 AS DOUBLE)"
        " * CAST(n{i} - (n0 + n1) / 2.0 AS DOUBLE)) / ((n0 + n1) / 2.0)"
    )
    chi2 = term.format(i=0) + " + " + term.format(i=1)
    # The detection compare uses the RAW chi2 (identical formula both
    # sides); only the emitted column rounds.
    return w.selectExpr(
        "n0 AS n_arm_a",
        "n1 AS n_arm_b",
        f"(ROUND(({chi2}) * 1e9) / 1e9 + 0.0) AS chi2",
        f"({chi2}) > 3.841458820694124 AS srm_detected",
    )


@register(
    "stat_diff_in_diff",
    oracle="""
    WITH cells AS (
        SELECT CAST(user_id % 2 AS INT) AS treated,
               CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END
                 AS post,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT treated, post,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS s,
               CAST(SUM(x * x) AS DOUBLE) AS q
        FROM cells GROUP BY treated, post
    ),
    w AS (
        SELECT
          MAX(CASE WHEN treated = 1 AND post = 1 THEN s / n END) AS m11,
          MAX(CASE WHEN treated = 1 AND post = 0 THEN s / n END) AS m10,
          MAX(CASE WHEN treated = 0 AND post = 1 THEN s / n END) AS m01,
          MAX(CASE WHEN treated = 0 AND post = 0 THEN s / n END) AS m00,
          MAX(CASE WHEN treated = 1 AND post = 1
                   THEN (q - s * s / n) / (n - 1.0) / n END) AS v11,
          MAX(CASE WHEN treated = 1 AND post = 0
                   THEN (q - s * s / n) / (n - 1.0) / n END) AS v10,
          MAX(CASE WHEN treated = 0 AND post = 1
                   THEN (q - s * s / n) / (n - 1.0) / n END) AS v01,
          MAX(CASE WHEN treated = 0 AND post = 0
                   THEN (q - s * s / n) / (n - 1.0) / n END) AS v00,
          CAST(SUM(n) AS BIGINT) AS n_rows
        FROM m
    )
    SELECT n_rows,
           (ROUND(((m11 - m10) / 100.0) * 1e9) / 1e9 + 0.0) AS treated_delta,
           (ROUND(((m01 - m00) / 100.0) * 1e9) / 1e9 + 0.0) AS control_delta,
           (ROUND((((m11 - m10) - (m01 - m00)) / 100.0) * 1e9) / 1e9 + 0.0) AS did_estimate,
           (ROUND((SQRT(v11 + v10 + v01 + v00) / 100.0) * 1e9) / 1e9 + 0.0) AS did_se
    FROM w
    """,
)
def stat_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: (treated post - treated pre) - (control
    post - control pre) with its standard error from the four cell
    variances — the quasi-experimental estimator for launches that can't
    be randomized (user_id parity as the 'treated' group, the period
    midpoint as the policy date). One grouped aggregate of exact integer
    power sums over 4 cells; every output is one shared float formula on
    the 12-number pivot row. 100 TB: one shuffle of (2-bit key, 3 sums)."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    cells = e.select(
        (F.col("user_id") % 2).cast("int").alias("treated"),
        F.when(
            F.col("ts") >= F.expr("TIMESTAMP_NTZ '2024-01-16 00:00:00'"), 1
        )
        .otherwise(0)
        .alias("post"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
    )
    m = cells.groupBy("treated", "post").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("q"),
    )
    mean = "s / n"
    var = "(q - s * s / n) / (n - 1.0) / n"
    w = m.agg(
        *[
            F.max(
                F.when(
                    (F.col("treated") == t) & (F.col("post") == p),
                    F.expr(mean),
                )
            ).alias(f"m{t}{p}")
            for t in (1, 0)
            for p in (1, 0)
        ],
        *[
            F.max(
                F.when(
                    (F.col("treated") == t) & (F.col("post") == p),
                    F.expr(var),
                )
            ).alias(f"v{t}{p}")
            for t in (1, 0)
            for p in (1, 0)
        ],
        F.sum("n").cast("bigint").alias("n_rows"),
    )
    return w.selectExpr(
        "n_rows",
        "(ROUND(((m11 - m10) / 100.0) * 1e9) / 1e9 + 0.0) AS treated_delta",
        "(ROUND(((m01 - m00) / 100.0) * 1e9) / 1e9 + 0.0) AS control_delta",
        "(ROUND((((m11 - m10) - (m01 - m00)) / 100.0) * 1e9) / 1e9 + 0.0) AS did_estimate",
        "(ROUND((SQRT(v11 + v10 + v01 + v00) / 100.0) * 1e9) / 1e9 + 0.0) AS did_se",
    )


@register(
    "stat_brown_forsythe",
    oracle="""
    WITH med AS (
        SELECT event_type, MEDIAN(value) AS med
        FROM events GROUP BY event_type
    ),
    z AS (
        SELECT e.event_type, ABS(e.value - m.med) AS z
        FROM events e JOIN med m USING (event_type)
    ),
    grp AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(z * 1000000, 0) AS BIGINT)) AS BIGINT)
                 AS sz_micro,
               CAST(SUM(CAST(ROUND(z * 1000000, 0) AS BIGINT)
                        * CAST(ROUND(z * 1000000, 0) AS BIGINT))
                    AS DECIMAL(38,0)) AS szz_micro2
        FROM z GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(COUNT(*) AS BIGINT) AS k,
               CAST(SUM(sz_micro) AS BIGINT) AS sz_tot
        FROM grp
    )
    SELECT g.event_type, g.n,
           ROUND(CAST(g.sz_micro AS DOUBLE) / g.n / 1000000.0, 9)
             AS mean_absdev,
           ROUND((CAST(g.sz_micro AS DOUBLE) / g.n
                  - CAST(t.sz_tot AS DOUBLE) / t.n_tot) / 1000000.0, 9)
             AS dev_from_grand,
           ROUND((CAST(g.szz_micro2 AS DOUBLE)
                  - CAST(g.sz_micro AS DOUBLE) * g.sz_micro / g.n)
                 / 1e12 / (g.n - 1), 9) AS var_absdev
    FROM grp g CROSS JOIN tot t
    """,
)
def stat_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe homogeneity-of-variance ingredients (Levene's test
    with the median center — robust to non-normality): per group the mean
    and variance of absolute deviations from the GROUP MEDIAN, plus each
    group's deviation from the grand mean of deviations — the quantities
    the F statistic is assembled from. Exactness: |v - median| is
    quantized to integer micro-units BEFORE summation, so both engines
    sum identical integers in any order (float partial sums would
    diverge); medians interpolate identically (see stat_median_iqr). Two
    group-keyed aggregates + one broadcast of a k-row total — the grand
    total never funnels row-level data."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(F.expr("MEDIAN(value)").alias("med"))
    z = (
        e.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.round(F.abs(F.col("value") - F.col("med")) * 1000000, 0)
            .cast("bigint")
            .alias("zm"),
        )
    )
    grp = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("zm").cast("bigint").alias("sz_micro"),
        F.sum(F.col("zm") * F.col("zm")).cast("decimal(38,0)").alias("szz_micro2"),
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum("sz_micro").cast("bigint").alias("sz_tot"),
    )
    g, t = F.col, F.col
    return grp.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n",
        F.round(g("sz_micro").cast("double") / g("n") / 1000000.0, 9).alias(
            "mean_absdev"
        ),
        F.round(
            (
                g("sz_micro").cast("double") / g("n")
                - t("sz_tot").cast("double") / t("n_tot")
            )
            / 1000000.0,
            9,
        ).alias("dev_from_grand"),
        F.round(
            (
                g("szz_micro2").cast("double")
                - g("sz_micro").cast("double") * g("sz_micro") / g("n")
            )
            / 1e12
            / (g("n") - 1),
            9,
        ).alias("var_absdev"),
    )


@register(
    "stat_cohens_d_by_segment",
    oracle="""
    WITH v AS (
        SELECT c.c_mktsegment AS segment, o.o_totalprice AS x,
               CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 'high' ELSE 'low' END AS arm
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    m AS (
        SELECT segment, arm,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(x * 100, 0) AS BIGINT)) AS BIGINT) AS sx,
               CAST(SUM(CAST(ROUND(x * 100, 0) AS BIGINT)
                        * CAST(ROUND(x * 100, 0) AS BIGINT))
                    AS DECIMAL(38,0)) AS sxx
        FROM v GROUP BY segment, arm
    ),
    wide AS (
        SELECT segment,
               MAX(CASE WHEN arm = 'high' THEN n END) AS n1,
               MAX(CASE WHEN arm = 'high' THEN sx END) AS sx1,
               MAX(CASE WHEN arm = 'high' THEN sxx END) AS sxx1,
               MAX(CASE WHEN arm = 'low' THEN n END) AS n2,
               MAX(CASE WHEN arm = 'low' THEN sx END) AS sx2,
               MAX(CASE WHEN arm = 'low' THEN sxx END) AS sxx2
        FROM m GROUP BY segment
    )
    SELECT segment, n1, n2,
           ROUND((CAST(sx1 AS DOUBLE) / n1 - CAST(sx2 AS DOUBLE) / n2)
                 / SQRT(((CAST(sxx1 AS DOUBLE) - CAST(sx1 AS DOUBLE) * sx1 / n1)
                         + (CAST(sxx2 AS DOUBLE) - CAST(sx2 AS DOUBLE) * sx2 / n2))
                        / (n1 + n2 - 2)),
                 9) AS cohens_d
    FROM wide
    """,
)
def stat_cohens_d_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size per market segment: standardized mean
    difference of order value between high-priority and low-priority
    orders, pooled-variance denominator — the effect-size companion to
    stat_welch_ttest (significance without magnitude is how dashboards
    lie). Prices quantize to integer cents before summation (exact
    cross-engine sums); the broadcast-joined dimension and the
    two-arm pivot keep it at two shuffles of |segments x 2| rows."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    v = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("xc"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high"
        )
        .otherwise("low")
        .alias("arm"),
    )
    m = v.groupBy("segment", "arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xc").cast("bigint").alias("sx"),
        F.sum(F.col("xc") * F.col("xc")).cast("decimal(38,0)").alias("sxx"),
    )
    wide = m.groupBy("segment").agg(
        F.max(F.when(F.col("arm") == "high", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == "high", F.col("sx"))).alias("sx1"),
        F.max(F.when(F.col("arm") == "high", F.col("sxx"))).alias("sxx1"),
        F.max(F.when(F.col("arm") == "low", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("arm") == "low", F.col("sx"))).alias("sx2"),
        F.max(F.when(F.col("arm") == "low", F.col("sxx"))).alias("sxx2"),
    )
    mean_diff = (
        F.col("sx1").cast("double") / F.col("n1")
        - F.col("sx2").cast("double") / F.col("n2")
    )
    pooled = (
        (
            F.col("sxx1").cast("double")
            - F.col("sx1").cast("double") * F.col("sx1") / F.col("n1")
        )
        + (
            F.col("sxx2").cast("double")
            - F.col("sx2").cast("double") * F.col("sx2") / F.col("n2")
        )
    ) / (F.col("n1") + F.col("n2") - 2)
    return wide.select(
        "segment",
        "n1",
        "n2",
        F.round(mean_diff / F.sqrt(pooled), 9).alias("cohens_d"),
    )


@register(
    "stat_anova_oneway",
    oracle="""
    WITH v AS (
        SELECT event_type,
               CAST(ROUND(value * 100, 0) AS BIGINT) AS xc
        FROM events
    ),
    g AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(xc) AS BIGINT) AS sx,
               CAST(SUM(xc * xc) AS DECIMAL(38,0)) AS sxx
        FROM v GROUP BY event_type
    ),
    tot AS (
        SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
               CAST(SUM(sx) AS BIGINT) AS sx_tot,
               CAST(SUM(sxx) AS DECIMAL(38,0)) AS sxx_tot,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM g
    ),
    ss AS (
        SELECT k, n_tot,
               (SELECT SUM(CAST(sx AS DOUBLE) * sx / n) FROM g)
                 - CAST(sx_tot AS DOUBLE) * sx_tot / n_tot AS ss_between,
               CAST(sxx_tot AS DOUBLE)
                 - (SELECT SUM(CAST(sx AS DOUBLE) * sx / n) FROM g) AS ss_within
        FROM tot
    )
    SELECT CAST(k AS BIGINT) AS n_groups,
           CAST(n_tot AS BIGINT) AS n_obs,
           ROUND(ss_between / 10000.0, 6) AS ss_between,
           ROUND(ss_within / 10000.0, 6) AS ss_within,
           ROUND((ss_between / (k - 1)) / (ss_within / (n_tot - k)), 9)
             AS f_stat,
           (ss_between / (k - 1)) / (ss_within / (n_tot - k)) > 3.32
             AS means_differ_p01
    FROM ss
    """,
)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA across event types: between/within sums of squares and
    the F statistic from integer-cent moments — the do-the-group-means-
    differ companion to stat_brown_forsythe (which asks whether the
    VARIANCES do; run that first, ANOVA assumes it passes). All moments
    are exact integer sums per group; the F expansion runs over |groups|
    rows of a broadcast combine, and the threshold is F(4, inf) at p=.01.
    One group-keyed aggregate + a k-row gather."""
    e = load_table(spark, sf_dir, "events")
    g = (
        e.select(
            "event_type",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("xc"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("xc").cast("bigint").alias("sx"),
            F.sum(F.col("xc") * F.col("xc")).cast("decimal(38,0)").alias("sxx"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum("sx").cast("bigint").alias("sx_tot"),
        F.sum(F.col("sxx")).cast("decimal(38,0)").alias("sxx_tot"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum(F.col("sx").cast("double") * F.col("sx") / F.col("n")).alias(
            "sum_groupmeans"
        ),
    )
    ss_between = (
        F.col("sum_groupmeans")
        - F.col("sx_tot").cast("double") * F.col("sx_tot") / F.col("n_tot")
    )
    ss_within = F.col("sxx_tot").cast("double") - F.col("sum_groupmeans")
    f_stat = (ss_between / (F.col("k") - 1)) / (
        ss_within / (F.col("n_tot") - F.col("k"))
    )
    return tot.select(
        F.col("k").alias("n_groups"),
        F.col("n_tot").alias("n_obs"),
        F.round(ss_between / 10000.0, 6).alias("ss_between"),
        F.round(ss_within / 10000.0, 6).alias("ss_within"),
        F.round(f_stat, 9).alias("f_stat"),
        (f_stat > 3.32).alias("means_differ_p01"),
    )


@register(
    "stat_winsorized_mean",
    oracle="""
    WITH v AS (
        SELECT l_returnflag AS flag,
               CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS xc
        FROM lineitem
    ),
    breaks AS (
        SELECT flag,
               QUANTILE_CONT(xc, 0.05) AS lo,
               QUANTILE_CONT(xc, 0.95) AS hi
        FROM v GROUP BY flag
    ),
    clamped AS (
        SELECT v.flag, xc,
               CAST(ROUND(GREATEST(LEAST(CAST(xc AS DOUBLE), hi), lo), 0)
                    AS BIGINT) AS wc,
               CASE WHEN CAST(xc AS DOUBLE) < lo
                      OR CAST(xc AS DOUBLE) > hi THEN 1 ELSE 0 END AS clipped
        FROM v JOIN breaks ON v.flag = breaks.flag
    )
    SELECT flag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(clipped) AS BIGINT) AS n_winsorized,
           ROUND(CAST(SUM(wc) AS DOUBLE) / COUNT(*) / 100.0, 9)
             AS winsorized_mean,
           ROUND(CAST(SUM(xc) AS DOUBLE) / COUNT(*) / 100.0, 9) AS raw_mean
    FROM clamped GROUP BY flag
    """,
)
def stat_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (5%/95%) per return flag: clamp to the exact
    percentile breakpoints instead of DROPPING the tails (the trimmed
    mean next door, stat_trimmed_mean, discards them — winsorizing keeps
    n constant, the robust-mean variant metric pipelines prefer when
    denominators must not move). Breakpoints broadcast (|groups| rows);
    clamped values re-quantized to integers before the exact sum. Two
    group-keyed aggregates + a broadcast join."""
    li = load_table(spark, sf_dir, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("xc"),
    )
    breaks = v.groupBy("flag").agg(
        F.expr("PERCENTILE(xc, 0.05)").alias("lo"),
        F.expr("PERCENTILE(xc, 0.95)").alias("hi"),
    )
    xd = F.col("xc").cast("double")
    clamped = v.join(F.broadcast(breaks), "flag").select(
        "flag",
        "xc",
        F.round(F.greatest(F.least(xd, F.col("hi")), F.col("lo")), 0)
        .cast("bigint")
        .alias("wc"),
        F.when((xd < F.col("lo")) | (xd > F.col("hi")), 1)
        .otherwise(0)
        .alias("clipped"),
    )
    return clamped.groupBy("flag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("clipped").cast("bigint").alias("n_winsorized"),
        F.round(F.sum("wc").cast("double") / F.count(F.lit(1)) / 100.0, 9).alias(
            "winsorized_mean"
        ),
        F.round(F.sum("xc").cast("double") / F.count(F.lit(1)) / 100.0, 9).alias(
            "raw_mean"
        ),
    )


# Round-at-9 exemptions for this module (see registry.ROUND9_EXEMPT):
# every column below can exceed ~1e3 at the gate scales (or grows with
# data volume), where Spark's BigDecimal ROUND and DuckDB's multiply/
# divide ROUND measurably diverge — so rounding would BREAK parity. Their
# protection is the module invariant instead: each is one shared,
# association-identical formula over exact integer/decimal power sums.
exempt_round9("stat_corr_regression", {
    "covar_samp": "price-scale (~3e3 at sf0.01); raw-unit covariance",
    "intercept": "price-scale (~5e4 at sf0.01); raw-unit OLS intercept",
})
exempt_round9("stat_benford_audit", {
    "chi2": "grows with row count (~6e3 at sf0.01)",
})
exempt_round9("stat_bootstrap_se", {
    "mean_cents": "cents-scale mean (~5e3 at sf0.01)",
    "boot_mean_cents": "cents-scale mean (~5e3 at sf0.01)",
})
exempt_round9("stat_welch_ttest", {
    "welch_dof": "Welch-Satterthwaite dof grows with n (~4e3 at sf0.01)",
})
exempt_round9("stat_cuped_variance_reduction", {
    "var_post": "cents^2-scale variance (>=1e6)",
    "var_cuped": "cents^2-scale variance (>=1e6)",
})


# ---------------------------------------------------------------------------
# Round-9 additions: the nonparametric / categorical / survival members of
# the experimentation toolkit. Same exactness discipline as the rest of the
# module: integer/decimal aggregation, one shared float formula at the end.
# ---------------------------------------------------------------------------

# Kruskal-Wallis H: shared formula fragments (Spark SQL == DuckDB SQL).
_KW_H = (
    "(12.0 / (n_total * (n_total + 1.0))) * rank_sq_over_n"
    " - 3.0 * (n_total + 1.0)"
)
_KW_CORR = "(1.0 - ties / (n_total * n_total * n_total - n_total))"


@register(
    "stat_kruskal_wallis",
    oracle=f"""
    WITH v AS (
        SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
               event_type AS g,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT c, CAST(SUM(cnt) AS BIGINT) AS t FROM v GROUP BY c
    ),
    r AS (
        SELECT c, t,
               COALESCE(SUM(t) OVER (
                   ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS c_lt
        FROM tot
    ),
    grp AS (
        SELECT v.g,
               CAST(SUM(v.cnt) AS BIGINT) AS n_g,
               CAST(SUM(v.cnt * (2 * r.c_lt + r.t + 1)) AS BIGINT) AS r2_g
        FROM v JOIN r ON v.c = r.c
        GROUP BY v.g
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS INT) AS n_groups,
               CAST(SUM(n_g) AS DOUBLE) AS n_total,
               CAST(SUM(CAST(ROUND(
                   (CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)) / (4.0 * n_g),
                   4) AS DECIMAL(38,4))) AS DOUBLE) AS rank_sq_over_n
        FROM grp
    ),
    tie AS (
        SELECT CAST(SUM(t * t * t - t) AS DOUBLE) AS ties FROM r
    )
    SELECT n_groups,
           CAST(n_total AS BIGINT) AS n_total,
           (ROUND(({_KW_H}) * 1e9) / 1e9 + 0.0) AS h_stat,
           (ROUND((({_KW_H}) / {_KW_CORR}) * 1e9) / 1e9 + 0.0)
             AS h_tie_corrected
    FROM agg, tie
    """,
)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across ALL event-type populations — the k-group
    generalization of Mann-Whitney (nonparametric one-way ANOVA on ranks),
    completing the toolkit's test family: Welch (2 groups, parametric),
    ANOVA (k groups, parametric), MWU (2 groups, ranks), KW (k groups,
    ranks). Midranks are exact integers over DISTINCT cent values
    (2*midrank = 2*below + ties + 1), so each group's doubled rank sum
    r2_g is an exact BIGINT; the per-group R_g^2/n_g = r2_g^2/(4 n_g)
    terms are rounded at 4 decimals and DECIMAL-summed (k terms, order-
    insensitive), and the H / tie-correction formulas run once on the
    single aggregate row. The ordered cumulative counts use the
    distributed exact prefix sum (operators/ranking.py) — never a
    single-task global window, even with near-unique values."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.select(
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
            F.col("event_type").alias("g"),
        )
        .groupBy("c", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        # |distinct cents x groups| rows; feeds both the rank spine and the
        # per-group join -> one events scan instead of per-branch re-scans
        .localCheckpoint(eager=False)
    )
    tot = v.groupBy("c").agg(F.sum("cnt").cast("bigint").alias("t"))
    from chainhouse_spark.operators.ranking import global_running_sums

    r = global_running_sums(tot, "c", {"t": "c_le"}).withColumn(
        "c_lt", F.col("c_le") - F.col("t")
    )
    grp = (
        v.join(r.select("c", "t", "c_lt"), "c")
        .groupBy("g")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_g"),
            F.sum(F.col("cnt") * (2 * F.col("c_lt") + F.col("t") + 1))
            .cast("bigint")
            .alias("r2_g"),
        )
    )
    agg = grp.agg(
        F.count(F.lit(1)).cast("int").alias("n_groups"),
        F.sum("n_g").cast("double").alias("n_total"),
        F.expr(
            "CAST(SUM(CAST(ROUND("
            "(CAST(r2_g AS DOUBLE) * CAST(r2_g AS DOUBLE)) / (4.0 * n_g),"
            " 4) AS DECIMAL(38,4))) AS DOUBLE)"
        ).alias("rank_sq_over_n"),
    )
    tie = r.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("double")
        .alias("ties")
    )
    return agg.crossJoin(tie).selectExpr(
        "n_groups",
        "CAST(n_total AS BIGINT) AS n_total",
        f"(ROUND(({_KW_H}) * 1e9) / 1e9 + 0.0) AS h_stat",
        f"(ROUND((({_KW_H}) / {_KW_CORR}) * 1e9) / 1e9 + 0.0)"
        " AS h_tie_corrected",
    )


# AUC via the rank-sum identity: AUC = (R_pos - n1(n1+1)/2) / (n1 n2), with
# midranks handling score ties. Shared emission formulas:
_AUC = "(r2s - n1 * (n1 + 1.0)) / (2.0 * n1 * n2)"


@register(
    "eval_auc_roc",
    oracle=f"""
    WITH v AS (
        SELECT CAST(ROUND(value * 100, 0) AS BIGINT) AS c,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                 AS na,
               CAST(COUNT(*) FILTER (WHERE event_type <> 'purchase') AS BIGINT)
                 AS nb
        FROM events GROUP BY 1
    ),
    r AS (
        SELECT c, na, nb, na + nb AS t,
               COALESCE(SUM(na + nb) OVER (
                   ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS c_lt
        FROM v
    ),
    agg AS (
        SELECT CAST(SUM(na) AS DOUBLE) AS n1,
               CAST(SUM(nb) AS DOUBLE) AS n2,
               CAST(SUM(na * (2 * c_lt + t + 1)) AS DOUBLE) AS r2s
        FROM r
    )
    SELECT CAST(n1 AS BIGINT) AS n_pos,
           CAST(n2 AS BIGINT) AS n_neg,
           (ROUND(({_AUC}) * 1e9) / 1e9 + 0.0) AS auc,
           (ROUND((2.0 * ({_AUC}) - 1.0) * 1e9) / 1e9 + 0.0) AS gini_coef
    FROM agg
    """,
)
def eval_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of `value` as a score for predicting the purchase class —
    the threshold-free ranking metric every model-based quality filter
    reports next to its classwise F1. Computed exactly via the rank-sum
    identity AUC = (R_pos - n1(n1+1)/2)/(n1 n2) (the Mann-Whitney
    relation): midranks over DISTINCT cent scores keep every rank term an
    exact integer (ties get the standard 1/2 credit automatically), so
    the only float ops are the final AUC and Gini (2*AUC - 1) formulas on
    one aggregate row. Distributed exact prefix sum over distinct scores;
    no per-row windows, no threshold sweep materialization."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.select(
            F.round(F.col("value") * 100, 0).cast("bigint").alias("c"),
            (F.col("event_type") == "purchase").alias("is_pos"),
        )
        .groupBy("c")
        .agg(
            F.count(F.when(F.col("is_pos"), 1)).alias("na"),
            F.count(F.when(~F.col("is_pos"), 1)).alias("nb"),
        )
        .withColumn("t", F.col("na") + F.col("nb"))
    )
    from chainhouse_spark.operators.ranking import global_running_sums

    r = global_running_sums(v, "c", {"t": "c_le"}).withColumn(
        "c_lt", F.col("c_le") - F.col("t")
    )
    agg = r.agg(
        F.sum("na").cast("double").alias("n1"),
        F.sum("nb").cast("double").alias("n2"),
        F.sum(F.col("na") * (2 * F.col("c_lt") + F.col("t") + 1))
        .cast("double")
        .alias("r2s"),
    )
    return agg.selectExpr(
        "CAST(n1 AS BIGINT) AS n_pos",
        "CAST(n2 AS BIGINT) AS n_neg",
        f"(ROUND(({_AUC}) * 1e9) / 1e9 + 0.0) AS auc",
        f"(ROUND((2.0 * ({_AUC}) - 1.0) * 1e9) / 1e9 + 0.0) AS gini_coef",
    )


@register(
    "stat_theils_u",
    oracle="""
    WITH cnt AS (
        SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c
        FROM documents GROUP BY source, lang
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt),
    hl AS (
        SELECT CAST(COUNT(*) AS INT) AS n_langs,
               CAST(SUM(CAST(ROUND(-(CAST(cl AS DOUBLE) / n)
                    * LN(CAST(cl AS DOUBLE) / n) / LN(2.0), 6)
                 AS DECIMAL(20,6))) AS DOUBLE) AS h_lang
        FROM (SELECT lang, CAST(SUM(c) AS BIGINT) AS cl FROM cnt GROUP BY lang), n
    ),
    hs AS (
        SELECT CAST(COUNT(*) AS INT) AS n_sources,
               CAST(SUM(CAST(ROUND(-(CAST(cs AS DOUBLE) / n)
                    * LN(CAST(cs AS DOUBLE) / n) / LN(2.0), 6)
                 AS DECIMAL(20,6))) AS DOUBLE) AS h_source
        FROM (SELECT source, CAST(SUM(c) AS BIGINT) AS cs FROM cnt GROUP BY source), n
    ),
    hj AS (
        SELECT CAST(SUM(CAST(ROUND(-(CAST(c AS DOUBLE) / n)
                    * LN(CAST(c AS DOUBLE) / n) / LN(2.0), 6)
                 AS DECIMAL(20,6))) AS DOUBLE) AS h_joint
        FROM cnt, n
    )
    SELECT (SELECT n FROM n) AS n_docs, n_langs, n_sources,
           h_lang AS h_lang_bits, h_source AS h_source_bits,
           h_joint AS h_joint_bits,
           (ROUND(((h_lang + h_source - h_joint) / h_lang) * 1e9) / 1e9 + 0.0)
             AS u_lang_given_source,
           (ROUND(((h_lang + h_source - h_joint) / h_source) * 1e9) / 1e9 + 0.0)
             AS u_source_given_lang
    FROM hl, hs, hj
    """,
)
def stat_theils_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient U in BOTH directions over the
    lang x source contingency — the ASYMMETRIC association measure next to
    stat_mutual_information's symmetric MI/V: U(lang|source) answers "how
    much does knowing the source tell you about language" and
    U(source|lang) the reverse, and the asymmetry itself is the signal (a
    source dedicated to one language drives the first near 1 while the
    second stays low). U(Y|X) = (H(X) + H(Y) - H(X,Y)) / H(Y), every
    entropy a rounded-then-DECIMAL-summed exact-count sum (the
    stat_entropy recipe) and the final ratios one shared float formula.
    Scale: ONE corpus count shuffle builds the |langs x sources| cube
    (localCheckpoint — three marginal consumers, no corpus re-scan);
    everything downstream runs on cube-sized rows."""
    d = load_table(spark, sf_dir, "documents")
    cnt = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    n = cnt.agg(F.sum("c").cast("bigint").alias("n"))

    def _h(marg: DataFrame, ccol: str, cnt_alias: str, h_alias: str) -> DataFrame:
        return (
            marg.crossJoin(F.broadcast(n))
            .agg(
                F.count(F.lit(1)).cast("int").alias(cnt_alias),
                F.expr(
                    f"CAST(SUM(CAST(ROUND(-(CAST({ccol} AS DOUBLE) / n)"
                    f" * LN(CAST({ccol} AS DOUBLE) / n) / LN(2.0), 6)"
                    f" AS DECIMAL(20,6))) AS DOUBLE)"
                ).alias(h_alias),
            )
        )

    lm = cnt.groupBy("lang").agg(F.sum("c").cast("bigint").alias("cl"))
    sm = cnt.groupBy("source").agg(F.sum("c").cast("bigint").alias("cs"))
    hl = _h(lm, "cl", "n_langs", "h_lang")
    hs = _h(sm, "cs", "n_sources", "h_source")
    hj = _h(cnt.select(F.col("c")), "c", "n_cells_unused", "h_joint").drop(
        "n_cells_unused"
    )
    return (
        n.crossJoin(hl)
        .crossJoin(hs)
        .crossJoin(hj)
        .selectExpr(
            "n AS n_docs",
            "n_langs",
            "n_sources",
            "h_lang AS h_lang_bits",
            "h_source AS h_source_bits",
            "h_joint AS h_joint_bits",
            "(ROUND(((h_lang + h_source - h_joint) / h_lang) * 1e9) / 1e9"
            " + 0.0) AS u_lang_given_source",
            "(ROUND(((h_lang + h_source - h_joint) / h_source) * 1e9) / 1e9"
            " + 0.0) AS u_source_given_lang",
        )
    )


@register(
    "surv_kaplan_meier",
    oracle="""
    WITH u AS (
        SELECT user_id,
               MIN(ts) AS first_ts,
               MAX(ts) AS last_ts,
               MIN(ts) FILTER (WHERE event_type = 'error') AS err_ts
        FROM events GROUP BY user_id
    ),
    d AS (
        SELECT CASE WHEN err_ts IS NOT NULL
                    THEN date_diff('day', CAST(first_ts AS DATE),
                                   CAST(err_ts AS DATE))
                    ELSE date_diff('day', CAST(first_ts AS DATE),
                                   CAST(last_ts AS DATE)) END AS dur,
               CASE WHEN err_ts IS NOT NULL THEN 1 ELSE 0 END AS observed
        FROM u
    ),
    lt AS (
        SELECT dur,
               CAST(SUM(observed) AS BIGINT) AS d,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM d GROUP BY dur
    ),
    r AS (
        SELECT dur, d, w,
               (SELECT COUNT(*) FROM d)
               - COALESCE(SUM(w) OVER (
                     ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 0) AS n_risk
        FROM lt
    ),
    ev AS (
        SELECT dur, n_risk, d, w - d AS cens,
               CAST(ROUND(LN(CAST(n_risk - d AS DOUBLE) / n_risk), 6)
                    AS DECIMAL(12,6)) AS lterm
        FROM r WHERE d > 0 AND n_risk > d
    )
    SELECT CAST(dur AS INT) AS t_day,
           CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events,
           cens AS n_censored,
           (ROUND((CAST(d AS DOUBLE) / n_risk) * 1e9) / 1e9 + 0.0) AS hazard,
           CAST(SUM(lterm) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS log_survival
    FROM ev
    """,
)
def surv_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier life table for time-to-first-error per user (right-
    censored at the user's last observed event) — the survival curve an
    experimentation stack fits to churn/failure timing. Per event day:
    the at-risk count (exact descending cumulative), deaths, censored,
    the discrete hazard d/n (one exact division), and the log survival
    curve ln S(t) = sum ln(1 - d/n). Each log term is rounded at 6
    decimals and summed as DECIMAL (the drift_psi recipe: LN may differ
    in the last ulp across engines, and decimal prefix sums are exact
    regardless of either engine's windowed-sum association), so the
    emitted curve is bit-identical by construction; S(t) itself is
    exp(log_survival) client-side — EXP is not IEEE-exactness-guaranteed,
    so the query emits the log domain. The degenerate terminal step where
    everyone at risk dies (S -> 0, ln -> -inf) is excluded. Scale: one
    user-keyed aggregate collapses the corpus; everything after runs on
    <= |distinct days| rows (bounded by the observation span, not data
    volume), via the distributed exact prefix sum."""
    e = load_table(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias(
            "err_ts"
        ),
    )
    d = u.select(
        F.when(
            F.col("err_ts").isNotNull(),
            F.datediff(F.to_date("err_ts"), F.to_date("first_ts")),
        )
        .otherwise(F.datediff(F.to_date("last_ts"), F.to_date("first_ts")))
        .alias("dur"),
        F.when(F.col("err_ts").isNotNull(), 1).otherwise(0).alias("observed"),
    ).localCheckpoint(eager=False)  # |users| rows; feeds lt AND the n_users scalar
    lt = d.groupBy("dur").agg(
        F.sum("observed").cast("bigint").alias("d"),
        F.count(F.lit(1)).cast("bigint").alias("w"),
    )
    from chainhouse_spark.operators.ranking import global_running_sums

    n_users = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    r = (
        global_running_sums(lt, "dur", {"w": "w_le"})
        .crossJoin(n_users)
        .withColumn("n_risk", F.col("n_users") - (F.col("w_le") - F.col("w")))
    )
    ev = r.filter((F.col("d") > 0) & (F.col("n_risk") > F.col("d"))).selectExpr(
        "dur",
        "n_risk",
        "d",
        "w - d AS cens",
        "CAST(ROUND(LN(CAST(n_risk - d AS DOUBLE) / n_risk), 6)"
        " AS DECIMAL(12,6)) AS lterm",
    )
    curve = global_running_sums(ev, "dur", {"lterm": "log_surv_dec"})
    return curve.selectExpr(
        "CAST(dur AS INT) AS t_day",
        "CAST(n_risk AS BIGINT) AS n_risk",
        "d AS n_events",
        "cens AS n_censored",
        "(ROUND((CAST(d AS DOUBLE) / n_risk) * 1e9) / 1e9 + 0.0) AS hazard",
        "CAST(log_surv_dec AS DOUBLE) AS log_survival",
    )


# Jensen-Shannon term, shared verbatim by both engines. p0/p1 are the
# Laplace-smoothed bin probabilities (same bins and smoothing as
# drift_psi_by_source): 0.5*KL(p||m) + 0.5*KL(q||m) with m = (p+q)/2.
_JS_TERM = (
    "0.5 * (p0 * LN(p0 / ((p0 + p1) / 2.0))"
    " + p1 * LN(p1 / ((p0 + p1) / 2.0)))"
)


@register(
    "drift_js_divergence",
    oracle=f"""
    WITH base AS (
        SELECT source,
               ((instr('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 2)
                 AS snap,
               CAST(LEAST(n_chars // 64, 9) AS INT) AS bin
        FROM documents
    ),
    cnt AS (
        SELECT source, bin,
               CAST(COUNT(*) FILTER (WHERE snap = 0) AS BIGINT) AS c0,
               CAST(COUNT(*) FILTER (WHERE snap = 1) AS BIGINT) AS c1
        FROM base GROUP BY source, bin
    ),
    spine AS (
        SELECT s.source, CAST(b AS INT) AS bin
        FROM (SELECT DISTINCT source FROM cnt) s, UNNEST(range(0, 10)) t(b)
    ),
    full_cnt AS (
        SELECT spine.source, spine.bin,
               COALESCE(cnt.c0, 0) AS c0, COALESCE(cnt.c1, 0) AS c1
        FROM spine LEFT JOIN cnt
          ON spine.source = cnt.source AND spine.bin = cnt.bin
    ),
    tot AS (
        SELECT source, c0, c1,
               SUM(c0) OVER (PARTITION BY source) AS n0,
               SUM(c1) OVER (PARTITION BY source) AS n1
        FROM full_cnt
    ),
    term AS (
        SELECT source, n0, n1,
               CAST(c0 + 1 AS DOUBLE) / (n0 + 10) AS p0,
               CAST(c1 + 1 AS DOUBLE) / (n1 + 10) AS p1
        FROM tot
    ),
    agg AS (
        SELECT source,
               CAST(MIN(n0) AS BIGINT) AS n_base,
               CAST(MIN(n1) AS BIGINT) AS n_cur,
               CAST(SUM(CAST(ROUND({_JS_TERM}, 6)
                        AS DECIMAL(20,6))) AS DOUBLE) AS js
        FROM term GROUP BY source
    )
    SELECT source, n_base, n_cur,
           js AS js_divergence,
           (ROUND(SQRT(js) * 1e9) / 1e9 + 0.0) AS js_distance
    FROM agg
    """,
)
def drift_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's document-length
    distribution between the two corpus snapshots — the SYMMETRIC,
    bounded ([0, ln 2]) drift measure next to drift_psi_by_source's PSI:
    JS never blows up on near-empty bins (KL to the mixture is finite by
    construction) and its square root is a metric, so sources are
    mutually comparable. Same fixed 10-bin length histogram and Laplace
    smoothing as the PSI monitor; each JS term is one shared float
    formula rounded at 6 decimals and DECIMAL-summed (order-insensitive;
    LN last-ulp safe), and the JS DISTANCE applies IEEE-exact SQRT to the
    identical sum. Scale: identical to PSI — one count shuffle collapses
    the corpus map-side to <= |sources| x 20 cells; the conditional-pivot
    single-scan shape (no spine join, no second corpus scan)."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        # md5-bit snapshot split (NOT doc_id parity — id parity is constant
        # within a source in this data, so a parity split degenerates to
        # base-vs-empty; found via drift_ks_by_source, round 9)
        F.expr(
            "(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 1), 16, 10)"
            " AS INT) % 2)"
        ).alias("snap"),
        F.least(F.col("n_chars") / F.lit(64), F.lit(9)).cast("int").alias("bin"),
    )

    def _c(snap: int, b: int):
        return (
            F.sum(
                F.when((F.col("snap") == snap) & (F.col("bin") == b), 1).otherwise(0)
            )
            .cast("bigint")
            .alias(f"b{b}_{snap}")
        )

    agg = d.groupBy("source").agg(*[_c(s, b) for s in (0, 1) for b in range(10)])
    arr0 = F.array(*[F.col(f"b{b}_0") for b in range(10)])
    arr1 = F.array(*[F.col(f"b{b}_1") for b in range(10)])
    tot = (
        agg.select(
            "source",
            sum(
                [F.col(f"b{b}_0") for b in range(10)], F.lit(0).cast("bigint")
            ).alias("n0"),
            sum(
                [F.col(f"b{b}_1") for b in range(10)], F.lit(0).cast("bigint")
            ).alias("n1"),
            arr0.alias("a0"),
            arr1.alias("a1"),
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin"),
        )
        .select(
            "source",
            F.element_at("a0", F.col("bin") + 1).alias("c0"),
            F.element_at("a1", F.col("bin") + 1).alias("c1"),
            "n0",
            "n1",
        )
    )
    term = tot.select(
        "source",
        "n0",
        "n1",
        ((F.col("c0") + 1).cast("double") / (F.col("n0") + 10)).alias("p0"),
        ((F.col("c1") + 1).cast("double") / (F.col("n1") + 10)).alias("p1"),
    )
    out = term.groupBy("source").agg(
        F.min("n0").cast("bigint").alias("n_base"),
        F.min("n1").cast("bigint").alias("n_cur"),
        F.expr(
            f"CAST(SUM(CAST(ROUND({_JS_TERM}, 6) AS DECIMAL(20,6))) AS DOUBLE)"
        ).alias("js"),
    )
    return out.selectExpr(
        "source",
        "n_base",
        "n_cur",
        "js AS js_divergence",
        "(ROUND(SQRT(js) * 1e9) / 1e9 + 0.0) AS js_distance",
    )


# Jarque-Bera: exact DECIMAL power sums of event cents (value*100; fits
# DECIMAL(8,0), so the 4th-power products stay inside DECIMAL(38,0)), then
# the one shared float pipeline mean -> central moments -> JB.
_JB_X = "CAST(ROUND(value * 100, 0) AS DECIMAL(8,0))"
# The squared term is re-anchored at DECIMAL(18,0) so the 3rd/4th-power
# products stay inside both engines' decimal width rules (DuckDB keeps a
# DECIMAL(18) in int64 and overflows the raw multiply; width 19 forces
# int128 storage, and 19+19 <= 38 keeps the product width legal).
_JB_X2 = f"CAST({_JB_X} * {_JB_X} AS DECIMAL(19,0))"
_JB_AGGS = f"""
    CAST(COUNT(*) AS DOUBLE) AS n,
    CAST(SUM({_JB_X}) AS DOUBLE) AS sx,
    CAST(SUM({_JB_X2}) AS DOUBLE) AS sxx,
    CAST(SUM({_JB_X2} * {_JB_X}) AS DOUBLE) AS sxxx,
    CAST(SUM({_JB_X2} * {_JB_X2}) AS DOUBLE) AS sxxxx
"""
_JB_MOMENTS = """
    n,
    (sxx / n - (sx / n) * (sx / n)) AS m2,
    (sxxx / n - 3.0 * (sx / n) * (sxx / n)
      + 2.0 * (sx / n) * (sx / n) * (sx / n)) AS m3,
    (sxxxx / n - 4.0 * (sx / n) * (sxxx / n)
      + 6.0 * (sx / n) * (sx / n) * (sxx / n)
      - 3.0 * (sx / n) * (sx / n) * (sx / n) * (sx / n)) AS m4
"""
_JB_FINAL = """
    CAST(n AS BIGINT) AS n_events,
    (ROUND((m3 / (m2 * SQRT(m2))) * 1e9) / 1e9 + 0.0) AS skewness_pop,
    (ROUND((m4 / (m2 * m2) - 3.0) * 1e9) / 1e9 + 0.0) AS kurtosis_excess,
    (ROUND((n / 6.0 * ((m3 / (m2 * SQRT(m2))) * (m3 / (m2 * SQRT(m2)))
      + (m4 / (m2 * m2) - 3.0) * (m4 / (m2 * m2) - 3.0) / 4.0))
      * 1e9) / 1e9 + 0.0) AS jarque_bera
"""


@register(
    "stat_jarque_bera",
    oracle=f"""
    WITH m AS (SELECT {_JB_AGGS} FROM events),
    c AS (SELECT {_JB_MOMENTS} FROM m)
    SELECT {_JB_FINAL} FROM c
    """,
)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality TEST on the event-value distribution — the
    moment-based gate an experimentation stack runs before trusting a
    t-test's normal approximation (JB ~ chi2(2) under normality; large JB
    says "use the rank tests instead"). Skewness and excess kurtosis come
    from exact DECIMAL power sums (the stat_moments machinery — order-
    insensitive, map-side combinable, one shuffle of five decimals), and
    JB = n/6 (S^2 + K^2/4) is one shared float formula on the single
    aggregate row; denominators use m2*SQRT(m2) / m2*m2 instead of POWER()
    so both engines hit the same IEEE operations."""
    e = load_table(spark, sf_dir, "events")
    m = e.agg(*[F.expr(a.strip()) for a in _JB_AGGS.split(",\n")])
    c = m.selectExpr(*_JB_MOMENTS.split(",\n"))
    return c.selectExpr(*_JB_FINAL.split(",\n"))


# --- Hash-deterministic randomization (Monte-Carlo permutation-style) test
# of the purchase-vs-error mean difference. Replicate b relabels each row
# by one md5 bit keyed on (event_id, b) — exchangeable-null relabeling the
# two engines reproduce bit-for-bit where a real permutation (global
# shuffle + exact size split) could not be made engine-deterministic. The
# observed groups are near-balanced, so the equal-probability relabel
# matches the observed design. Everything is ONE aggregate pass:
# 2 + 2*B conditional integer sums; the replicate statistics and the
# indicator sum are a fixed float chain on the single aggregate row.
_PERM_B = 64


def _perm_bit_spark(b: int) -> str:
    return (
        f"(CAST(conv(substr(md5(CAST(event_id AS STRING) || ':p{b}'),"
        f" 1, 1), 16, 10) AS INT) % 2)"
    )


def _perm_bit_duck(b: int) -> str:
    return (
        f"((instr('0123456789abcdef',"
        f" substr(md5(CAST(event_id AS VARCHAR) || ':p{b}'), 1, 1)) - 1) % 2)"
    )


def _perm_t(b) -> str:
    # replicate (or observed, b="0") mean difference in cents
    return (
        f"(CAST(sa{b} AS DOUBLE) / na{b}"
        f" - CAST(sx - sa{b} AS DOUBLE) / (n_rows - na{b}))"
    )


def _perm_indicator_chain() -> str:
    expr = f"(CASE WHEN ABS(t1) >= ABS(t0) THEN 1 ELSE 0 END)"
    for b in range(2, _PERM_B + 1):
        expr = (
            f"({expr} + (CASE WHEN ABS(t{b}) >= ABS(t0) THEN 1 ELSE 0 END))"
        )
    return expr


def _perm_oracle() -> str:
    sums = ",\n               ".join(
        f"CAST(SUM(CASE WHEN {_perm_bit_duck(b)} = 1 THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS na{b},"
        f" CAST(SUM(CASE WHEN {_perm_bit_duck(b)} = 1 THEN x ELSE 0 END)"
        f" AS BIGINT) AS sa{b}"
        for b in range(1, _PERM_B + 1)
    )
    ts = ",\n               ".join(
        f"{_perm_t(b)} AS t{b}" for b in ["0"] + list(range(1, _PERM_B + 1))
    )
    return f"""
    WITH x AS (
        SELECT event_id, CAST(ROUND(value * 100, 0) AS BIGINT) AS x,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
        FROM events WHERE event_type IN ('purchase', 'error')
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(is_a) AS BIGINT) AS na0,
               CAST(SUM(CASE WHEN is_a = 1 THEN x ELSE 0 END) AS BIGINT)
                 AS sa0,
               {sums}
        FROM x
    ),
    t AS (SELECT n_rows, na0, {ts} FROM s)
    SELECT na0 AS n_a,
           CAST(n_rows - na0 AS BIGINT) AS n_b,
           (ROUND((t0) * 1e9) / 1e9 + 0.0) AS mean_diff_cents,
           (ROUND((CAST(1 + {_perm_indicator_chain()} AS DOUBLE)
              / {_PERM_B + 1}.0) * 1e9) / 1e9 + 0.0) AS p_value
    FROM t
    """


@register("stat_randomization_test", oracle=_perm_oracle())
def stat_randomization_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monte-Carlo randomization test of the purchase-vs-error mean value
    difference — the assumption-free member of the A/B family (Welch
    needs normal-ish tails, MWU tests ranks; the randomization test's
    null is plain exchangeability). B=64 hash-deterministic relabelings
    (one md5 bit per (event_id, replicate) — reproducible across engines
    where a true random permutation is not), replicate statistic = mean
    difference under the relabel, p = (1 + #{{|T_b| >= |T_obs|}})/(B+1) —
    the add-one Monte-Carlo estimator, exact integers into one division.
    Scale: ONE aggregate pass with 2+2B conditional integer sums (no
    explode, no per-replicate shuffle — the stat_bootstrap_se shape);
    the 65 statistics and the indicator chain evaluate on a single row."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    x = e.select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
        (F.col("event_type") == "purchase").cast("int").alias("is_a"),
    )
    aggs = [
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("is_a").cast("bigint").alias("na0"),
        F.expr("CAST(SUM(CASE WHEN is_a = 1 THEN x ELSE 0 END) AS BIGINT)").alias(
            "sa0"
        ),
    ]
    for b in range(1, _PERM_B + 1):
        bit = _perm_bit_spark(b)
        aggs.append(
            F.expr(
                f"CAST(SUM(CASE WHEN {bit} = 1 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias(f"na{b}")
        )
        aggs.append(
            F.expr(
                f"CAST(SUM(CASE WHEN {bit} = 1 THEN x ELSE 0 END) AS BIGINT)"
            ).alias(f"sa{b}")
        )
    s = x.agg(*aggs)
    t = s.selectExpr(
        "n_rows",
        "na0",
        *[f"{_perm_t(b)} AS t{b}" for b in ["0"] + list(range(1, _PERM_B + 1))],
    )
    return t.selectExpr(
        "na0 AS n_a",
        "CAST(n_rows - na0 AS BIGINT) AS n_b",
        "(ROUND((t0) * 1e9) / 1e9 + 0.0) AS mean_diff_cents",
        f"(ROUND((CAST(1 + {_perm_indicator_chain()} AS DOUBLE)"
        f" / {_PERM_B + 1}.0) * 1e9) / 1e9 + 0.0) AS p_value",
    )


@register(
    "drift_ks_by_source",
    oracle="""
    WITH base AS (
        SELECT source,
               ((instr('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 2)
                 AS snap,
               n_chars AS v
        FROM documents
    ),
    cnt AS (
        SELECT source, v,
               CAST(COUNT(*) FILTER (WHERE snap = 0) AS BIGINT) AS c0,
               CAST(COUNT(*) FILTER (WHERE snap = 1) AS BIGINT) AS c1
        FROM base GROUP BY source, v
    ),
    cum AS (
        SELECT source, v, c0, c1,
               SUM(c0) OVER (PARTITION BY source ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS e0,
               SUM(c1) OVER (PARTITION BY source ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS e1,
               SUM(c0) OVER (PARTITION BY source) AS n0,
               SUM(c1) OVER (PARTITION BY source) AS n1
        FROM cnt
    ),
    agg AS (
        SELECT source,
               CAST(MIN(n0) AS BIGINT) AS n_base,
               CAST(MIN(n1) AS BIGINT) AS n_cur,
               CAST(MAX(ABS(e0 * n1 - e1 * n0)) AS BIGINT) AS d_num
        FROM cum GROUP BY source
    )
    SELECT source, n_base, n_cur,
           (ROUND((CAST(d_num AS DOUBLE)
              / (CAST(n_base AS DOUBLE) * n_cur)) * 1e9) / 1e9 + 0.0) AS ks_d,
           CAST(d_num AS DOUBLE) / (CAST(n_base AS DOUBLE) * n_cur)
             > 1.358 * SQRT((n_base + CAST(n_cur AS DOUBLE))
                            / (CAST(n_base AS DOUBLE) * n_cur)) AS reject_05
    FROM agg
    WHERE n_base > 0 AND n_cur > 0
    """,
)
def drift_ks_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift test per source — the
    third member of the drift trio next to PSI (binned, magnitude-of-
    shift) and JS (binned, symmetric-bounded): KS compares the FULL
    length distributions with no binning choice at all, so shape changes
    that fall inside one PSI bin still register. Same machinery as the
    global stat_ks_two_sample: the sup-distance is the integer max of
    |ecdf0*n1 - ecdf1*n0| over pooled distinct values (cumulative counts
    are exact, one division at the end), and the alpha=0.05 decision uses
    the literal large-sample constant 1.358 against the same shared float
    expressions. Scale: one count shuffle to (source, value) cells; the
    ECDF windows partition BY SOURCE (never a single-task global window)
    and the cross-product stays in BIGINT to ~1e9 docs per source per
    snapshot. The snapshot split is a deterministic md5 bit (id parity is
    constant within a source in this data — a parity split would compare
    each source against an empty sample)."""
    # snapshot split by an md5 bit, NOT doc_id parity: the synthetic
    # generator strides doc_ids by source (src_i holds ids ≡ i mod 20), so
    # id parity is CONSTANT within a source and a parity split degenerates
    # to base-vs-empty; the hash bit is uncorrelated with any id layout.
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        F.expr(
            "(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 1), 16, 10)"
            " AS INT) % 2)"
        ).alias("snap"),
        F.col("n_chars").alias("v"),
    )
    cnt = d.groupBy("source", "v").agg(
        F.count(F.when(F.col("snap") == 0, 1)).cast("bigint").alias("c0"),
        F.count(F.when(F.col("snap") == 1, 1)).cast("bigint").alias("c1"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("source")
    cum = cnt.select(
        "source",
        F.sum("c0").over(w).alias("e0"),
        F.sum("c1").over(w).alias("e1"),
        F.sum("c0").over(wall).alias("n0"),
        F.sum("c1").over(wall).alias("n1"),
    )
    agg = cum.groupBy("source").agg(
        F.min("n0").cast("bigint").alias("n_base"),
        F.min("n1").cast("bigint").alias("n_cur"),
        F.max(F.abs(F.col("e0") * F.col("n1") - F.col("e1") * F.col("n0")))
        .cast("bigint")
        .alias("d_num"),
    )
    # KS is undefined against an empty snapshot (tiny sources at small sf
    # can land all docs on one parity) — excluded identically on both sides
    return agg.filter((F.col("n_base") > 0) & (F.col("n_cur") > 0)).selectExpr(
        "source",
        "n_base",
        "n_cur",
        "(ROUND((CAST(d_num AS DOUBLE)"
        " / (CAST(n_base AS DOUBLE) * n_cur)) * 1e9) / 1e9 + 0.0) AS ks_d",
        "CAST(d_num AS DOUBLE) / (CAST(n_base AS DOUBLE) * n_cur)"
        " > 1.358 * SQRT((n_base + CAST(n_cur AS DOUBLE))"
        " / (CAST(n_base AS DOUBLE) * n_cur)) AS reject_05",
    )


@register(
    "eval_brier_decomposition",
    oracle="""
    WITH b AS (
        SELECT LEAST(CAST(ROUND(value * 100, 0) AS BIGINT), 10000) AS c,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS o
        FROM events
    ),
    cells AS (
        SELECT LEAST(c // 1000, 9) AS bin,
               CAST(COUNT(*) AS BIGINT) AS nk,
               CAST(SUM(o) AS BIGINT) AS so,
               CAST(SUM(c) AS BIGINT) AS sc,
               CAST(SUM((c - 10000 * o) * (c - 10000 * o)) AS BIGINT) AS sq
        FROM b GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(nk) AS BIGINT) AS n, CAST(SUM(so) AS BIGINT) AS pos,
               CAST(SUM(sq) AS BIGINT) AS sqsum
        FROM cells
    ),
    terms AS (
        SELECT
            SUM(CAST(ROUND(
                CAST(sc - 10000 * so AS DOUBLE) * CAST(sc - 10000 * so AS DOUBLE)
                / (1e8 * nk), 6) AS DECIMAL(20,6))) AS rel_num,
            SUM(CAST(ROUND(
                CAST(so * n - pos * nk AS DOUBLE) * CAST(so * n - pos * nk AS DOUBLE)
                / (CAST(nk AS DOUBLE) * n * n), 6) AS DECIMAL(20,6)))
                AS res_num
        FROM cells, tot
    )
    SELECT n AS n_events,
           CAST(COUNT(*) AS INT) AS n_bins,
           (ROUND((CAST(pos AS DOUBLE) / n) * 1e9) / 1e9 + 0.0) AS base_rate,
           (ROUND((CAST(sqsum AS DOUBLE) / (1e8 * n)) * 1e9) / 1e9 + 0.0)
               AS brier,
           (ROUND((CAST(rel_num AS DOUBLE) / n) * 1e9) / 1e9 + 0.0)
               AS reliability,
           (ROUND((CAST(res_num AS DOUBLE) / n) * 1e9) / 1e9 + 0.0)
               AS resolution,
           (ROUND((CAST(pos AS DOUBLE) * (n - pos) / (CAST(n AS DOUBLE) * n))
               * 1e9) / 1e9 + 0.0) AS uncertainty
    FROM cells, tot, terms
    GROUP BY n, pos, sqsum, rel_num, res_num
    """,
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score for min(value/100, 1)
    as a purchase-probability forecast: brier (raw), reliability (how far
    each decile bin's mean forecast sits from its observed rate — the
    calibration gap the quality-filter owner acts on), resolution (how much
    the bins separate outcomes), uncertainty (base-rate variance), with
    brier_binned = reliability − resolution + uncertainty as the identity
    the numbers satisfy when the forecast is binned.

    Exactness: forecasts are clamped integer cents (c = min(round(100·v),
    10000)), so (p−o)² sums as the exact integer Σ(c−10000·o)² and every
    per-bin reliability/resolution term is a ratio built from exact
    integers — (Σc−10000·Σo)²/(10⁸·n_k) and (n·Σo−pos·n_k)²/(n_k·n²).
    The DIFFERENCE stays integer-exact; it is cast to DOUBLE before
    squaring (the squared value overflows BIGINT at 100x corpus size —
    the r10 scale smoke caught it live, same class as ts_hurst_rs in r9)
    and double multiply/divide are IEEE-identical cross-engine; terms are
    rounded-at-6 into DECIMAL before the (order-free) sum per the repo
    convention.
    Plan: one scan → 10-bin cell cube (map-side partial agg) → all math on
    ≤10 rows. At 100 TB nothing but the cube crosses the wire."""
    e = load_table(spark, sf_dir, "events")
    b = e.select(
        F.least(F.round(F.col("value") * 100, 0).cast("bigint"), F.lit(10000)).alias("c"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("o"),
    )
    cells = b.groupBy(
        F.least(F.expr("c DIV 1000"), F.lit(9)).alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("nk"),
        F.sum("o").cast("bigint").alias("so"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum((F.col("c") - 10000 * F.col("o")) * (F.col("c") - 10000 * F.col("o")))
        .cast("bigint")
        .alias("sq"),
    )
    tot = cells.agg(
        F.sum("nk").cast("bigint").alias("n"),
        F.sum("so").cast("bigint").alias("pos"),
        F.sum("sq").cast("bigint").alias("sqsum"),
    )
    joined = cells.crossJoin(F.broadcast(tot))
    terms = joined.agg(
        F.sum(
            F.expr(
                "CAST(ROUND(CAST(sc - 10000 * so AS DOUBLE)"
                " * CAST(sc - 10000 * so AS DOUBLE)"
                " / (1e8 * nk), 6) AS DECIMAL(20,6))"
            )
        ).alias("rel_num"),
        F.sum(
            F.expr(
                "CAST(ROUND(CAST(so * n - pos * nk AS DOUBLE)"
                " * CAST(so * n - pos * nk AS DOUBLE)"
                " / (CAST(nk AS DOUBLE) * n * n), 6) AS DECIMAL(20,6))"
            )
        ).alias("res_num"),
        F.count(F.lit(1)).cast("int").alias("n_bins"),
        F.min("n").alias("n"),
        F.min("pos").alias("pos"),
        F.min("sqsum").alias("sqsum"),
    )
    return terms.selectExpr(
        "n AS n_events",
        "n_bins",
        "(ROUND((CAST(pos AS DOUBLE) / n) * 1e9) / 1e9 + 0.0) AS base_rate",
        "(ROUND((CAST(sqsum AS DOUBLE) / (1e8 * n)) * 1e9) / 1e9 + 0.0) AS brier",
        "(ROUND((CAST(rel_num AS DOUBLE) / n) * 1e9) / 1e9 + 0.0) AS reliability",
        "(ROUND((CAST(res_num AS DOUBLE) / n) * 1e9) / 1e9 + 0.0) AS resolution",
        "(ROUND((CAST(pos AS DOUBLE) * (n - pos) / (CAST(n AS DOUBLE) * n))"
        " * 1e9) / 1e9 + 0.0) AS uncertainty",
    )


# Per-column normalizers shared by Spark and the oracle rationale: every
# column is reduced to a STRING both engines render identically (BIGINT
# casts and raw strings only — never stringified doubles/timestamps, whose
# formatting is engine-specific). value -> integer cents, ts -> epoch secs.
_PROFILE_COLS = [
    ("event_id", "CAST(event_id AS STRING)"),
    ("user_id", "CAST(user_id AS STRING)"),
    ("event_type", "event_type"),
    ("value", "CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS STRING)"),
    ("ts", "CAST(unix_micros(CAST(ts AS TIMESTAMP)) AS STRING)"),
    ("props", "props"),
]
_PROFILE_COLS_DUCK = {
    "event_id": "CAST(event_id AS VARCHAR)",
    "user_id": "CAST(user_id AS VARCHAR)",
    "event_type": "event_type",
    "value": "CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS VARCHAR)",
    "ts": "CAST(epoch_us(ts) AS VARCHAR)",
    "props": "props",
}


@register(
    "drift_column_profile",
    oracle="""
    WITH stacked AS (
        """ + " UNION ALL ".join(
        f"SELECT '{name}' AS col, {expr} AS v, "
        "((strpos('0123456789abcdef', "
        "substr(md5(CAST(event_id AS VARCHAR)), 1, 1)) - 1) % 2) AS snap "
        "FROM events"
        for name, expr in [
            ("event_id", "CAST(event_id AS VARCHAR)"),
            ("user_id", "CAST(user_id AS VARCHAR)"),
            ("event_type", "event_type"),
            ("value", "CAST(CAST(ROUND(value * 100, 0) AS BIGINT) AS VARCHAR)"),
            ("ts", "CAST(epoch_us(ts) AS VARCHAR)"),
            ("props", "props"),
        ]
    ) + """
    ),
    vc AS (
        SELECT col, snap, v, CAST(COUNT(*) AS BIGINT) AS c
        FROM stacked GROUP BY col, snap, v
    ),
    prof AS (
        SELECT col, snap, CAST(SUM(c) AS BIGINT) AS total,
               CAST(COALESCE(SUM(c) FILTER (WHERE v IS NULL), 0) AS BIGINT)
                   AS n_null,
               CAST(COUNT(v) AS BIGINT) AS n_distinct,
               CAST(COALESCE(MAX(c) FILTER (WHERE v IS NOT NULL), 0)
                   AS BIGINT) AS top_c
        FROM vc GROUP BY col, snap
    )
    SELECT col,
           CAST(SUM(CASE WHEN snap = 0 THEN total END) AS BIGINT) AS n_base,
           CAST(SUM(CASE WHEN snap = 1 THEN total END) AS BIGINT) AS n_cur,
           CAST(SUM(CASE WHEN snap = 0 THEN n_null END) AS BIGINT)
               AS nulls_base,
           CAST(SUM(CASE WHEN snap = 1 THEN n_null END) AS BIGINT)
               AS nulls_cur,
           CAST(SUM(CASE WHEN snap = 0 THEN n_distinct END) AS BIGINT)
               AS distinct_base,
           CAST(SUM(CASE WHEN snap = 1 THEN n_distinct END) AS BIGINT)
               AS distinct_cur,
           (ROUND((CAST(SUM(CASE WHEN snap = 0 THEN top_c END) AS DOUBLE)
               / SUM(CASE WHEN snap = 0 THEN total END)) * 1e9) / 1e9 + 0.0)
               AS top_share_base,
           (ROUND((CAST(SUM(CASE WHEN snap = 1 THEN top_c END) AS DOUBLE)
               / SUM(CASE WHEN snap = 1 THEN total END)) * 1e9) / 1e9 + 0.0)
               AS top_share_cur
    FROM prof GROUP BY col
    """,
)
def drift_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-COLUMN profile drift between two snapshots (md5-bit split of
    event_id): row counts, null counts, exact distinct counts, and
    top-value concentration for every events column — the schema-level
    data-quality monitor an ingest pipeline diffs before accepting a new
    drop (a column whose null rate or distinct count jumps is a parser
    regression even when row counts look fine; a top_share jump is a
    default-value flood).

    Every column is normalized to a STRING both engines render identically
    (BIGINT casts and raw strings — doubles go through integer cents and
    timestamps through integer epoch MICROseconds (seconds would collide sub-second-distinct values in Spark only), never engine-specific float/ts
    formatting). Plan: one scan stacked 6-wide map-side (stack(), no
    re-scan per column), one (col, snap, value) count, then all math on
    <= 24 aggregate rows. At 100 TB the only data-sized exchange is the
    value-count shuffle, keyed (col, snap, value) — 12 well-spread key
    groups."""
    e = load_table(spark, sf_dir, "events")
    stack_expr = "stack(%d, %s) AS (col, v)" % (
        len(_PROFILE_COLS),
        ", ".join(f"'{n}', {x}" for n, x in _PROFILE_COLS),
    )
    stacked = e.select(
        F.expr(stack_expr),
        F.expr(
            "(CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 1), 16, 10)"
            " AS INT) % 2)"
        ).alias("snap"),
    )
    # ONE aggregation over (col, snap, value) with NULL kept as a group —
    # totals, null counts, distincts, and the mode all derive from it, so
    # events is scanned exactly once (pinned).
    vc = stacked.groupBy("col", "snap", "v").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    prof = vc.groupBy("col", "snap").agg(
        F.sum("c").cast("bigint").alias("total"),
        F.coalesce(
            F.sum(F.when(F.col("v").isNull(), F.col("c"))), F.lit(0)
        ).cast("bigint").alias("n_null"),
        F.count("v").cast("bigint").alias("n_distinct"),
        F.coalesce(
            F.max(F.when(F.col("v").isNotNull(), F.col("c"))), F.lit(0)
        ).cast("bigint").alias("top_c"),
    )
    def _pick(c, s):
        return F.sum(F.when(F.col("snap") == s, F.col(c)))
    return prof.groupBy("col").agg(
        _pick("total", 0).cast("bigint").alias("n_base"),
        _pick("total", 1).cast("bigint").alias("n_cur"),
        _pick("n_null", 0).cast("bigint").alias("nulls_base"),
        _pick("n_null", 1).cast("bigint").alias("nulls_cur"),
        _pick("n_distinct", 0).cast("bigint").alias("distinct_base"),
        _pick("n_distinct", 1).cast("bigint").alias("distinct_cur"),
        round9(
            _pick("top_c", 0).cast("double") / _pick("total", 0)
        ).alias("top_share_base"),
        round9(
            _pick("top_c", 1).cast("double") / _pick("total", 1)
        ).alias("top_share_cur"),
    )


@register(
    "drift_ks_fdr_bh",
    oracle="""
    WITH base AS (
        SELECT source,
               ((instr('0123456789abcdef',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 2)
                 AS snap,
               n_chars AS v
        FROM documents
    ),
    cnt AS (
        SELECT source, v,
               CAST(COUNT(*) FILTER (WHERE snap = 0) AS BIGINT) AS c0,
               CAST(COUNT(*) FILTER (WHERE snap = 1) AS BIGINT) AS c1
        FROM base GROUP BY source, v
    ),
    cum AS (
        SELECT source, v, c0, c1,
               SUM(c0) OVER (PARTITION BY source ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS e0,
               SUM(c1) OVER (PARTITION BY source ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS e1,
               SUM(c0) OVER (PARTITION BY source) AS n0,
               SUM(c1) OVER (PARTITION BY source) AS n1
        FROM cnt
    ),
    agg AS (
        SELECT source,
               CAST(MIN(n0) AS BIGINT) AS n_base,
               CAST(MIN(n1) AS BIGINT) AS n_cur,
               CAST(MAX(ABS(e0 * n1 - e1 * n0)) AS BIGINT) AS d_num
        FROM cum GROUP BY source
        HAVING MIN(n0) > 0 AND MIN(n1) > 0
    ),
    pv AS (
        SELECT source, n_base, n_cur,
               CAST(d_num AS DOUBLE) / (CAST(n_base AS DOUBLE) * n_cur) AS d,
               CAST(ROUND(LEAST(
                   2.0 * EXP(-2.0
                       * ((CAST(n_base AS DOUBLE) * n_cur) / (n_base + n_cur))
                       * (CAST(d_num AS DOUBLE)
                          / (CAST(n_base AS DOUBLE) * n_cur))
                       * (CAST(d_num AS DOUBLE)
                          / (CAST(n_base AS DOUBLE) * n_cur))),
                   1.0), 6) AS DECIMAL(10,6)) AS p6
        FROM agg
    ),
    ranked AS (
        SELECT source, n_base, n_cur, d, p6,
               CAST(ROW_NUMBER() OVER (ORDER BY p6 ASC, source ASC) AS BIGINT)
                   AS bh_rank,
               CAST(COUNT(*) OVER () AS BIGINT) AS m
        FROM pv
    ),
    cut AS (
        SELECT COALESCE(MAX(CASE WHEN CAST(p6 AS DOUBLE)
                       <= bh_rank * 0.05 / m THEN bh_rank END), 0) AS kmax
        FROM ranked
    )
    SELECT source, n_base, n_cur,
           (ROUND(d * 1e9) / 1e9 + 0.0) AS ks_d,
           CAST(p6 AS DOUBLE) AS p_value,
           bh_rank,
           (ROUND((bh_rank * 0.05 / m) * 1e9) / 1e9 + 0.0) AS bh_critical,
           bh_rank <= cut.kmax AS reject_fdr_05
    FROM ranked, cut
    """,
)
def drift_ks_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control over the per-source KS drift tests —
    the alerting layer a many-source ingest monitor needs: testing 20
    (or 2000) sources at alpha=0.05 each fires a false drift alarm on one
    source per refresh by construction; BH's step-up (reject the smallest
    K p-values where p_(k) <= k*q/m) caps the expected FALSE-DISCOVERY
    fraction at q instead.

    p-values use the one-term asymptotic two-sample KS bound
    p = min(2*exp(-2*(n0*n1/(n0+n1))*d^2), 1) — an upper bound, so BH on
    it is conservative (never anti-conservative). EXP may differ in the
    last ulp across engines, so p is rounded at 6 into DECIMAL before
    ranking and thresholding on BOTH sides (the LN/entropy-term recipe);
    d itself and the exact integer sup-distance d_num reuse the
    drift_ks_by_source machinery verbatim (per-source ECDF windows, no
    global data-sized window). The BH step-up runs on <= |sources| rows —
    the one intentionally tiny global window. Emits rank, critical value,
    and the step-up decision per source."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "source",
        F.expr(
            "(CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 1), 16, 10)"
            " AS INT) % 2)"
        ).alias("snap"),
        F.col("n_chars").alias("v"),
    )
    cnt = base.groupBy("source", "v").agg(
        F.count(F.when(F.col("snap") == 0, 1)).cast("bigint").alias("c0"),
        F.count(F.when(F.col("snap") == 1, 1)).cast("bigint").alias("c1"),
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_src = Window.partitionBy("source")
    cum = (
        cnt.withColumn("e0", F.sum("c0").over(w_cum))
        .withColumn("e1", F.sum("c1").over(w_cum))
        .withColumn("n0", F.sum("c0").over(w_src))
        .withColumn("n1", F.sum("c1").over(w_src))
    )
    agg = (
        cum.groupBy("source")
        .agg(
            F.min("n0").cast("bigint").alias("n_base"),
            F.min("n1").cast("bigint").alias("n_cur"),
            F.max(F.abs(F.col("e0") * F.col("n1") - F.col("e1") * F.col("n0")))
            .cast("bigint")
            .alias("d_num"),
        )
        .filter((F.col("n_base") > 0) & (F.col("n_cur") > 0))
    )
    pv = agg.selectExpr(
        "source",
        "n_base",
        "n_cur",
        "CAST(d_num AS DOUBLE) / (CAST(n_base AS DOUBLE) * n_cur) AS d",
        "CAST(ROUND(LEAST("
        "2.0 * EXP(-2.0"
        " * ((CAST(n_base AS DOUBLE) * n_cur) / (n_base + n_cur))"
        " * (CAST(d_num AS DOUBLE) / (CAST(n_base AS DOUBLE) * n_cur))"
        " * (CAST(d_num AS DOUBLE) / (CAST(n_base AS DOUBLE) * n_cur))),"
        " 1.0), 6) AS DECIMAL(10,6)) AS p6",
    )
    from chainhouse_spark.operators.ranking import global_row_number

    m_df = pv.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    ranked = global_row_number(
        pv, [F.asc("p6"), F.asc("source")], out_col="bh_rank"
    ).withColumn("bh_rank", F.col("bh_rank").cast("bigint")).crossJoin(
        F.broadcast(m_df)
    )
    kmax = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p6").cast("double")
                    <= F.col("bh_rank") * 0.05 / F.col("m"),
                    F.col("bh_rank"),
                )
            ),
            F.lit(0),
        ).alias("kmax")
    )
    return ranked.crossJoin(F.broadcast(kmax)).select(
        "source",
        "n_base",
        "n_cur",
        round9("d").alias("ks_d"),
        F.col("p6").cast("double").alias("p_value"),
        "bh_rank",
        round9(F.col("bh_rank") * 0.05 / F.col("m")).alias("bh_critical"),
        (F.col("bh_rank") <= F.col("kmax")).alias("reject_fdr_05"),
    )
