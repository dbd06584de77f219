"""Behavioral & temporal analytics corpus: cohort retention, funnel
conversion, co-occurrence pairs, year-over-year comparison, calendar-aware
RANGE frames, grouped quantiles, argmax aggregates and higher-moment stats.

The shapes a product-analytics warehouse runs on an events stream — all
expressed as shuffle-minimal DataFrame plans (the reference's closest
relatives are the prev-day lag J3 `app.py:605` and daily rollup A3
`app.py:701-704`, generalized here to user-level temporal semantics)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.corpus._util import dround_sql, iso_day, r2, r4
from us_weather_energy_analysis_pipeline_spark.corpus.registry import load, register
from us_weather_energy_analysis_pipeline_spark.functions.text import ordered_pairs


# ---------------------------------------------------------------------------
# Cohort retention: users grouped by first-activity day, tracked by offset
# ---------------------------------------------------------------------------


@register(
    "cohort_retention",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(day) AS cday FROM ud GROUP BY 1
    )
    SELECT strftime(c.cday, '%Y-%m-%d') AS cohort_day,
           CAST(u.day - c.cday AS INTEGER) AS day_offset,
           COUNT(*) AS n_users
    FROM ud u JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
    tags=("cohort", "retention", "behavioral"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: each user is assigned to the cohort of
    their first active day; (cohort_day, day_offset) cells count users
    still active N days later. Two shuffles on user_id (dedup + min), then
    one on the small cohort key — the user-grain intermediates never leave
    their partitioning."""
    e = load(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    cohort = ud.groupBy("user_id").agg(F.min("day").alias("cday"))
    return (
        ud.join(cohort, "user_id")
        # group on the native date; the ISO string is built once per
        # (cohort, offset) cell, not per user-day row (r14)
        .groupBy("cday", F.datediff("day", "cday").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            iso_day("cday").alias("cohort_day"), "day_offset", "n_users"
        )
    )


# ---------------------------------------------------------------------------
# Funnel conversion: view → purchase within 24 h
# ---------------------------------------------------------------------------


@register(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS vts FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS pts
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts >= v.vts
      WHERE e.event_type = 'purchase' GROUP BY 1
    )
    SELECT strftime(CAST(v.vts AS DATE), '%Y-%m-%d') AS first_view_day,
           COUNT(*) AS n_viewers,
           COUNT(*) FILTER (WHERE p.pts IS NOT NULL
                            AND p.pts <= v.vts + INTERVAL 24 HOURS) AS n_converted,
           ROUND(CAST(COUNT(*) FILTER (WHERE p.pts IS NOT NULL
                                       AND p.pts <= v.vts + INTERVAL 24 HOURS) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 4) AS cvr
    FROM v LEFT JOIN p USING (user_id)
    GROUP BY 1
    """,
    tags=("funnel", "behavioral", "join"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage funnel: per first-view day, how many viewers made their
    first subsequent purchase within 24 h. One events scan, one user_id
    exchange: the first-view anchor is a window min over the user
    partition and the per-user aggregate reuses the same partitioning.
    Skew note: the window buffers one user's view/purchase rows in a
    task (same per-key locality every partitioned window in the corpus
    has); under a pathologically hot user, split the anchor back into a
    separate min-aggregate + join (map-side combinable) at the cost of a
    second exchange — the two shapes are algebraically identical."""
    e = load(spark, sf_dir, "events")
    # ONE scan + ONE user_id exchange: the first-view anchor is a window
    # min over the user partition, and the per-user aggregate reuses the
    # same partitioning (no second exchange, no v⨝p join branches that
    # each re-scanned events). NULL-user semantics (r7 user_id
    # null-fuzz): the oracle's p JOIN v ON e.user_id = v.user_id never
    # matches NULL keys, so the pooled NULL-user group counts as a
    # viewer (v is a GROUP BY, NULLs group) but can never convert — its
    # pts is nulled. ONE spark.sql statement (r11 build cut).
    converted = "pts IS NOT NULL AND pts <= vts + INTERVAL 24 HOURS"
    return spark.sql(
        f"""
        WITH anno AS (
          SELECT user_id, ts, event_type,
                 min(CASE WHEN event_type = 'view' THEN ts END)
                   OVER (PARTITION BY user_id) AS vts
          FROM (SELECT user_id, ts, event_type FROM {{e}}
                WHERE event_type IN ('view', 'purchase'))
        ),
        per_user0 AS (
          SELECT user_id, min(vts) AS vts,
                 min(CASE WHEN event_type = 'purchase' AND ts >= vts
                          THEN ts END) AS pts
          FROM anno WHERE vts IS NOT NULL GROUP BY user_id
        ),
        per_user AS (
          SELECT user_id, vts,
                 CASE WHEN user_id IS NOT NULL THEN pts END AS pts
          FROM per_user0
        )
        SELECT CAST(to_date(vts) AS STRING) AS first_view_day,
               count(1) AS n_viewers,
               count_if({converted}) AS n_converted,
               {dround_sql(f'CAST(count_if({converted}) AS DOUBLE)'
                           ' / CAST(count(1) AS DOUBLE)', 4)} AS cvr
        FROM per_user
        -- native-date group key (r14); the aggregate output projects the
        -- ISO string per group — date→string is injective, same groups
        GROUP BY to_date(vts)
        """,
        e=e,
    )


# ---------------------------------------------------------------------------
# Co-occurrence pairs: event types seen together per (user, day)
# ---------------------------------------------------------------------------


@register(
    "cooccurrence_pairs",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day, event_type FROM events
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n
    FROM ud a JOIN ud b
      ON a.user_id = b.user_id AND a.day = b.day AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    tags=("behavioral", "posting-list", "market-basket"),
)
def cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: unordered pairs of event types that
    appear for the same user on the same day.

    Bitmask plan (r6, VERDICT task 4 — stage-split probe and A/B in
    BENCH_AB.md): the old collect_set plan spent its 0.35 s data-time in
    the ObjectHashAggregate building per-key string sets (probe: sets
    0.28 s vs bit_or 0.16 s at sf0.1). With the (tiny, memoized)
    event-type dictionary, each type becomes one bit; the per-(user, day)
    set is a ``bit_or`` over longs — a whole-stage-codegen hash agg whose
    shuffle rows carry ONE long instead of a string array. Distinct masks number ≤ 2^|types|, so
    masks roll up to counts first and the pair HOF expands over that tiny
    relation, weighted by count. Full plan 0.47 s → 0.27 s replicated;
    same single fact shuffle, identical output (the oracle gate checks
    it). Types beyond 60 (mask width) or an empty dictionary fall
    back to the collect_set plan."""
    e = load(spark, sf_dir, "events")
    # NULL basket keys never pair: the oracle's self-join condition
    # a.user_id = b.user_id AND a.day = b.day excludes NULLs, while a
    # Spark groupBy would pool all NULL-key rows into one phantom basket
    # (r7 user_id null-fuzz)
    base = e.select("user_id", F.to_date("ts").alias("day"), "event_type").filter(
        F.col("user_id").isNotNull() & F.col("day").isNotNull()
    )
    types = _event_type_dict(spark, sf_dir)
    # fallback guards: mask width (60 bits), empty dict, and literal
    # safety — dictionary values are embedded as SQL literals, so any
    # type containing a quote/backslash routes to the dictionary-free plan
    if (
        not types
        or len(types) > 60
        or any("'" in t or "\\" in t for t in types)
    ):
        return _cooccurrence_collect_set(base)
    tarr = "array(" + ", ".join(f"'{t}'" for t in types) + ")"
    # loud staleness guard (ADVICE r6): if an event_type reaches execution
    # that is absent from the memoized dictionary (data changed between
    # dict build and lazy execution), array_position returns 0 and
    # shiftleft(1L, -1) would silently set bit 63, corrupting the mask.
    # Fail the job instead. NULL event_type keeps its old behavior:
    # array_position → NULL → bit NULL → skipped by bit_or.
    bit = F.expr(
        f"CASE WHEN array_position({tarr}, event_type) = 0 THEN "
        f"CAST(raise_error(concat('cooccurrence_pairs: event_type absent "
        f"from memoized dictionary: ', event_type)) AS BIGINT) "
        f"ELSE shiftleft(1L, cast(array_position({tarr}, event_type) as int) - 1) END"
    )
    masks = (
        base.select("user_id", "day", bit.alias("b"))
        .groupBy("user_id", "day")
        .agg(F.bit_or("b").alias("m"))
        .filter(F.bit_count("m") >= 2)
        .groupBy("m")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    bits = f"filter(sequence(0, {len(types) - 1}), i -> ((m >> i) & 1) = 1)"
    pair_expr = F.expr(
        f"flatten(transform({bits}, (x, i) -> "
        f"transform(slice({bits}, i + 2, {len(types)}), "
        f"y -> struct(element_at({tarr}, x + 1) AS type_a, "
        f"element_at({tarr}, y + 1) AS type_b))))"
    )
    return (
        masks.select("cnt", F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b"))
        .agg(F.sum("cnt").alias("n"))
    )


def _cooccurrence_collect_set(base: DataFrame) -> DataFrame:
    """Dictionary-free fallback: per-key collect_set + pair HOF — the
    pre-r6 plan, kept for >60 types (mask overflow)."""
    sets = (
        base.groupBy("user_id", "day")
        .agg(F.sort_array(F.collect_set("event_type")).alias("ts_"))
        .filter(F.size("ts_") >= 2)
    )
    return (
        sets.select(F.explode(ordered_pairs("ts_", "type_a", "type_b")).alias("p"))
        .groupBy(F.col("p.type_a").alias("type_a"), F.col("p.type_b").alias("type_b"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


_TYPE_DICT_CACHE: dict[tuple[str, str], list[str]] = {}


def _event_type_dict(spark: SparkSession, sf_dir: str) -> list[str]:
    """Sorted distinct event types — the low-cardinality dictionary a
    catalog/statistics service would hold (memoized per application ×
    sf_dir, same pattern as registry._TABLE_CACHE). One tiny distinct
    job on first use; binary (ASCII) sort order matches both Spark's
    sort_array and the oracle's `<` comparison. NULL types never pair
    (collect_set and the `<` join both drop them) and are excluded."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _TYPE_DICT_CACHE.get(key)
    if cached is None:
        e = load(spark, sf_dir, "events")
        cached = sorted(
            r[0]
            for r in e.select("event_type").distinct().collect()
            if r[0] is not None
        )
        if len(_TYPE_DICT_CACHE) > 512:
            _TYPE_DICT_CACHE.clear()
        _TYPE_DICT_CACHE[key] = cached
    return cached


# ---------------------------------------------------------------------------
# Year-over-year: monthly revenue vs the same month last year
# ---------------------------------------------------------------------------


@register(
    "yoy_monthly",
    oracle="""
    WITH m AS (
      SELECT CAST(strftime(l_shipdate, '%Y') AS INTEGER) AS yr,
             CAST(strftime(l_shipdate, '%m') AS INTEGER) AS mon,
             SUM(l_extendedprice) AS revenue
      FROM lineitem GROUP BY 1, 2
    )
    SELECT yr, mon,
           ROUND(revenue, 2) AS revenue,
           ROUND(LAG(revenue) OVER (PARTITION BY mon ORDER BY yr), 2) AS prev_year,
           CASE WHEN LAG(revenue) OVER (PARTITION BY mon ORDER BY yr) > 0
                THEN ROUND((revenue - LAG(revenue) OVER (PARTITION BY mon ORDER BY yr))
                           / LAG(revenue) OVER (PARTITION BY mon ORDER BY yr) * 100, 4)
           END AS yoy_pct
    FROM m
    """,
    tags=("window", "yoy", "timeseries"),
)
def yoy_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year growth: lag over a window PARTITIONED BY calendar
    month and ORDERED BY year aligns each month with the same month one
    year earlier — no self-join, and the window runs on the tiny monthly
    aggregate, never the fact table."""
    li = load(spark, sf_dir, "lineitem")
    # ONE spark.sql statement (r11 build cut — one lag window expression
    # instead of four duplicated ones, same monthly-aggregate exchange)
    return spark.sql(
        f"""
        WITH m AS (
          SELECT year(l_shipdate) AS yr, month(l_shipdate) AS mon,
                 sum(l_extendedprice) AS revenue
          FROM {{li}} GROUP BY year(l_shipdate), month(l_shipdate)
        ),
        lagged AS (
          SELECT yr, mon, revenue,
                 lag(revenue) OVER (PARTITION BY mon ORDER BY yr) AS prev
          FROM m
        )
        SELECT yr, mon,
               {dround_sql('revenue', 2)} AS revenue,
               {dround_sql('prev', 2)} AS prev_year,
               CASE WHEN prev > 0
                    THEN {dround_sql('(revenue - prev) / prev * 100', 4)}
               END AS yoy_pct
        FROM lagged
        """,
        li=li,
    )


# ---------------------------------------------------------------------------
# Calendar-aware trailing window: RANGE frame over days
# ---------------------------------------------------------------------------


@register(
    "trailing_range_7d",
    oracle="""
    WITH d AS (
      SELECT CAST(l_shipdate AS DATE) AS day, SUM(l_extendedprice) AS total
      FROM lineitem GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           ROUND(total, 2) AS total,
           ROUND(SUM(total) OVER (ORDER BY day
                 RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW), 2) AS r7
    FROM d
    """,
    tags=("window", "range-frame", "timeseries"),
)
def trailing_range_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7 CALENDAR days via a RANGE frame — unlike the ROWS frame
    in moving_avg_7d, missing days shrink the window instead of silently
    stretching it. Spark's rangeBetween needs a numeric ordering key, so
    the date becomes an epoch-day integer (datediff from 1970-01-01) —
    bit-exact, reversible, and the frame bounds stay in day units."""
    li = load(spark, sf_dir, "lineitem")
    # ONE spark.sql statement (r11 build cut)
    r7 = ("sum(total) OVER (ORDER BY dayn"
          " RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)")
    return spark.sql(
        f"""
        SELECT CAST(CAST(day AS DATE) AS STRING) AS day,
               {dround_sql('total', 2)} AS total,
               {dround_sql(r7, 2)} AS r7
        FROM (
          SELECT day, total,
                 datediff(day, CAST('1970-01-01' AS DATE)) AS dayn
          FROM (SELECT to_date(l_shipdate) AS day,
                       sum(l_extendedprice) AS total
                FROM {{li}} GROUP BY to_date(l_shipdate))
        )
        """,
        li=li,
    )


# ---------------------------------------------------------------------------
# Grouped exact quantiles
# ---------------------------------------------------------------------------


@register(
    "grouped_quantiles",
    oracle="""
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 4) AS p50,
           ROUND(quantile_cont(value, 0.9), 4) AS p90,
           ROUND(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY 1
    """,
    tags=("agg", "quantiles", "A10"),
)
def grouped_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles — one percentile aggregate with an array
    of fractions per group (single sort buffer per group, same linear
    interpolation as DuckDB quantile_cont; see quantiles_exact for the
    global form and the approx_percentile swap at 100 TB)."""
    e = load(spark, sf_dir, "events")
    arr = e.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.5, 0.9, 0.99))").alias("ps")
    )
    return arr.select(
        "event_type",
        r4(F.col("ps")[0]).alias("p50"),
        r4(F.col("ps")[1]).alias("p90"),
        r4(F.col("ps")[2]).alias("p99"),
    )


# ---------------------------------------------------------------------------
# Argmax / argmin aggregates
# ---------------------------------------------------------------------------


@register(
    "argmax_supplier",
    oracle="""
    SELECT s_nationkey AS nationkey,
           arg_max(s_name, s_acctbal) AS top_supplier,
           ROUND(MAX(s_acctbal), 2) AS top_acctbal,
           arg_min(s_name, s_acctbal) AS bottom_supplier,
           ROUND(MIN(s_acctbal), 2) AS bottom_acctbal
    FROM supplier GROUP BY 1
    """,
    tags=("agg", "argmax", "A4"),
)
def argmax_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax/argmin as AGGREGATES (max_by / min_by) — the one-pass
    alternative to the window row_number idiom in last_per_group: no sort,
    no rank, map-side combinable. Deterministic here because extreme
    balances are unique per nation (ties would need a struct-valued
    ordering key or the window form)."""
    s = load(spark, sf_dir, "supplier")
    return s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.max_by("s_name", "s_acctbal").alias("top_supplier"),
        r2(F.max("s_acctbal")).alias("top_acctbal"),
        F.min_by("s_name", "s_acctbal").alias("bottom_supplier"),
        r2(F.min("s_acctbal")).alias("bottom_acctbal"),
    )


# ---------------------------------------------------------------------------
# Higher-moment statistics from raw power sums
# ---------------------------------------------------------------------------


@register(
    "moments_skew_kurt",
    oracle="""
    WITH st AS (
      SELECT event_type, COUNT(*) AS n,
             SUM(value) AS s1, SUM(value * value) AS s2,
             SUM(value * value * value) AS s3,
             SUM(value * value * value * value) AS s4
      FROM events GROUP BY 1
    )
    SELECT event_type, n,
           ROUND(s1 / n, 4) AS mean,
           ROUND((s2 / n - (s1 / n) * (s1 / n)), 4) AS var_pop,
           ROUND((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / POW(s2 / n - (s1 / n) * (s1 / n), 1.5), 4) AS skew,
           ROUND((s4 / n - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / POW(s2 / n - (s1 / n) * (s1 / n), 2) - 3, 4) AS kurt_excess
    FROM st
    """,
    tags=("agg", "moments", "stats"),
)
def moments_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis from raw power sums
    (n, Σx, Σx², Σx³, Σx⁴) — one map-side-combinable pass, mergeable
    across partitions, and the SAME explicit expression tree on both
    engines (built-in skewness/kurtosis differ by estimator and summation
    algorithm across engines, so the moment form is the portable one)."""
    e = load(spark, sf_dir, "events")
    # ONE spark.sql statement (r11 build cut); the moment expressions
    # keep the exact operand order of the original Column form (PySpark
    # renders ``3 * m`` as ``m * 3``) so the emitted bits are unchanged.
    m = "(s1 / n)"
    var_pop = f"(s2 / n - {m} * {m})"
    skew = f"(s3 / n - {m} * 3 * (s2 / n) + {m} * 2 * {m} * {m}) / POWER({var_pop}, 1.5D)"
    kurt = (
        f"(s4 / n - {m} * 4 * (s3 / n) + {m} * 6 * {m} * (s2 / n)"
        f" - {m} * 3 * {m} * {m} * {m}) / POWER({var_pop}, 2.0D) - 3"
    )
    return spark.sql(
        f"""
        WITH st AS (
          SELECT event_type, count(1) AS n, sum(value) AS s1,
                 sum(value * value) AS s2,
                 sum(value * value * value) AS s3,
                 sum(value * value * value * value) AS s4
          FROM {{e}} GROUP BY event_type
        )
        SELECT event_type, n,
               {dround_sql(m, 4)} AS mean,
               {dround_sql(var_pop, 4)} AS var_pop,
               {dround_sql(skew, 4)} AS skew,
               {dround_sql(kurt, 4)} AS kurt_excess
        FROM st
        """,
        e=e,
    )
