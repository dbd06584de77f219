"""Distribution & segmentation analytics: Pareto concentration, Shannon
entropy, Gini inequality, Markov transition matrices, RFM quartile
segmentation, chi-squared independence, and word-bigram counting.

These are the statistics a training-data pipeline runs to characterize a
corpus before sampling/mixing (concentration, diversity, drift) and the
segmentation shapes the reference's dashboard hints at but never computes
(its only stats are mean/median/OLS, `analysis.py:6-67`).

Determinism across engines: every float that feeds an ORDER BY or a
cumulative sum is rounded (r2) FIRST, so both engines sort and prefix-sum
the same doubles in the same order — bit-identical cumulative results.
Global-ordered statistics (Pareto cumsum, Gini rank, RFM/decile NTILE)
run on ``operators/rank.py``'s range-partitioned machinery — a parallel
sort over literal-boundary bins, never a single-partition window — and
cumulative revenue is summed in integer cents ON BOTH ENGINES (the
DuckDB oracle prefix-sums the same CAST(ROUND(revenue*100) AS BIGINT)),
so the comparison is exact arithmetic end-to-end, not float-sum-error
coincidence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.functions.text import ascii_lower

from us_weather_energy_analysis_pipeline_spark.corpus._util import dround_sql, r2, r4, r6
from us_weather_energy_analysis_pipeline_spark.corpus.registry import load, register
from us_weather_energy_analysis_pipeline_spark.operators.plan_meta import small_keys_frame
from us_weather_energy_analysis_pipeline_spark.operators.rank import (
    global_order_stats,
    multi_global_ntile,
)


@register(
    "pareto_revenue_concentration",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem GROUP BY l_partkey
      HAVING revenue IS NOT NULL
    ),
    cents AS (
      SELECT revenue, l_partkey,
             CAST(ROUND(revenue * 100) AS BIGINT) AS rev_cents
      FROM rev
    ),
    ranked AS (
      SELECT SUM(rev_cents) OVER (ORDER BY revenue DESC, l_partkey
                                  ROWS UNBOUNDED PRECEDING) AS cum_cents,
             SUM(rev_cents) OVER () AS tot_cents
      FROM cents
    )
    SELECT COUNT(*) FILTER (WHERE cum_cents <= 0.8 * tot_cents) AS parts_for_80pct,
           COUNT(*) AS total_parts
    FROM ranked
    """,
    tags=("window", "cumulative", "distribution"),
)
def pareto_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC analysis: how many parts produce 80 % of revenue.
    Per-part revenue is rounded then scaled to integer cents, and the
    global cumulative sum runs on ``operators/rank.py``'s range-binned
    parallel prefix sum — integer cents make the bin-parallel partials
    exactly associative, and no single-partition window appears in the
    plan. The 0.8 × total threshold is baked as a literal (the grand
    total falls out of the bounded per-bin stats for free)."""
    li = load(spark, sf_dir, "lineitem")
    # non-null sort-key contract (operators/rank.py): a part whose every
    # revenue term is NULL aggregates to NULL and is out of scope on
    # BOTH engines
    rev = li.groupBy("l_partkey").agg(
        r2(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "revenue"
        )
    ).filter(F.col("revenue").isNotNull())
    cents = rev.withColumn(
        "rev_cents", F.round(F.col("revenue") * 100).cast("long")
    )
    # Small path (quantile.py philosophy: below driver scale, single-node
    # IS the right plan): the answer is two scalars of the globally
    # sorted cumulative sum, so one bounded keys collect + an exact int64
    # numpy cumsum replaces the whole range-binned rank pipeline — the
    # long→double threshold comparison replicates the JVM cast exactly.
    pdf = small_keys_frame(cents, ["revenue", "l_partkey", "rev_cents"])
    if pdf is not None:
        import numpy as np

        order = np.lexsort(
            (
                pdf["l_partkey"].to_numpy(),
                -pdf["revenue"].to_numpy(dtype="float64"),
            )
        )
        cum = np.cumsum(pdf["rev_cents"].to_numpy(np.int64)[order])
        tot = float(cum[-1]) if len(cum) else 0.0
        parts = int((cum.astype(np.float64) <= 0.8 * tot).sum())
        from us_weather_energy_analysis_pipeline_spark.session import local_df

        return local_df(
            spark, [(parts, len(cum))], "parts_for_80pct long, total_parts long"
        )
    ranked = global_order_stats(
        cents,
        "revenue",
        ascending=False,
        tiebreaks=("l_partkey",),
        cum_cols=("rev_cents",),
        totals=True,
    )
    return ranked.agg(
        F.count(
            F.when(F.col("rev_cents_cum") <= 0.8 * F.col("rev_cents_tot"), 1)
        ).alias("parts_for_80pct"),
        F.count(F.lit(1)).alias("total_parts"),
    )


@register(
    "entropy_user_events",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY user_id, event_type
    ),
    t AS (SELECT user_id, SUM(n) AS tot FROM c GROUP BY user_id)
    SELECT c.user_id,
           CAST(t.tot AS BIGINT) AS n_events,
           ROUND(-SUM((n * 1.0 / tot) * LN(n * 1.0 / tot)), 4) AS entropy
    FROM c JOIN t ON c.user_id = t.user_id
    GROUP BY c.user_id, t.tot
    """,
    tags=("agg", "distribution", "text-pipeline"),
)
def entropy_user_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the diversity
    statistic corpus-mixing jobs compute per source/domain. One real
    aggregation at the (user, event_type) grain (map-side combine
    collapses the raw stream), then the per-user total is a WINDOW over
    that grain (r14 — the former t-CTE join re-aggregated and joined the
    same rows through two extra exchanges; the window reuses the c
    partitioning lineage and the final groupBy(user_id, tot) is
    exchange-free under the subset-partitioning rule: 4 exchanges → 2,
    plan-verified). Window partitions are per-user and bounded by the
    event-type vocabulary — skew-safe at any corpus size. p·ln p terms
    are the same exact integer ratios as the join form (identical
    expression tree), so both engines see identical doubles. The
    explicit ``user_id IS NOT NULL`` reproduces the join form's
    null-key drop (an inner join on user_id never matches NULL — the
    null-injection fuzz caught the window form keeping that partition)
    and pushes the filter into the parquet scan."""
    e = load(spark, sf_dir, "events")
    # ONE spark.sql statement (r11 build cut)
    return spark.sql(
        f"""
        WITH c AS (
          SELECT user_id, event_type, count(1) AS n
          FROM {{e}} WHERE user_id IS NOT NULL
          GROUP BY user_id, event_type
        ),
        m AS (
          SELECT user_id, n, sum(n) OVER (PARTITION BY user_id) AS tot
          FROM c
        )
        SELECT user_id, CAST(tot AS BIGINT) AS n_events,
               {dround_sql('-sum(n / tot * ln(n / tot))', 4)} AS entropy
        FROM m
        GROUP BY user_id, tot
        """,
        e=e,
    )


@register(
    "gini_customer_revenue",
    oracle="""
    WITH rev AS (
      SELECT o_custkey, ROUND(SUM(o_totalprice), 2) AS revenue
      FROM orders GROUP BY o_custkey
      HAVING revenue IS NOT NULL
    ),
    ranked AS (
      SELECT revenue,
             ROW_NUMBER() OVER (ORDER BY revenue, o_custkey) AS i,
             COUNT(*) OVER () AS n
      FROM rev
    )
    SELECT ROUND(2.0 * SUM(i * revenue) / (MAX(n) * SUM(revenue))
                 - (MAX(n) + 1.0) / MAX(n), 6) AS gini,
           CAST(MAX(n) AS BIGINT) AS n_customers
    FROM ranked
    """,
    tags=("window", "distribution", "inequality"),
)
def gini_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue (rank formula
    G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n on ascending-sorted x). Revenue is
    rounded before ranking for a deterministic cross-engine order; the
    exact global rank comes from ``operators/rank.py``'s range-binned
    row_number (bin offset + partitioned window), so the sort
    parallelizes over value-range bins instead of one task. ``n`` rides
    along as a broadcast single-row cross join, not a global window."""
    o = load(spark, sf_dir, "orders")
    # non-null sort-key contract (operators/rank.py), both engines
    rev = o.groupBy("o_custkey").agg(
        r2(F.sum("o_totalprice")).alias("revenue")
    ).filter(F.col("revenue").isNotNull())
    # Small path: the Gini is one scalar of the globally sorted series —
    # a bounded keys collect + numpy replaces the rank pipeline (the
    # Σ i·xᵢ summation order differs from the distributed partial sums,
    # which the 6-dp round absorbs — same accepted reaggregation risk).
    from us_weather_energy_analysis_pipeline_spark.corpus._util import py_dround

    pdf = small_keys_frame(rev, ["revenue", "o_custkey"])
    if pdf is not None:
        import numpy as np

        n = len(pdf)
        if n == 0:
            from us_weather_energy_analysis_pipeline_spark.session import (
                local_df,
            )

            return local_df(
                spark, [(None, None)], "gini double, n_customers long"
            )
        x = pdf["revenue"].to_numpy(dtype="float64")[
            np.lexsort((pdf["o_custkey"].to_numpy(), pdf["revenue"].to_numpy("float64")))
        ]
        sum_ix = float((np.arange(1, n + 1, dtype=np.float64) * x).sum())
        sum_x = float(x.sum())
        g = py_dround(
            2.0 * sum_ix / (float(n) * sum_x) - (float(n) + 1.0) / float(n), 6
        )
        from us_weather_energy_analysis_pipeline_spark.session import local_df

        return local_df(spark, [(g, n)], "gini double, n_customers long")
    ranked = global_order_stats(
        rev,
        "revenue",
        ascending=True,
        tiebreaks=("o_custkey",),
        rank_col="i",
        n_col="n",
    )
    return ranked.agg(
        r6(
            2.0 * F.sum(F.col("i") * F.col("revenue"))
            / (F.max("n") * F.sum("revenue"))
            - (F.max("n") + 1.0) / F.max("n")
        ).alias("gini"),
        F.max("n").cast("long").alias("n_customers"),
    )


@register(
    "markov_event_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      -- NULL ts out of scope for a time-ordered sequence (r7 ts null-fuzz:
      -- Spark orders NULLS FIRST, DuckDB NULLS LAST)
      FROM events WHERE ts IS NOT NULL
    )
    SELECT event_type, next_type, COUNT(*) AS n,
           ROUND(COUNT(*) * 1.0 /
                 SUM(COUNT(*)) OVER (PARTITION BY event_type), 6) AS p
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    tags=("window", "sequence", "behavioral"),
)
def markov_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (the journey-summary statistic behind next-event prediction). One
    ordered window pass partitioned by user_id (same shuffle the
    sessionizer uses), then a 25-cell aggregate; transition probabilities
    are exact integer ratios — cross-engine identical."""
    e = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    counts = seq.groupBy("event_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    w_row = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        r6(F.col("n") / F.sum("n").over(w_row)).alias("p"),
    )


@register(
    "rfm_segments",
    oracle="""
    WITH rfm AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS freq,
             ROUND(SUM(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey
      HAVING monetary IS NOT NULL
    ),
    scored AS (
      SELECT CAST(NTILE(4) OVER (ORDER BY last_order DESC, o_custkey) AS INTEGER) AS r,
             CAST(NTILE(4) OVER (ORDER BY freq DESC, o_custkey) AS INTEGER) AS f,
             CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey) AS INTEGER) AS m,
             monetary
      FROM rfm
    )
    SELECT r || '-' || f || '-' || m AS segment,
           COUNT(*) AS n_customers,
           -- integer-cents mean: the float AVG's summation order is
           -- engine/plan-dependent and can land exactly on a half-cent
           -- (seen when the r5 literal-NTILE plan changed Spark's sum
           -- order); summing exact cents first removes the ambiguity
           ROUND(SUM(CAST(ROUND(monetary * 100) AS BIGINT)) / 100.0
                 / COUNT(*), 2) AS avg_monetary
    FROM scored
    GROUP BY r, f, m
    """,
    tags=("window", "ntile", "segmentation", "behavioral"),
)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quartile segmentation — the
    classic customer-scoring pipeline. Monetary is rounded before the
    NTILE sort and every ordering carries a custkey tie-break, so quartile
    boundaries agree across engines. The three exact NTILEs run on
    ``operators/rank.py``'s ``multi_global_ntile`` — three parallel
    range-binned sorts instead of three single-partition ones, with ONE
    driver boundary probe (a single multi-column approxQuantile over the
    persisted RFM aggregate); recency is keyed on epoch micros
    (monotonic in the TIMESTAMP_NTZ, so the order matches the oracle's
    ORDER BY last_order DESC exactly)."""
    from us_weather_energy_analysis_pipeline_spark.operators.rank import OrderSpec

    o = load(spark, sf_dir, "orders")
    # non-null sort-key contract (operators/rank.py), both engines
    rfm = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("freq"),
        r2(F.sum("o_totalprice")).alias("monetary"),
    ).filter(F.col("monetary").isNotNull())
    scored = multi_global_ntile(
        rfm,
        [
            OrderSpec(
                F.unix_micros(F.col("last_order").cast("timestamp")),
                ascending=False,
                tiebreaks=("o_custkey",),
                out_col="r",
            ),
            OrderSpec("freq", False, ("o_custkey",), "f"),
            OrderSpec("monetary", False, ("o_custkey",), "m"),
        ],
        4,
    ).select("r", "f", "m", "monetary")
    return (
        scored.groupBy("r", "f", "m")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            # integer-cents mean (see oracle comment): exact long sum,
            # then ONE double division sequence both engines replicate
            r2(
                F.sum(F.round(F.col("monetary") * 100).cast("long"))
                / F.lit(100.0)
                / F.count(F.lit(1))
            ).alias("avg_monetary"),
        )
        .select(
            F.concat_ws("-", "r", "f", "m").alias("segment"),
            "n_customers",
            "avg_monetary",
        )
    )


@register(
    "chi2_weekday_event",
    oracle="""
    WITH obs AS (
      SELECT event_type, CAST(date_part('dow', ts) AS INTEGER) AS dow,
             COUNT(*) AS n
      FROM events GROUP BY event_type, dow
    ),
    m AS (
      SELECT event_type, dow, n,
             SUM(n) OVER (PARTITION BY event_type) AS row_tot,
             SUM(n) OVER (PARTITION BY dow) AS col_tot,
             SUM(n) OVER () AS grand_tot
      FROM obs
    )
    SELECT ROUND(SUM(POWER(n - row_tot * col_tot * 1.0 / grand_tot, 2)
                     / (row_tot * col_tot * 1.0 / grand_tot)), 4) AS chi2,
           CAST(COUNT(DISTINCT event_type) - 1 AS BIGINT)
             * CAST(COUNT(DISTINCT dow) - 1 AS BIGINT) AS dof
    FROM m
    """,
    tags=("agg", "stats", "independence"),
)
def chi2_weekday_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence for event-type × weekday — the
    drift/seasonality check a data-quality suite runs on event streams.
    The contingency table is a single groupBy (35 cells); marginals come
    from windows over the tiny aggregated table, so the heavy input is
    touched exactly once. Expected counts are exact integer ratios.
    (r14 audit: the planner already chains all three marginal windows
    after ONE SinglePartition exchange — SinglePartition satisfies every
    window's clustering — so no exchange is removable here; an explicit
    COALESCE(1) was A/B'd and produced a byte-identical stage structure
    plus a dead Coalesce node.)"""
    from us_weather_energy_analysis_pipeline_spark.corpus._util import dround_sql

    e = load(spark, sf_dir, "events")
    # ONE spark.sql statement (r11 build cut — same 35-cell contingency
    # aggregate + three windows over it)
    exp = "row_tot * col_tot / grand_tot"
    return spark.sql(
        f"""
        WITH obs AS (
          SELECT event_type, CAST(dayofweek(ts) - 1 AS INT) AS dow,
                 count(1) AS n
          FROM {{e}} GROUP BY event_type, CAST(dayofweek(ts) - 1 AS INT)
        ),
        m AS (
          SELECT event_type, dow, n,
                 sum(n) OVER (PARTITION BY event_type) AS row_tot,
                 sum(n) OVER (PARTITION BY dow) AS col_tot,
                 sum(n) OVER () AS grand_tot
          FROM obs
        )
        SELECT {dround_sql(f'sum(POWER(n - {exp}, 2) / ({exp}))', 4)} AS chi2,
               (count(DISTINCT event_type) - 1) * (count(DISTINCT dow) - 1)
                 AS dof
        FROM m
        """,
        e=e,
    )


@register(
    "bigram_topk",
    oracle="""
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split_regex(
               translate(regexp_replace(text, '[^a-zA-Z ]', ' ', 'g'), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', 'abcdefghijklmnopqrstuvwxyz'), ' +'),
               w -> w <> '') AS ws
      FROM documents
    ),
    toks AS (
      SELECT doc_id, unnest(ws) AS word,
             generate_subscripts(ws, 1) AS pos
      FROM words
    ),
    big AS (
      SELECT word || ' ' ||
             LEAD(word) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
      FROM toks
    )
    SELECT bigram, COUNT(*) AS n
    FROM big WHERE bigram IS NOT NULL
    GROUP BY bigram
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
    tags=("text-pipeline", "ngram", "topk"),
)
def bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 word bigrams across the document corpus — n-gram statistics
    for LM data prep (vocabulary induction, contamination fingerprints).
    Tokenization is pure JVM expression (regexp + split + filter, no UDF);
    adjacent pairs come from transform() over the token array — no window
    or posexplode self-join for adjacency; the per-document bigram array
    is then exploded once (one row per bigram) into the count, and the
    final top-k is a TakeOrdered (no global sort materialization)."""
    d = load(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(ascii_lower(F.regexp_replace("text", "[^a-zA-Z ]", " ")), " +"),
        lambda w: w != "",
    )
    # adjacent pairs zipped from the array itself: ws[i] + ' ' + ws[i+1]
    bigrams = F.expr(
        "transform(slice(ws, 1, greatest(size(ws) - 1, 0)), "
        "(w, i) -> concat(w, ' ', ws[i + 1]))"
    )
    return (
        d.select(ws.alias("ws"))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )
