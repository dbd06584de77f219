"""Date-spine completion — the reference's reindex-to-calendar semantic
(J4, `data_processor.py:10-22`) as a generated-spine left outer join.

Scale notes: the spine is rows = days × cities — tiny relative to facts —
so it is always the broadcast side; completion never shuffles the fact
table beyond the (date, city) aggregation that usually precedes it.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def date_spine(spark: SparkSession, start: dt.date | str, end: dt.date | str) -> DataFrame:
    """All days in [start, end] inclusive, one DateType column ``date``."""
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(str(start)).cast("date"),
                F.lit(str(end)).cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias("date")
    )


def spine_from_bounds(df: DataFrame) -> DataFrame:
    """Spine spanning df's own [min, max] of ``date`` — bounds stay
    in-plan (single-row aggregate → sequence → explode), no driver collect."""
    bounds = df.agg(
        F.min(F.to_date("date")).alias("lo"), F.max(F.to_date("date")).alias("hi")
    )
    return bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias("date")
    )


def complete_date_range(
    df: DataFrame,
    start: dt.date | str | None = None,
    end: dt.date | str | None = None,
) -> DataFrame:
    """Complete each city's daily calendar (reference J4
    `ensure_complete_date_range`): every (date, city) combination exists in
    the output; unmatched combinations carry NULL measures — exactly pandas
    ``set_index('date').reindex(all_dates)`` per group.

    With explicit [start, end] the requested range wins (historical-mode
    semantics, `pipeline.py:19-23`); otherwise the observed bounds. Every
    output row also carries its city's observed ``first_day``/``last_day``,
    from the same aggregate that builds the city dim.
    """
    if start is not None and end is not None:
        spine = date_spine(df.sparkSession, start, end)
    else:
        spine = spine_from_bounds(df)
    city_dim = df.groupBy("city").agg(
        F.min("date").alias("first_day"), F.max("date").alias("last_day")
    )
    grid = spine.crossJoin(F.broadcast(city_dim))
    return grid.join(df, ["date", "city"], "left")
