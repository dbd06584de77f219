"""Date-spine completion — the reference's reindex-to-calendar semantic
(J4, `data_processor.py:10-22`) as a generated-spine left outer join.

Scale notes: the spine is rows = days × keys — tiny relative to facts —
so it is always the broadcast side; completion never shuffles the fact
table beyond the (date, key) aggregation that usually precedes it.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def date_spine(
    spark: SparkSession,
    start: dt.date | str,
    end: dt.date | str,
    col_name: str = "date",
) -> DataFrame:
    """All days in [start, end] inclusive, one DateType column."""
    return spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(str(start)).cast("date"),
                F.lit(str(end)).cast("date"),
                F.expr("interval 1 day"),
            )
        ).alias(col_name)
    )


def spine_from_bounds(df: DataFrame, date_col: str, col_name: str = "date") -> DataFrame:
    """Spine spanning df's own [min, max] of ``date_col`` — bounds stay
    in-plan (single-row aggregate → sequence → explode), no driver collect."""
    bounds = df.agg(
        F.min(F.to_date(date_col)).alias("lo"), F.max(F.to_date(date_col)).alias("hi")
    )
    return bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 day"))).alias(col_name)
    )


def complete_date_range(
    df: DataFrame,
    date_col: str = "date",
    keys: tuple[str, ...] = ("city",),
    start: dt.date | str | None = None,
    end: dt.date | str | None = None,
) -> DataFrame:
    """Complete each key's daily calendar (reference J4
    `ensure_complete_date_range`): every (day, *keys) combination exists in
    the output; unmatched combinations carry NULL measures — exactly pandas
    ``set_index('date').reindex(all_dates)`` per group.

    With explicit [start, end] the requested range wins (historical-mode
    semantics, `pipeline.py:19-23`); otherwise the observed bounds.
    """
    spark = df.sparkSession
    if start is not None and end is not None:
        spine = date_spine(spark, start, end, date_col)
    else:
        spine = spine_from_bounds(df, date_col, date_col)
    key_dim = df.select(*keys).distinct()
    grid = spine.crossJoin(F.broadcast(key_dim))
    return grid.join(df, [date_col, *keys], "left")
