"""The seven dashboard views (reference `dashboards/app.py`, SURVEY §3.2).

Each view is a short lazy plan over the page frame that ``filter_view``
returns: the page's filtered rows, materialised once in one partition, the
counterpart of the reference's in-memory ``filtered_df``. The engine
produces the DataFrames feeding the charts; rendering stays out of scope
(SURVEY §2.10). Window functions replace the reference's join-back idioms
(prev-day join J3 → lag; groupby-last A4 → row_number).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.functions.scalars import (
    DAY_ORDER,
    day_name,
    pct_change,
    temp_range_bin,
)


def filter_view(
    df: DataFrame,
    start: dt.date | str,
    end: dt.date | str,
    cities: Sequence[str] | None = None,
) -> DataFrame:
    """Sidebar filter context (reference F1 `app.py:442-446`): date range +
    city multiselect (``None`` = every city, ``[]`` = none). With the fact
    table partitioned by city, the isin filter prunes partitions before
    any read.

    Eager: the call runs one job that materialises the page's rows into a
    single-partition local checkpoint (the page frame). Every chart over it
    then plans without a shuffle — one partition satisfies every aggregate,
    window and global sort — and re-reads neither parquet nor page-specific
    literals. The checkpoint blocks live on the executors until the frame
    is unreachable, when the ContextCleaner frees them.
    """
    out = df.filter(
        (F.col("date") >= F.lit(str(start)).cast("date"))
        & (F.col("date") <= F.lit(str(end)).cast("date"))
    )
    if cities is not None:
        out = out.filter(F.col("city").isin(*cities))
    return out.coalesce(1).localCheckpoint(eager=True)


def latest_per_city(df: DataFrame, city_dim: DataFrame | None = None) -> DataFrame:
    """Map view (reference `app.py:597-673`): latest row per city (A4) +
    prev-day demand via lag (replacing join J3 + filter F7, SURVEY §2.4)
    + guarded pct change (P14); optional broadcast join to the city dim
    for lat/lon (J2)."""
    w_ord = Window.partitionBy("city").orderBy(F.col("date").asc())
    with_prev = df.withColumn("prev_energy", F.lag("energy_demand_gwh").over(w_ord))
    w_last = Window.partitionBy("city").orderBy(F.col("date").desc())
    latest = (
        with_prev.withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .withColumn(
            "energy_pct_change",
            pct_change("energy_demand_gwh", F.coalesce("prev_energy", F.lit(0.0))),
        )
    )
    if city_dim is not None:
        latest = latest.join(
            F.broadcast(city_dim.select("name", "lat", "lon")),
            latest.city == F.col("name"),
            "left",
        ).drop("name")
    return latest


def timeseries_view(
    df: DataFrame, city: str | None = None, differenced: bool = False
) -> DataFrame:
    """Time-series view (reference `app.py:700-757`): single-city slice (F2)
    or All-Cities rollup (A3: mean temp, summed demand); optional
    first-order differencing (P15) with post-diff null drop (F6)."""
    if city is None:
        ts = df.groupBy("date").agg(
            F.avg("temp_avg_f").alias("temp_avg_f"),
            F.sum("energy_demand_gwh").alias("energy_demand_gwh"),
        )
    else:
        ts = df.filter(F.col("city") == city).select(
            "date", "temp_avg_f", "energy_demand_gwh"
        )
    if differenced:
        w = Window.orderBy("date")
        ts = (
            ts.withColumn("temp_avg_f", F.col("temp_avg_f") - F.lag("temp_avg_f").over(w))
            .withColumn(
                "energy_demand_gwh",
                F.col("energy_demand_gwh") - F.lag("energy_demand_gwh").over(w),
            )
            .na.drop(subset=["temp_avg_f", "energy_demand_gwh"])
        )
    return ts


def heatmap_view(df: DataFrame, city: str | None = None) -> DataFrame:
    """Temperature-bin × weekday heatmap (reference `prepare_heatmap_data`
    analysis.py:41-67): N1 impute on temp_avg_f → P10 bin → P8 weekday →
    A6 pivot with empty cells 0 — all 7 weekday columns always present."""
    base = df if city is None else df.filter(F.col("city") == city)
    mean_temp = F.avg("temp_avg_f").over(Window.partitionBy(F.lit(1)))
    prepared = base.select(
        temp_range_bin(F.coalesce(F.col("temp_avg_f"), mean_temp)).alias("temp_range"),
        day_name("date").alias("day_of_week"),
        F.coalesce("energy_demand_gwh", F.lit(0.0)).alias("energy"),
    ).filter(F.col("temp_range").isNotNull())
    piv = (
        prepared.groupBy("temp_range")
        .pivot("day_of_week", list(DAY_ORDER))
        .agg(F.avg("energy"))
    )
    return piv.select(
        "temp_range",
        *[F.coalesce(F.col(d), F.lit(0.0)).alias(d) for d in DAY_ORDER],
    )


def weekend_spans(df: DataFrame) -> DataFrame:
    """Weekend shading spans for the time-series chart (reference P9/P16
    `app.py:739-748`): Saturdays in range → (start=saturday, end=+2 days)."""
    return (
        df.select("date")
        .distinct()
        .filter(F.dayofweek("date") == 7)
        .select(
            F.col("date").alias("span_start"),
            F.date_add("date", 2).alias("span_end"),
        )
    )
