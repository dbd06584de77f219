"""The reference ETL (`src/pipeline.py:11-111` + `src/data_processor.py`)
as one lazy Spark DAG.

The reference loops city-by-city, fetching and transforming each in its
own pandas DataFrame, then concats. Here city is just a column: weather
and energy are each ONE plan over all cities, and the final fact table is
one join — Spark parallelizes by partition, the per-city loop disappears
(SURVEY §3.1 mapping).

Each source gets exactly one calendar join (`operators/spine.py`), whose
city dim also carries each city's observed first/last day.

Semantic parity points (SURVEY §7.3), each unit-tested:
- A1 pivot is one conditional aggregate, ``avg(when(datatype = ...))``, so
  duplicate (date, datatype) resolve with mean;
- C→F conversion happens BEFORE the pivot (`data_processor.py:36` vs `:48`);
- A2 resample via the observed bounds: days inside a city's observed range
  fill 0.0 (all-garbage days too); requested-range-only days stay NULL;
- N1 imputation mean is per-city over present values, AFTER the spine join;
- P7 temp_avg skips missing sides (pandas mean(axis=1) skipna).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.functions.scalars import (
    celsius_to_fahrenheit,
    row_avg,
)
from us_weather_energy_analysis_pipeline_spark.operators.spine import complete_date_range
from us_weather_energy_analysis_pipeline_spark.operators.upsert import replace_table


def resolve_date_range(
    mode: str, today: dt.date | None = None
) -> tuple[dt.date, dt.date]:
    """historical = [today−180, today−1]; realtime = [yesterday, yesterday]
    (reference `pipeline.py:19-28` — the only 'planning' step)."""
    today = today or dt.date.today()
    if mode == "historical":
        return today - dt.timedelta(days=180), today - dt.timedelta(days=1)
    if mode == "realtime":
        y = today - dt.timedelta(days=1)
        return y, y
    raise ValueError(f"unknown mode {mode!r}")


def process_weather(
    long_obs: DataFrame,
    start: dt.date | str | None = None,
    end: dt.date | str | None = None,
) -> DataFrame:
    """Long-form NOAA observations (city, date_str, datatype, value_c) →
    one row per (date, city) with temp_max_f/temp_min_f/temp_avg_f
    (reference `process_weather_data` data_processor.py:24-62).

    Steps: truncate date (P2; a malformed date reads as NULL and, like a
    missing one, never matches the spine) → convert °C→°F BEFORE pivot (P1) → EAV
    pivot as one conditional aggregate, mean dedup (A1) → spine-join to the
    requested range (J4) → per-city mean imputation (N1) → row avg (P7).
    """
    obs = long_obs.select(
        F.try_to_date(F.substring_index("date_str", "T", 1)).alias("date"),
        "city",
        "datatype",
        celsius_to_fahrenheit("value_c").alias("value_f"),
    )
    wide = obs.groupBy("date", "city").agg(
        *(
            F.avg(F.when(F.col("datatype") == kind, F.col("value_f"))).alias(col)
            for kind, col in (("TMAX", "temp_max_f"), ("TMIN", "temp_min_f"))
        )
    )
    per_city = Window.partitionBy("city")
    imputed = complete_date_range(wide, start, end).select(
        "date",
        "city",
        *(
            F.coalesce(c, F.avg(c).over(per_city)).alias(c)
            for c in ("temp_max_f", "temp_min_f")
        ),
    )
    return imputed.withColumn("temp_avg_f", row_avg("temp_max_f", "temp_min_f"))


def process_energy(
    hourly: DataFrame,
    start: dt.date | str | None = None,
    end: dt.date | str | None = None,
) -> DataFrame:
    """Hourly EIA readings (city, period_str, value_str) → one row per
    (date, city) with energy_demand_gwh (reference `process_energy_data`
    data_processor.py:64-85).

    Steps: timestamp parse (P3) → numeric coercion null-on-garbage (P4,
    try_cast ≡ pd.to_numeric errors='coerce') → daily sum (A2) →
    requested-range spine (J4) → project (P6). The spine's observed bounds
    give pandas ``resample('D').sum()`` parity: a day inside the city's
    observed range sums to 0.0 even with no numeric reading; a day only in
    the requested range stays NULL.
    """
    readings = hourly.select(
        F.coalesce(
            F.try_to_timestamp("period_str", F.lit("yyyy-MM-dd'T'HH")),
            F.try_to_timestamp("period_str", F.lit("yyyy-MM-dd'T'HH:mm")),
            F.try_to_timestamp("period_str"),
        ).alias("ts"),
        "city",
        F.expr("try_cast(value_str as double)").alias("value_mwh"),
    ).filter(F.col("ts").isNotNull())
    daily = readings.groupBy("city", F.to_date("ts").alias("date")).agg(
        F.sum("value_mwh").alias("energy_demand_gwh")
    )
    complete = complete_date_range(daily, start, end)
    observed = F.col("date").between(F.col("first_day"), F.col("last_day"))
    return complete.select(
        "date",
        "city",
        F.when(observed, F.coalesce("energy_demand_gwh", F.lit(0.0))).alias(
            "energy_demand_gwh"
        ),
    )


def build_fact(weather: DataFrame, energy: DataFrame) -> DataFrame:
    """weather ⨝ energy inner on (date, city) (reference J1 `pipeline.py:86`)
    + recomputed temp_avg_f (`pipeline.py:89` recomputes it; single write,
    idempotent — the reference's duplicated QC+write block at
    `pipeline.py:100-111` is deliberately NOT reproduced).

    Both sides arrive at (date, city) grain, so at scale this is a
    co-partitioned sort-merge join; with few cities the energy side is
    usually broadcastable.
    """
    joined = weather.join(energy, ["date", "city"], "inner")
    return joined.withColumn("temp_avg_f", row_avg("temp_max_f", "temp_min_f")).select(
        "date",
        "city",
        "temp_max_f",
        "temp_min_f",
        "temp_avg_f",
        "energy_demand_gwh",
    )


def write_fact(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = ("city",),
) -> None:
    """Gold sink (reference S5 `pipeline.py:96-98`): Parquet partitioned by
    city as primary (partition pruning for the dashboard's city filters),
    rows sorted by date within each partition so parquet min/max stats
    prune row groups on date-range filters; CSV-with-header kept for
    reference compatibility. Staging → swap (``replace_table``): a failed
    write leaves the previous gold readable."""
    if fmt == "csv":
        replace_table(df, path, fmt="csv")
    else:
        replace_table(df.sortWithinPartitions("date"), path, partition_by=partition_by)
