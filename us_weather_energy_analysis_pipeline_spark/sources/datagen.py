"""Spark-native synthetic fact-table generator (reference S9,
`debug_helper.py:249-345` — the de-facto fixture factory, SURVEY §5).

Seasonal-sine temperatures, U-shaped demand vs temperature, weekend
factor, deterministic injected nulls — all as column expressions over a
date-spine × cities grid: ``spark.range``-style generation scales to any
size without driver-side materialization.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.functions.scalars import row_avg
from us_weather_energy_analysis_pipeline_spark.operators.spine import date_spine
from us_weather_energy_analysis_pipeline_spark.schemas import CITIES_SCHEMA
from us_weather_energy_analysis_pipeline_spark.session import local_df

DEFAULT_CITIES = ("New York", "Chicago", "Houston", "Phoenix", "Seattle")
# Per-city (base °F, seasonal amplitude) — shaped like debug_helper.py:279-292.
CITY_CLIMATE = {
    "New York": (55.0, 25.0),
    "Chicago": (50.0, 30.0),
    "Houston": (70.0, 18.0),
    "Phoenix": (77.0, 20.0),
    "Seattle": (52.0, 15.0),
}


def generate_weather_energy(
    spark: SparkSession,
    start: dt.date | str = "2024-01-01",
    end: dt.date | str = "2024-06-28",
    cities: Sequence[str] = DEFAULT_CITIES,
    null_rate: float = 0.02,
    seed: int = 42,
) -> DataFrame:
    """Deterministic synthetic fact table at (date, city) grain.

    - temp: base + amplitude·sin(2π·(doy−100)/365) ± noise
      (`debug_helper.py:279-292`);
    - demand: 5 + 0.1·(t−65)²/10 U-shape (`debug_helper.py:301`) ×0.8
      weekend factor (`:304`);
    - ~null_rate of temp/energy cells nulled via seeded rand
      (`:311-316`).
    """
    spine = date_spine(spark, start, end)
    city_rows = [(c, *CITY_CLIMATE.get(c, (55.0, 20.0))) for c in cities]
    dims = local_df(spark, city_rows, "city string, base double, amp double")
    grid = spine.crossJoin(F.broadcast(dims))

    doy = F.dayofyear("date")
    season = F.sin((doy - 100) * 2 * 3.141592653589793 / 365.0)
    noise = (F.rand(seed) - 0.5) * 10
    t_avg = F.col("base") + F.col("amp") * season + noise
    spread = 5 + F.rand(seed + 1) * 10
    t_max = t_avg + spread / 2
    t_min = t_avg - spread / 2

    weekend = F.dayofweek("date").isin(1, 7)
    demand = (5.0 + 0.1 * F.pow(t_avg - 65.0, 2) / 10.0) * F.when(
        weekend, 0.8
    ).otherwise(1.0)

    out = grid.select(
        "date",
        "city",
        F.when(F.rand(seed + 2) < null_rate, None).otherwise(t_max).alias("temp_max_f"),
        F.when(F.rand(seed + 3) < null_rate, None).otherwise(t_min).alias("temp_min_f"),
        F.when(F.rand(seed + 4) < null_rate / 2, None)
        .otherwise(demand)
        .alias("energy_demand_gwh"),
    )
    return out.withColumn("temp_avg_f", row_avg("temp_max_f", "temp_min_f")).select(
        "date", "city", "temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh"
    )


def cities_dimension(spark: SparkSession) -> DataFrame:
    """The 5-row cities dim (reference config.example.yaml:15-45 /
    FIXTURES F4) — always the broadcast side of J2."""
    rows = [
        ("New York", "NY", "GHCND:USW00094728", "NYIS", 40.7128, -74.0060),
        ("Chicago", "IL", "GHCND:USW00094846", "PJM", 41.8781, -87.6298),
        ("Houston", "TX", "GHCND:USW00012960", "ERCO", 29.7604, -95.3698),
        ("Phoenix", "AZ", "GHCND:USW00023183", "AZPS", 33.4484, -112.0740),
        ("Seattle", "WA", "GHCND:USW00024233", "SCL", 47.6062, -122.3321),
    ]
    return local_df(spark, rows, CITIES_SCHEMA)
