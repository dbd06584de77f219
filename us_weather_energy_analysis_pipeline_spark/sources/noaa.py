"""NOAA GHCND weather source (reference S2/S4/S8, `data_fetcher.py:24-55`).

Ingestion pattern: land the raw JSON payload verbatim per (city, range)
into a bronze zone (the reference does the same at `data_fetcher.py:50-53`),
then schema-on-read with the pinned NOAA_RAW_SCHEMA and ``explode`` the
EAV records — the flatten the reference does row-by-row in Python
(`data_processor.py:30-40`) becomes one generator expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.schemas import NOAA_RAW_SCHEMA
from us_weather_energy_analysis_pipeline_spark.sources.fetch import city_from_landing_path


def read_noaa_landing(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Read landed NOAA JSON file(s) → one row per (date, datatype)
    observation: (date_str, datatype, value_c, city), city taken from each
    file's ``landing_path`` name (reference `data_processor.py:30-42`).

    Station/attributes are dropped, as the reference drops them. An empty
    payload yields no rows, so its city never reaches the date spine.
    ``value`` is read as text and ``try_cast``: quoted numbers keep their
    value, garbage becomes NULL.
    """
    raw = spark.read.schema(NOAA_RAW_SCHEMA).json(paths)
    rows = raw.select(
        F.explode("results").alias("r"), city_from_landing_path().alias("city")
    )
    return rows.select(
        F.col("r.date").alias("date_str"),
        F.col("r.datatype").alias("datatype"),
        F.expr("try_cast(r.value as double)").alias("value_c"),
        "city",
    )
