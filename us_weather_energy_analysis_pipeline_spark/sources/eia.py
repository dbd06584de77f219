"""EIA hourly-demand source (reference S3, `data_fetcher.py:57-125`).

Same landing pattern as NOAA: raw paginated JSON pages land verbatim;
schema-on-read explodes ``response.data``. The server-side pagination /
sort (`data_fetcher.py:94-119`) is ingestion plumbing — ordering is
re-imposed in-engine, never assumed from the source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.schemas import EIA_RAW_SCHEMA
from us_weather_energy_analysis_pipeline_spark.sources.fetch import city_from_landing_path


def read_eia_landing(spark: SparkSession, paths: str | list[str]) -> DataFrame:
    """Read landed EIA JSON page(s) → one row per hourly reading:
    (period_str, value_str, city), city taken from each file's
    ``landing_path`` name (reference `data_processor.py:66-76`).

    ``value`` stays a string here; the numeric coercion (null-on-garbage)
    happens in the transform so the semantics live in one place.
    """
    raw = spark.read.schema(EIA_RAW_SCHEMA).json(paths)
    rows = raw.select(
        F.explode("response.data").alias("r"), city_from_landing_path().alias("city")
    )
    return rows.select(
        F.col("r.period").alias("period_str"),
        F.col("r.value").alias("value_str"),
        "city",
    )
