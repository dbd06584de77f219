"""Explicit schemas — schema-on-read, never inference (SURVEY §1).

The reference lets pandas infer everything from JSON/CSV; at scale,
inference is a full extra pass and a correctness hazard. Every boundary
here has a pinned StructType.
"""

from __future__ import annotations

from pyspark.sql import types as T

# NOAA GHCND daily response (reference data_fetcher.py:24-55, FIXTURES F1):
# {"results": [{"date": "2025-07-29T00:00:00", "datatype": "TMAX",
#               "value": 36.1, "station": "...", "attributes": "..."}]}
# `value` is read as a STRING and try_cast by the reader, so a quoted
# number ("12.5") keeps its value instead of reading as NULL.
NOAA_RAW_SCHEMA = T.StructType(
    [
        T.StructField(
            "results",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("date", T.StringType()),
                        T.StructField("datatype", T.StringType()),
                        T.StructField("value", T.StringType()),
                        T.StructField("station", T.StringType()),
                        T.StructField("attributes", T.StringType()),
                    ]
                )
            ),
        ),
    ]
)

# EIA hourly demand response (reference data_fetcher.py:57-125, FIXTURES F2):
# {"response": {"total": N, "data": [{"period": "2025-07-29T00",
#                                     "value": "512.3", "respondent": "..."}]}}
# `value` is a STRING on purpose — the reference coerces with
# pd.to_numeric(errors='coerce') (data_processor.py:76) → try_cast here.
EIA_RAW_SCHEMA = T.StructType(
    [
        T.StructField(
            "response",
            T.StructType(
                [
                    T.StructField("total", T.LongType()),
                    T.StructField(
                        "data",
                        T.ArrayType(
                            T.StructType(
                                [
                                    T.StructField("period", T.StringType()),
                                    T.StructField("value", T.StringType()),
                                    T.StructField("respondent", T.StringType()),
                                    T.StructField("type", T.StringType()),
                                ]
                            )
                        ),
                    ),
                ]
            ),
        ),
    ]
)

# Canonical fact table (reference pipeline.py:96-98, SURVEY §1.1).
FACT_SCHEMA = T.StructType(
    [
        T.StructField("date", T.DateType()),
        T.StructField("city", T.StringType()),
        T.StructField("temp_max_f", T.DoubleType()),
        T.StructField("temp_min_f", T.DoubleType()),
        T.StructField("temp_avg_f", T.DoubleType()),
        T.StructField("energy_demand_gwh", T.DoubleType()),
    ]
)

# Cities dimension (reference config.example.yaml:15-45, FIXTURES F4).
CITIES_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("state", T.StringType()),
        T.StructField("noaa_station_id", T.StringType()),
        T.StructField("eia_region_code", T.StringType()),
        T.StructField("lat", T.DoubleType()),
        T.StructField("lon", T.DoubleType()),
    ]
)

DEFAULT_QUALITY_CONFIG: dict = {
    "data_quality": {"temp_outlier_fahrenheit": {"max": 130, "min": -50}}
}
