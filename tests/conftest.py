from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from us_weather_energy_analysis_pipeline_spark.session import get_spark
from us_weather_energy_analysis_pipeline_spark.testing import register_views

# Small sf for fast unit runs; the driver's gate runs sf0.01.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(
        "pytest",
        master="local[4]",
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    register_views(con, SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# Dim cities plus two names outside the 5-row city dim, like the
# benchmark's seeded names: a page of only the latter folds the dim join
# away at plan time.
PAGE_CITIES = ("New York", "Chicago", "Houston", "Phoenix", "Seattle", "Elmton", "Ashford")


@pytest.fixture(scope="session")
def page_gold(spark, tmp_path_factory) -> str:
    """A small gold table written the way the ETL writes it."""
    from us_weather_energy_analysis_pipeline_spark.plans.etl import write_fact
    from us_weather_energy_analysis_pipeline_spark.sources.datagen import (
        generate_weather_energy,
    )

    path = str(tmp_path_factory.mktemp("page") / "gold")
    write_fact(generate_weather_energy(spark, "2024-01-01", "2024-03-31", PAGE_CITIES), path)
    return path


@pytest.fixture(scope="session")
def page_charts(spark):
    """``charts(diff_city)`` → the dashboard page's ten charts as
    ``(name, chart)`` pairs, ``chart(frame)`` returning a DataFrame, a dict
    or None — the charts the benchmark page requests, in its order."""
    from us_weather_energy_analysis_pipeline_spark.analytics import views as V
    from us_weather_energy_analysis_pipeline_spark.analytics.stats import prediction_frame
    from us_weather_energy_analysis_pipeline_spark.quality import checks as Q
    from us_weather_energy_analysis_pipeline_spark.sources.datagen import cities_dimension

    def charts(diff_city: str):
        return [
            ("filter", lambda f: f),
            ("timeseries", V.timeseries_view),
            ("timeseries_diff", lambda f: V.timeseries_view(f, city=diff_city, differenced=True)),
            ("heatmap", V.heatmap_view),
            ("latest", lambda f: V.latest_per_city(f, cities_dimension(spark))),
            ("weekend", V.weekend_spans),
            ("ols", lambda f: prediction_frame(f, "temp_avg_f", "energy_demand_gwh")),
            ("quality_report", Q.quality_report),
            ("problem_rows", Q.problem_rows),
            ("quality_timeseries", Q.quality_timeseries),
        ]

    return charts
