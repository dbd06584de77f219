"""Dashboard-view tests over the synthetic fact table (reference §3.2
views 2-7 as DataFrame plans)."""

from __future__ import annotations

import datetime as dt
import gc
import math
import time

import pytest
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.analytics.views import (
    DAY_ORDER,
    filter_view,
    heatmap_view,
    latest_per_city,
    timeseries_view,
    weekend_spans,
)
from us_weather_energy_analysis_pipeline_spark.quality.checks import (
    problem_rows,
    quality_timeseries,
)
from us_weather_energy_analysis_pipeline_spark.sources.datagen import (
    cities_dimension,
    generate_weather_energy,
)


@pytest.fixture(scope="module")
def fact(spark):
    df = generate_weather_energy(spark, "2024-01-01", "2024-03-31").cache()
    df.count()
    yield df
    df.unpersist()


def test_filter_view(fact):
    out = filter_view(fact, "2024-02-01", "2024-02-29", ["Chicago", "Seattle"])
    rows = out.select("city", "date").collect()
    assert {r["city"] for r in rows} == {"Chicago", "Seattle"}
    assert all(dt.date(2024, 2, 1) <= r["date"] <= dt.date(2024, 2, 29) for r in rows)
    assert len(rows) == 29 * 2


def test_latest_per_city_with_dim(spark, fact):
    out = latest_per_city(fact, cities_dimension(spark)).collect()
    assert len(out) == 5
    for r in out:
        assert r["date"] == dt.date(2024, 3, 31)
        assert r["lat"] is not None and r["lon"] is not None
        assert r["energy_pct_change"] is not None


def test_timeseries_all_cities_rollup(fact):
    out = timeseries_view(fact).collect()
    assert len(out) == 91  # one row per day
    # spot-check one day against a manual aggregate
    day = dt.date(2024, 1, 15)
    manual = (
        fact.filter(F.col("date") == day)
        .agg(F.avg("temp_avg_f"), F.sum("energy_demand_gwh"))
        .collect()[0]
    )
    got = next(r for r in out if r["date"] == day)
    assert got["temp_avg_f"] == pytest.approx(manual[0])
    assert got["energy_demand_gwh"] == pytest.approx(manual[1])


def test_timeseries_differenced(fact):
    plain = timeseries_view(fact, city="Phoenix").orderBy("date").collect()
    diffed = timeseries_view(fact, city="Phoenix", differenced=True).orderBy(
        "date"
    ).collect()
    assert len(diffed) == len(plain) - 1
    assert diffed[0]["temp_avg_f"] == pytest.approx(
        plain[1]["temp_avg_f"] - plain[0]["temp_avg_f"]
    )


def test_heatmap_shape_and_fill(fact):
    # Phoenix: warm enough that temps land inside the canonical [50,90+)
    # bins — sub-50 rows dropping out (null bin) is the analysis.py
    # semantic, tested in test_etl_semantics.
    out = heatmap_view(fact, city="Phoenix")
    assert out.columns == ["temp_range", *DAY_ORDER]
    rows = out.collect()
    assert 1 <= len(rows) <= 5
    for r in rows:
        for d in DAY_ORDER:
            assert r[d] is not None  # empty cells filled 0


def test_weekend_spans(fact):
    spans = weekend_spans(fact).collect()
    assert all((r["span_end"] - r["span_start"]).days == 2 for r in spans)
    assert all(r["span_start"].weekday() == 5 for r in spans)  # pandas Sat=5


def test_quality_timeseries_and_problems(fact):
    ts = quality_timeseries(fact)
    assert ts.count() == 91
    total_missing = ts.agg(F.sum("missing_count")).collect()[0][0]
    manual_missing = fact.filter(
        F.col("temp_max_f").isNull()
        | F.col("temp_min_f").isNull()
        | F.col("temp_avg_f").isNull()
        | F.col("energy_demand_gwh").isNull()
    ).count()
    assert total_missing == manual_missing
    probs = problem_rows(fact, limit=10)
    assert probs.count() <= 10


def _lazy_filter(df, start, end, cities):
    """The page filter as a plain lazy plan: every chart re-reads gold."""
    out = df.filter((F.col("date") >= F.lit(start).cast("date")) & (F.col("date") <= F.lit(end).cast("date")))
    return out if cities is None else out.filter(F.col("city").isin(*cities))


def _rows(out):
    """A chart's result as sorted row tuples (dicts and None as they are)."""
    if out is None or isinstance(out, dict):
        return out
    rows = [tuple(r) for r in out.collect()]
    return sorted(rows, key=lambda r: tuple((v is None, 0 if v is None else v) for v in r))


def _same(a, b) -> bool:
    """Equal, with floats within rel 1e-9: one partition may sum in
    another order than the lazy plan's tasks."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-9)
    if isinstance(a, dict) and isinstance(b, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


@pytest.mark.parametrize("cities", [["Chicago", "Phoenix", "Elmton"], None], ids=["subset", "all"])
def test_page_frame_charts_match_lazy_filter(spark, page_gold, page_charts, cities):
    """Every chart over the page frame equals the same chart over the
    lazy filter plan."""
    gold = spark.read.parquet(page_gold)
    page = filter_view(gold, "2024-01-10", "2024-03-20", cities)
    lazy = _lazy_filter(gold, "2024-01-10", "2024-03-20", cities)
    assert page.rdd.getNumPartitions() == 1
    for name, chart in page_charts("Phoenix"):
        got, want = _rows(chart(page)), _rows(chart(lazy))
        assert want, name
        assert _same(got, want), name


def test_empty_city_selection_gives_empty_page(spark, page_gold, page_charts):
    """An empty multiselect filters every city out (reference
    ``city.isin(selected)``); ``None`` is the no-filter default. Every chart
    still runs on the empty page."""
    page = filter_view(spark.read.parquet(page_gold), "2024-01-01", "2024-03-31", [])
    for name, chart in page_charts("Chicago"):
        out = chart(page)
        if name == "quality_report":
            assert out["total_rows"] == 0
        elif name == "ols":
            assert out is None
        else:
            assert out.count() == 0, name


def test_page_frames_are_freed(spark, page_gold):
    """Page frames do not pile up in a long dashboard session: once a
    frame is unreachable its checkpoint blocks are released."""
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    gold = spark.read.parquet(page_gold)
    for i in range(24):
        filter_view(gold, "2024-01-01", f"2024-01-{i + 2:02d}", ["Chicago"])
    gc.collect()
    spark._jvm.System.gc()
    deadline = time.monotonic() + 10
    while jsc.getPersistentRDDs().size() - before >= 24 and time.monotonic() < deadline:
        time.sleep(0.2)
    assert jsc.getPersistentRDDs().size() - before < 24
