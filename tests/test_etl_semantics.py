"""Reference-parity unit tests (SURVEY §5): mirrors of the reference's own
tests T1-T3 plus the semantic edges called out in SURVEY §7.3 (A2 0-vs-null,
N1 impute ordering, P10 bin edges, P9 weekday convention, O3 tie-breaks)."""

from __future__ import annotations

import datetime as dt
import math

import pytest
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.functions.scalars import (
    celsius_to_fahrenheit,
    is_saturday,
    row_avg,
    temp_range_bin,
)
from us_weather_energy_analysis_pipeline_spark.plans.etl import (
    build_fact,
    process_energy,
    process_weather,
    resolve_date_range,
)
from us_weather_energy_analysis_pipeline_spark.quality.checks import quality_report
from us_weather_energy_analysis_pipeline_spark.sources.eia import read_eia_landing
from us_weather_energy_analysis_pipeline_spark.sources.fetch import land_json, landing_path
from us_weather_energy_analysis_pipeline_spark.sources.noaa import read_noaa_landing


def _scalar(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def _land(tmp_path, kind, payloads):
    """Land {city: payload} as bronze JSON the way ``main.run_pipeline``
    does; returns the landed file list."""
    paths = []
    for city, payload in payloads.items():
        paths.append(
            landing_path(str(tmp_path), kind, city, dt.date(2024, 1, 1), dt.date(2024, 1, 31))
        )
        land_json(payload, paths[-1])
    return paths


def _noaa(spark, tmp_path, payloads):
    return read_noaa_landing(spark, _land(tmp_path, "weather", payloads))


def _eia(spark, tmp_path, payloads):
    return read_eia_landing(spark, _land(tmp_path, "energy", payloads))


class TestScalars:
    def test_celsius_to_fahrenheit_exact(self, spark):
        """Reference T1 (test_pipeline.py:9-12): 0→32, 100→212."""
        assert _scalar(spark, celsius_to_fahrenheit(F.lit(0.0))) == 32.0
        assert _scalar(spark, celsius_to_fahrenheit(F.lit(100.0))) == 212.0

    def test_row_avg_skips_missing_side(self, spark):
        """pandas mean(axis=1) skipna: (80, null) → 80, not null."""
        assert _scalar(spark, row_avg(F.lit(80.0), F.lit(None).cast("double"))) == 80.0
        assert _scalar(spark, row_avg(F.lit(80.0), F.lit(60.0))) == 70.0
        assert _scalar(
            spark, row_avg(F.lit(None).cast("double"), F.lit(None).cast("double"))
        ) is None

    def test_temp_range_bins_left_closed(self, spark):
        """P10 pd.cut(right=False): [50,60) edges; <50 → null (analysis.py
        variant, SURVEY §7.3)."""
        cases = {49.99: None, 50.0: "50-60°F", 59.99: "50-60°F", 60.0: "60-70°F",
                 89.99: "80-90°F", 90.0: "90°F+", 300.0: "90°F+"}
        for v, want in cases.items():
            assert _scalar(spark, temp_range_bin(F.lit(v))) == want, v

    def test_saturday_convention(self, spark):
        """P9: pandas dayofweek==5 ≡ Spark dayofweek==7 (2024-01-06 is Sat)."""
        assert _scalar(spark, is_saturday(F.lit("2024-01-06").cast("date"))) is True
        assert _scalar(spark, is_saturday(F.lit("2024-01-07").cast("date"))) is False


class TestWeatherPipeline:
    def test_conversion_through_pipeline(self, spark, tmp_path):
        """Reference T2 (test_pipeline.py:14-26): 2-record NOAA payload →
        °F within ±1 of 97/78, temp_avg_f present."""
        payload = {
            "results": [
                {"date": "2025-07-29T00:00:00", "datatype": "TMAX", "value": 36.1},
                {"date": "2025-07-29T00:00:00", "datatype": "TMIN", "value": 25.6},
            ]
        }
        out = process_weather(_noaa(spark, tmp_path, {"Austin": payload})).collect()
        assert len(out) == 1
        r = out[0]
        assert abs(r["temp_max_f"] - 97.0) < 1.0
        assert abs(r["temp_min_f"] - 78.1) < 1.0
        assert r["temp_avg_f"] == pytest.approx((r["temp_max_f"] + r["temp_min_f"]) / 2)

    def test_duplicate_pairs_mean_and_imputation(self, spark, tmp_path):
        """A1: duplicate (date, datatype) resolved by mean. N1: missing day
        inside the requested range imputed with the per-city mean of
        PRESENT values (computed after the spine join)."""
        payload = {
            "results": [
                {"date": "2024-01-01T00:00:00", "datatype": "TMAX", "value": 10.0},
                {"date": "2024-01-01T00:00:00", "datatype": "TMAX", "value": 20.0},
                {"date": "2024-01-01T00:00:00", "datatype": "TMIN", "value": 0.0},
                {"date": "2024-01-03T00:00:00", "datatype": "TMAX", "value": 30.0},
                {"date": "2024-01-03T00:00:00", "datatype": "TMIN", "value": 10.0},
            ]
        }
        out = {
            r["date"]: r
            for r in process_weather(
                _noaa(spark, tmp_path, {"X": payload}), "2024-01-01", "2024-01-03"
            ).collect()
        }
        assert len(out) == 3
        # duplicate TMAX 10,20 → mean 15°C → 59°F
        assert out[dt.date(2024, 1, 1)]["temp_max_f"] == pytest.approx(59.0)
        # missing Jan 2 imputed with mean of present: TMAX (59+86)/2=72.5
        assert out[dt.date(2024, 1, 2)]["temp_max_f"] == pytest.approx(72.5)
        # TMIN present values 32, 50 → mean 41
        assert out[dt.date(2024, 1, 2)]["temp_min_f"] == pytest.approx(41.0)

    def test_one_sided_day_imputes_other_side(self, spark, tmp_path):
        """A date with only TMAX gets TMIN from the city mean."""
        payload = {
            "results": [
                {"date": "2024-01-01T00:00:00", "datatype": "TMAX", "value": 10.0},
                {"date": "2024-01-02T00:00:00", "datatype": "TMAX", "value": 20.0},
                {"date": "2024-01-02T00:00:00", "datatype": "TMIN", "value": 5.0},
            ]
        }
        out = {
            r["date"]: r
            for r in process_weather(_noaa(spark, tmp_path, {"X": payload})).collect()
        }
        assert out[dt.date(2024, 1, 1)]["temp_min_f"] == pytest.approx(41.0)

    def test_empty_payload_leaves_city_out(self, spark, tmp_path):
        """A city whose NOAA payload has no results gets no weather rows,
        so it never enters the spine's key set and gold has no all-NULL
        temperature rows for it."""
        x = {
            "results": [
                {"date": "2024-01-01T00:00:00", "datatype": "TMAX", "value": 10.0},
                {"date": "2024-01-01T00:00:00", "datatype": "TMIN", "value": 0.0},
            ]
        }
        e = {"response": {"data": [{"period": "2024-01-01T00", "value": "5"}]}}
        weather = process_weather(
            _noaa(spark, tmp_path, {"X": x, "Empty": {"results": []}}),
            "2024-01-01",
            "2024-01-03",
        )
        energy = process_energy(
            _eia(spark, tmp_path, {"X": e, "Empty": e}), "2024-01-01", "2024-01-03"
        )
        got = sorted(map(tuple, build_fact(weather, energy).collect()))
        assert got == [
            (dt.date(2024, 1, 1), "X", 50.0, 32.0, 41.0, 5.0),
            (dt.date(2024, 1, 2), "X", 50.0, 32.0, 41.0, None),
            (dt.date(2024, 1, 3), "X", 50.0, 32.0, 41.0, None),
        ]

    def test_quoted_value_keeps_its_number(self, spark, tmp_path):
        """A quoted reading ("12.5") is read as 12.5 °C, not NULL."""
        payload = {
            "results": [
                {"date": "2024-01-01T00:00:00", "datatype": "TMAX", "value": "12.5"},
                {"date": "2024-01-01T00:00:00", "datatype": "TMIN", "value": 5.0},
            ]
        }
        got = process_weather(_noaa(spark, tmp_path, {"X": payload})).collect()
        assert [tuple(r) for r in got] == [(dt.date(2024, 1, 1), "X", 54.5, 41.0, 47.75)]

    def test_garbage_value_reads_as_null(self, spark, tmp_path):
        """A non-numeric reading becomes NULL (then per-city mean imputed),
        like EIA's try_cast coercion."""
        payload = {
            "results": [
                {"date": "2024-01-01T00:00:00", "datatype": "TMAX", "value": "n/a"},
                {"date": "2024-01-02T00:00:00", "datatype": "TMAX", "value": 20.0},
            ]
        }
        out = {
            r["date"]: r["temp_max_f"]
            for r in process_weather(_noaa(spark, tmp_path, {"X": payload})).collect()
        }
        assert out == {dt.date(2024, 1, 1): 68.0, dt.date(2024, 1, 2): 68.0}


class TestEnergyPipeline:
    def test_resample_zero_vs_null(self, spark, tmp_path):
        """A2 parity (SURVEY §7.3): day present-with-garbage → 0.0; day
        absent inside observed range → 0.0; day outside observed range but
        inside requested → NULL."""
        payload = {
            "response": {
                "total": 4,
                "data": [
                    {"period": "2024-01-01T00", "value": "100.5"},
                    {"period": "2024-01-01T01", "value": "99.5"},
                    {"period": "2024-01-02T00", "value": "garbage"},
                    # Jan 3 absent entirely; Jan 4 observed
                    {"period": "2024-01-04T00", "value": "50"},
                ],
            }
        }
        out = {
            r["date"]: r["energy_demand_gwh"]
            for r in process_energy(
                _eia(spark, tmp_path, {"X": payload}), "2024-01-01", "2024-01-05"
            ).collect()
        }
        assert out[dt.date(2024, 1, 1)] == pytest.approx(200.0)
        assert out[dt.date(2024, 1, 2)] == 0.0  # all-null day sums to 0.0
        assert out[dt.date(2024, 1, 3)] == 0.0  # absent day inside observed range
        assert out[dt.date(2024, 1, 4)] == pytest.approx(50.0)
        assert out[dt.date(2024, 1, 5)] is None  # outside observed range → null


class TestFactAndQuality:
    def _fact(self, spark, tmp_path):
        w = {
            "results": [
                {"date": "2024-01-01T00:00:00", "datatype": "TMAX", "value": 60.0},
                {"date": "2024-01-01T00:00:00", "datatype": "TMIN", "value": 50.0},
            ]
        }
        e = {
            "response": {
                "total": 1,
                "data": [{"period": "2024-01-01T00", "value": "-5"}],
            }
        }
        return build_fact(
            process_weather(_noaa(spark, tmp_path, {"X": w})),
            process_energy(_eia(spark, tmp_path, {"X": e})),
        )

    def test_quality_report_counts(self, spark, tmp_path):
        """Reference T3 (test_pipeline.py:28-46): outlier + negative
        counted; zero missing; custom thresholds honored."""
        fact = self._fact(spark, tmp_path)
        cfg = {"data_quality": {"temp_outlier_fahrenheit": {"max": 130, "min": -30}}}
        rep = quality_report(fact, cfg, now=dt.datetime(2024, 1, 10))
        assert rep["total_rows"] == 1
        # TMAX 60°C → 140°F > 130 → outlier
        assert rep["temp_outliers_count"] == 1
        assert rep["negative_energy_count"] == 1
        assert all(v == 0 for v in rep["missing_values"].values())
        assert rep["latest_date"] == dt.date(2024, 1, 1)
        assert rep["days_since_latest"] == 9

    def test_date_range_resolution(self):
        s, e = resolve_date_range("historical", dt.date(2024, 7, 1))
        assert (e - s).days == 179 and e == dt.date(2024, 6, 30)
        s, e = resolve_date_range("realtime", dt.date(2024, 7, 1))
        assert s == e == dt.date(2024, 6, 30)
        with pytest.raises(ValueError):
            resolve_date_range("bogus")


class TestStats:
    def test_ols_matches_closed_form(self, spark):
        import numpy as np

        from us_weather_energy_analysis_pipeline_spark.analytics.stats import (
            correlation_stats,
            prediction_frame,
        )

        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
        ys = [2.1, 4.3, 5.9, 8.2, 9.8, 12.3]
        df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
        fit = correlation_stats(df, "x", "y")
        np_slope, np_int = np.polyfit(xs, ys, 1)
        assert fit.slope == pytest.approx(np_slope)
        assert fit.intercept == pytest.approx(np_int)
        assert fit.r_squared == pytest.approx(np.corrcoef(xs, ys)[0, 1] ** 2)
        band = prediction_frame(df, "x", "y").collect()
        assert len(band) == 6
        mid = band[2]
        assert mid["mean_ci_lower"] < mid["mean"] < mid["mean_ci_upper"]
        # band is narrowest near x̄
        widths = [r["mean_ci_upper"] - r["mean_ci_lower"] for r in band]
        assert min(widths) == pytest.approx(
            min(widths[2], widths[3])
        ) and widths[0] > min(widths)

    def test_t_crit_defaults_to_exact_quantile_when_scipy_present(
        self, spark, monkeypatch
    ):
        """VERDICT r7 task 10: prediction_frame's default t becomes the
        exact scipy t.ppf(.975, n-2) when scipy is importable, with the
        asymptotic 1.959964 as the scipy-less fallback. The container has
        no scipy, so the exact path is exercised through a stub module
        (the real call is a one-arg ppf — the stub pins the call shape)."""
        import sys
        import types

        from us_weather_energy_analysis_pipeline_spark.analytics import stats
        from us_weather_energy_analysis_pipeline_spark.analytics.stats import (
            T_CRIT_95,
            prediction_frame,
            t_crit_95,
        )

        # fallback path (real container state: no scipy)
        assert "scipy" not in sys.modules
        assert t_crit_95(50) == T_CRIT_95
        assert t_crit_95(2) == T_CRIT_95  # df <= 0 guard

        calls = []

        def fake_ppf(q, df):
            calls.append((q, df))
            return 2.776445105198  # t.ppf(.975, 4) — published value

        scipy_mod = types.ModuleType("scipy")
        stats_mod = types.ModuleType("scipy.stats")
        stats_mod.t = types.SimpleNamespace(ppf=fake_ppf)
        scipy_mod.stats = stats_mod
        monkeypatch.setitem(sys.modules, "scipy", scipy_mod)
        monkeypatch.setitem(sys.modules, "scipy.stats", stats_mod)

        assert t_crit_95(6) == pytest.approx(2.776445105198)
        assert calls == [(0.975, 4)]

        # prediction_frame default resolves through t_crit_95: the band is
        # WIDER under the exact small-n t than the asymptotic constant
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
        ys = [2.1, 4.3, 5.9, 8.2, 9.8, 12.3]
        df = spark.createDataFrame(list(zip(xs, ys)), "x double, y double")
        exact = prediction_frame(df, "x", "y").collect()
        pinned = prediction_frame(df, "x", "y", t_crit=stats.T_CRIT_95).collect()
        for e, p in zip(exact, pinned):
            assert (e["mean_ci_upper"] - e["mean_ci_lower"]) > (
                p["mean_ci_upper"] - p["mean_ci_lower"]
            )
            assert e["mean"] == p["mean"]

    def test_degenerate_inputs_return_none(self, spark):
        from us_weather_energy_analysis_pipeline_spark.analytics.stats import (
            correlation_stats,
        )

        one = spark.createDataFrame([(1.0, 2.0)], "x double, y double")
        assert correlation_stats(one, "x", "y") is None
        const = spark.createDataFrame([(1.0, 2.0), (1.0, 3.0)], "x double, y double")
        assert correlation_stats(const, "x", "y") is None


class TestDatagen:
    def test_deterministic_and_shaped(self, spark):
        from us_weather_energy_analysis_pipeline_spark.sources.datagen import (
            generate_weather_energy,
        )

        a = generate_weather_energy(spark, "2024-01-01", "2024-01-31").collect()
        b = generate_weather_energy(spark, "2024-01-01", "2024-01-31").collect()
        assert len(a) == 31 * 5
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        temps = [r["temp_avg_f"] for r in a if r["temp_avg_f"] is not None]
        assert all(-30 < t < 130 for t in temps)
