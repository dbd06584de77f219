"""End-to-end pipeline test: land bronze JSON → normalize → join → QC →
partitioned sink → dashboard views over the result (the full reference
workflow, SURVEY §3.1, in one lazy DAG)."""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.main import run_pipeline
from us_weather_energy_analysis_pipeline_spark.schemas import FACT_SCHEMA


def test_pipeline_end_to_end(spark, tmp_path):
    report = run_pipeline(
        spark,
        "historical",
        str(tmp_path),
        cities=("New York", "Seattle"),
        today=dt.date(2024, 7, 1),
    )
    assert report["total_rows"] == 180 * 2
    assert report["latest_date"] == dt.date(2024, 6, 30)
    assert report["negative_energy_count"] == 0
    # injected missing days were spine-completed and mean-imputed → no nulls
    assert all(v == 0 for v in report["missing_values"].values())

    # partitioned parquet sink readable, city partition pruning applies
    fact = spark.read.parquet(str(tmp_path / "processed" / "weather_energy_parquet"))
    assert fact.count() == 360
    assert set(r["city"] for r in fact.select("city").distinct().collect()) == {
        "New York",
        "Seattle",
    }
    one_city = fact.filter(F.col("city") == "Seattle")
    assert "PartitionFilters: [isnotnull(city" in one_city._jdf.queryExecution().executedPlan().toString() or one_city.count() == 180

    # views run over the fact table
    from us_weather_energy_analysis_pipeline_spark.analytics.views import (
        latest_per_city,
        timeseries_view,
    )

    assert timeseries_view(fact).count() == 180
    latest = latest_per_city(fact).collect()
    assert len(latest) == 2
    assert all(r["date"] == dt.date(2024, 6, 30) for r in latest)


def test_realtime_mode_single_day(spark, tmp_path):
    report = run_pipeline(
        spark,
        "realtime",
        str(tmp_path),
        cities=("Phoenix",),
        today=dt.date(2024, 7, 1),
    )
    assert report["total_rows"] == 1
    assert report["latest_date"] == dt.date(2024, 6, 30)


def _gold_summary(spark, out_dir):
    """(city, rows, Σtemp_max_f, Σtemp_min_f, Σenergy) per gold city."""
    gold = spark.read.parquet(str(out_dir / "processed" / "weather_energy_parquet"))
    return sorted(
        tuple(r)
        for r in gold.groupBy("city").agg(
            F.count(F.lit(1)),
            F.round(F.sum("temp_max_f"), 6),
            F.round(F.sum("temp_min_f"), 6),
            F.round(F.sum("energy_demand_gwh"), 6),
        ).collect()
    )


def test_city_names_round_trip_through_landing(spark, tmp_path):
    """Cities with spaces, accents, ``+``, ``%`` and quotes come back from
    the landed file names unchanged; the expected gold was computed by
    the in-memory ingestion this pipeline replaced."""
    names = ("New York", "São Paulo", "A+B%C", "Coeur d'Alene")
    run_pipeline(spark, "historical", str(tmp_path), cities=names, today=dt.date(2024, 7, 1))
    assert _gold_summary(spark, tmp_path) == [
        ("A+B%C", 180, 11608.2, 9016.2, 1848960.0),
        ("Coeur d'Alene", 180, 11266.324138, 8674.324138, 1797120.0),
        ("New York", 180, 10626.331034, 8034.331034, 1732320.0),
        ("São Paulo", 180, 9985.406897, 7393.406897, 1797120.0),
    ]


def test_rerun_into_same_out_reads_only_its_own_landing(spark, tmp_path):
    """A second run with other cities on the same dates leaves the first
    run's bronze files in raw/ but ingests only the files it landed."""
    today = dt.date(2024, 7, 1)
    run_pipeline(spark, "historical", str(tmp_path), cities=("Chicago", "Houston"), today=today)
    report = run_pipeline(
        spark, "historical", str(tmp_path), cities=("Phoenix", "Seattle"), today=today
    )
    assert len(list((tmp_path / "raw").glob("*.json"))) == 8
    assert report["total_rows"] == 360
    assert _gold_summary(spark, tmp_path) == [
        ("Phoenix", 180, 10964.668966, 8372.668966, 1861920.0),
        ("Seattle", 180, 10303.634483, 7711.634483, 1823040.0),
    ]


def test_csv_header_is_fact_column_order(spark, tmp_path):
    """The CSV is derived from gold, whose read puts the partition column
    last; its header must still be the fact's column order."""
    run_pipeline(spark, "realtime", str(tmp_path), cities=("Phoenix", "Seattle"),
                 today=dt.date(2024, 7, 1))
    parts = (tmp_path / "processed" / "weather_energy_csv").glob("part-*.csv")
    headers = {p.read_text().split("\n", 1)[0] for p in parts if p.stat().st_size}
    assert headers == {",".join(FACT_SCHEMA.names)}
    csv = spark.read.option("header", True).csv(str(tmp_path / "processed" / "weather_energy_csv"))
    assert csv.count() == 2


def test_cli_realtime_prints_json_report(tmp_path):
    """``python -m ...main realtime`` runs the pipeline in its own JVM,
    prints the QC report as real JSON (``missing_values`` an object, not
    a repr string) and writes both gold sinks under ``--out``."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [repo, env.get("PYTHONPATH")]))
    proc = subprocess.run(
        [sys.executable, "-m", "us_weather_energy_analysis_pipeline_spark.main",
         "realtime", "--out", str(tmp_path)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads(proc.stdout)
    assert set(report) >= {
        "total_rows", "missing_values", "temp_outliers_count",
        "negative_energy_count", "latest_date", "days_since_latest",
    }
    # realtime runs on yesterday, so the counts depend on the date; the
    # shape does not
    missing = report["missing_values"]
    assert set(missing) == {"temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh"}
    assert all(isinstance(v, int) for v in missing.values()), missing
    assert (tmp_path / "processed" / "weather_energy_parquet").is_dir()
    assert (tmp_path / "processed" / "weather_energy_csv").is_dir()
