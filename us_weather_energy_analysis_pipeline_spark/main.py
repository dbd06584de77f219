"""CLI entry — parity with the reference's ``python main.py
{historical|realtime}`` (reference `main.py:40-55`).

The reference fetches NOAA/EIA over HTTP (`data_fetcher.py:8-125`); this
port has no fetcher, because the bronze landing zone is its interface.
The raw payloads are synthesized deterministically in the FIXTURES F1/F2
shapes and landed as bronze JSON, one file per (kind, city). The run then
reads back exactly the files it landed, with city taken from each file
name, and runs one read→transform→join plan. Gold parquet is written
once; the QC report and the CSV both come from reading that gold back, so
the fact plan is evaluated once. The QC report is printed as JSON.

Usage:
    python -m us_weather_energy_analysis_pipeline_spark.main historical \
        --out /tmp/weather_energy
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import logging
import math
import os

from us_weather_energy_analysis_pipeline_spark.plans.etl import (
    build_fact,
    process_energy,
    process_weather,
    resolve_date_range,
    write_fact,
)
from us_weather_energy_analysis_pipeline_spark.quality.checks import quality_report
from us_weather_energy_analysis_pipeline_spark.schemas import FACT_SCHEMA
from us_weather_energy_analysis_pipeline_spark.sources.datagen import DEFAULT_CITIES
from us_weather_energy_analysis_pipeline_spark.sources.eia import read_eia_landing
from us_weather_energy_analysis_pipeline_spark.sources.fetch import land_json, landing_path
from us_weather_energy_analysis_pipeline_spark.sources.noaa import read_noaa_landing

log = logging.getLogger("pipeline")


def synth_noaa_payload(city: str, start: dt.date, end: dt.date) -> dict:
    """Deterministic FIXTURES-F1-shaped payload (synthetic fetch stand-in)."""
    results = []
    d = start
    seed = sum(ord(c) for c in city)
    while d <= end:
        doy = d.timetuple().tm_yday
        base = 10 + 12 * math.sin((doy - 100) * 2 * math.pi / 365) + seed % 7
        # inject a missing day per ~30 days to exercise the spine join
        if (d.toordinal() + seed) % 30 != 0:
            results.append(
                {"date": f"{d}T00:00:00", "datatype": "TMAX", "value": round(base + 4, 1)}
            )
            results.append(
                {"date": f"{d}T00:00:00", "datatype": "TMIN", "value": round(base - 4, 1)}
            )
        d += dt.timedelta(days=1)
    return {"results": results}


def synth_eia_payload(city: str, start: dt.date, end: dt.date) -> dict:
    data = []
    seed = sum(ord(c) for c in city)
    d = start
    while d <= end:
        for h in range(24):
            v = 400 + seed % 50 + 80 * math.sin((h - 6) * math.pi / 12)
            data.append({"period": f"{d}T{h:02d}", "value": f"{v:.1f}"})
        d += dt.timedelta(days=1)
    return {"response": {"total": len(data), "data": data}}


def run_pipeline(
    spark,
    mode: str,
    out_dir: str,
    cities=DEFAULT_CITIES,
    today: dt.date | None = None,
) -> dict:
    """The reference pipeline (`pipeline.py:11-111`) as one lazy DAG:
    land bronze → read back exactly those files → normalize weather+energy
    (all cities, one plan each) → inner join → gold parquet, written once →
    QC and CSV over that gold. Returns the QC report."""
    start, end = resolve_date_range(mode, today)
    raw_dir = os.path.join(out_dir, "raw")
    os.makedirs(raw_dir, exist_ok=True)

    weather_files = [landing_path(raw_dir, "weather", c, start, end) for c in cities]
    energy_files = [landing_path(raw_dir, "energy", c, start, end) for c in cities]
    for city, w, e in zip(cities, weather_files, energy_files):
        land_json(synth_noaa_payload(city, start, end), w)
        land_json(synth_eia_payload(city, start, end), e)
    log.info("landed raw payloads for %d cities (%s..%s)", len(cities), start, end)

    weather = process_weather(read_noaa_landing(spark, weather_files), start, end)
    energy = process_energy(read_eia_landing(spark, energy_files), start, end)
    gold_path = os.path.join(out_dir, "processed", "weather_energy_parquet")
    write_fact(build_fact(weather, energy), gold_path)

    # the read puts the partition column last; select restores fact order
    gold = spark.read.schema(FACT_SCHEMA).parquet(gold_path).select(*FACT_SCHEMA.names)
    report = quality_report(gold)
    write_fact(gold, os.path.join(out_dir, "processed", "weather_energy_csv"), fmt="csv")
    log.info("quality report: %s", report)
    return report


def main() -> None:
    parser = argparse.ArgumentParser(description="weather+energy ETL (Spark)")
    parser.add_argument("mode", choices=["historical", "realtime"])
    parser.add_argument("--out", default="data")
    args = parser.parse_args()
    logging.basicConfig(
        level=logging.INFO, format="%(asctime)s %(name)s %(levelname)s %(message)s"
    )

    from us_weather_energy_analysis_pipeline_spark.session import get_spark

    spark = get_spark("weather-energy-pipeline")
    report = run_pipeline(spark, args.mode, args.out)
    print(json.dumps(report, indent=2, default=str))
    spark.stop()


if __name__ == "__main__":
    main()
