"""Source/sink layer tests: JSON landing round-trips with pinned schemas,
multi-page and malformed landings, CSV/parquet sinks. Payloads land
through ``land_json``; there is no HTTP fetcher (the landing zone is the
interface)."""

from __future__ import annotations

import datetime as dt

from us_weather_energy_analysis_pipeline_spark.sources.eia import read_eia_landing
from us_weather_energy_analysis_pipeline_spark.sources.fetch import land_json, landing_path
from us_weather_energy_analysis_pipeline_spark.sources.noaa import read_noaa_landing

NOAA_PAYLOAD = {
    "results": [
        {"date": "2025-07-29T00:00:00", "datatype": "TMAX", "value": 36.1,
         "station": "GHCND:X", "attributes": ",,W"},
        {"date": "2025-07-29T00:00:00", "datatype": "TMIN", "value": 25.6},
    ]
}
EIA_PAYLOAD = {
    "response": {
        "total": 2,
        "data": [
            {"period": "2025-07-29T00", "value": "512.3", "respondent": "NYIS"},
            {"period": "2025-07-29T01", "value": "490.1"},
        ],
    }
}


START, END = dt.date(2025, 7, 1), dt.date(2025, 7, 31)


def test_noaa_landing_roundtrip(spark, tmp_path):
    """S4 land → S2 read with pinned schema → exploded EAV rows, city
    from the landed file name."""
    path = landing_path(str(tmp_path), "weather", "New York", START, END)
    land_json(NOAA_PAYLOAD, path)
    rows = read_noaa_landing(spark, path).collect()
    assert len(rows) == 2
    assert {r["datatype"] for r in rows} == {"TMAX", "TMIN"}
    assert all(r["city"] == "New York" for r in rows)
    assert rows[0]["date_str"].startswith("2025-07-29")


def test_eia_landing_roundtrip(spark, tmp_path):
    path = landing_path(str(tmp_path), "energy", "New York", START, END)
    land_json(EIA_PAYLOAD, path)
    rows = read_eia_landing(spark, path).collect()
    assert len(rows) == 2
    assert rows[0]["value_str"] == "512.3"  # stays string until transform
    assert all(r["city"] == "New York" for r in rows)


def test_write_fact_roundtrip(spark, tmp_path):
    """S5 sink + S6 explicit-schema read-back, parquet (partitioned) and CSV."""
    from us_weather_energy_analysis_pipeline_spark.plans.etl import write_fact
    from us_weather_energy_analysis_pipeline_spark.schemas import FACT_SCHEMA
    from us_weather_energy_analysis_pipeline_spark.sources.datagen import (
        generate_weather_energy,
    )

    fact = generate_weather_energy(spark, "2024-01-01", "2024-01-10")
    pq = str(tmp_path / "fact_pq")
    write_fact(fact, pq)
    back = spark.read.parquet(pq)
    assert back.count() == fact.count()
    assert set(back.columns) == set(fact.columns)

    csv = str(tmp_path / "fact_csv")
    write_fact(fact, csv, fmt="csv")
    back_csv = spark.read.option("header", True).schema(FACT_SCHEMA).csv(csv)
    assert back_csv.count() == fact.count()
    assert dict(back_csv.dtypes)["date"] == "date"


def test_malformed_landing_payloads(spark, tmp_path):
    """Landing resilience: payloads missing keys / wrong shapes produce
    empty frames (schema-on-read with explode), never crashes."""
    cases = {
        "empty.json": {},
        "no_results.json": {"unexpected": 1},
        "null_results.json": {"results": None},
        "eia_empty.json": {"response": {}},
    }
    for fname, payload in cases.items():
        path = str(tmp_path / fname)
        land_json(payload, path)
        if fname.startswith("eia"):
            rows = read_eia_landing(spark, path).collect()
        else:
            rows = read_noaa_landing(spark, path).collect()
        # explode on a missing array gives zero rows, so the payload's
        # city never reaches the date spine
        assert rows == []


class TestRecordedCassette:
    """Recorded-fixture ("cassette") landing: canned multi-page EIA JSON
    in the reference's page shape (data_fetcher.py:69-121 — offset pages
    sorted asc by period) and a NOAA payload, landed verbatim and read
    back in-engine. Asserts page stitching (every row exactly once, order
    re-imposed) and the NOAA values through the reader's cast."""

    TOTAL, PAGE = 12, 5

    def _cassette(self):
        periods = [f"2025-07-0{1 + h // 24}T{h % 24:02d}" for h in range(self.TOTAL)]
        pages = [
            {
                "response": {
                    "total": self.TOTAL,
                    "data": [
                        {"period": p, "value": str(500 + i), "respondent": "NYIS"}
                        for i, p in enumerate(
                            periods[off : off + self.PAGE], start=off
                        )
                    ],
                }
            }
            for off in range(0, self.TOTAL, self.PAGE)
        ]
        return periods, pages

    def test_eia_pagination_stitching(self, spark, tmp_path):
        periods, pages = self._cassette()
        # land each page verbatim, then stitch in-engine
        for i, p in enumerate(pages):
            land_json(p, str(tmp_path / f"eia_page_{i}.json"))
        stitched = read_eia_landing(spark, str(tmp_path / "eia_page_*.json"))
        rows = stitched.orderBy("period_str").collect()
        assert [r["period_str"] for r in rows] == sorted(periods)
        assert {r["value_str"] for r in rows} == {str(500 + i)
                                                  for i in range(self.TOTAL)}

    def test_noaa_cassette_through_transform(self, spark, tmp_path):
        land_json(NOAA_PAYLOAD, str(tmp_path / "noaa.json"))
        landed = read_noaa_landing(spark, str(tmp_path / "noaa.json"))
        got = {(r["datatype"], r["value_c"]) for r in landed.collect()}
        assert got == {("TMAX", 36.1), ("TMIN", 25.6)}
