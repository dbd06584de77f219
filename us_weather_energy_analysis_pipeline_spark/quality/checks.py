"""Quality checks over the canonical fact table.

The reference computes null counts, outlier counts and freshness in
separate pandas passes (`data_processor.py:87-112`); here the whole report
is ONE aggregation pass — at 100 TB that is a single scan + a one-row
reduce, and every count is a conditional sum pushed into the same
whole-stage-codegen span.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.schemas import DEFAULT_QUALITY_CONFIG

MEASURES = ("temp_max_f", "temp_min_f", "temp_avg_f", "energy_demand_gwh")


def _thresholds(config: dict | None) -> tuple[float, float]:
    cfg = config or DEFAULT_QUALITY_CONFIG
    t = cfg.get("data_quality", {}).get("temp_outlier_fahrenheit", {})
    return float(t.get("max", 130)), float(t.get("min", -50))


def _outlier_pred(tmax: float, tmin: float):
    """(temp_max_f > max) | (temp_min_f < min) (reference F3
    `data_processor.py:95-97`); null-safe → false (N3)."""
    return F.coalesce(
        (F.col("temp_max_f") > tmax) | (F.col("temp_min_f") < tmin), F.lit(False)
    )


def _flags(config: dict | None, cols: list[str]):
    """The three row checks, built once for every consumer: (any-null
    measure over ``cols`` (F5), temp outlier (F3), negative energy (F4)),
    each null-safe → false."""
    any_null = F.lit(False)
    for c in cols:
        any_null = any_null | F.col(c).isNull()
    negative = F.coalesce(F.col("energy_demand_gwh") < 0, F.lit(False))
    return any_null, _outlier_pred(*_thresholds(config)), negative


def quality_report(
    df: DataFrame,
    config: dict | None = None,
    now: dt.datetime | None = None,
) -> dict:
    """Single-pass QC report (reference `run_quality_checks`
    data_processor.py:87-112): per-column null counts (A8), temp-outlier
    count (F3/A9), negative-energy count (F4/A9), freshness (A10).

    Returns a plain dict (one collected row) — the report is driver-side
    by nature; the scan is fully distributed.
    """
    cols = [c for c in MEASURES if c in df.columns]
    _, outlier, negative = _flags(config, cols)
    aggs = [
        F.count(F.lit(1)).alias("total_rows"),
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"missing__{c}") for c in cols],
        F.sum(outlier.cast("long")).alias("temp_outliers_count"),
        F.sum(negative.cast("long")).alias("negative_energy_count"),
        F.max("date").alias("latest_date"),
    ]
    row = df.agg(*aggs).collect()[0].asDict()
    latest = row.pop("latest_date")
    report = {
        "total_rows": row.pop("total_rows"),
        "missing_values": {c: row[f"missing__{c}"] for c in cols},
        "temp_outliers_count": row["temp_outliers_count"],
        "negative_energy_count": row["negative_energy_count"],
        "latest_date": latest,
    }
    if latest is not None:
        now = now or dt.datetime.now()
        latest_d = latest if isinstance(latest, dt.date) else latest.date()
        report["days_since_latest"] = (now.date() - latest_d).days
    return report


def problem_rows(df: DataFrame, config: dict | None = None, limit: int = 50) -> DataFrame:
    """Rows failing any check: any-null measure (F5) OR temp outlier (F3)
    OR negative energy (F4), deterministic order, head(limit) (reference
    `app.py:552-559`)."""
    any_null, outlier, negative = _flags(config, [c for c in MEASURES if c in df.columns])
    return df.filter(any_null | outlier | negative).orderBy("date", "city").limit(limit)


def quality_timeseries(df: DataFrame, config: dict | None = None) -> DataFrame:
    """Per-day rollup of missing/outlier/negative flags (reference A7
    `compute_quality_timeseries` app.py:453-468)."""
    any_null, outlier, negative = _flags(config, [c for c in MEASURES if c in df.columns])
    return df.groupBy("date").agg(
        F.sum(any_null.cast("long")).alias("missing_count"),
        F.sum(outlier.cast("long")).alias("outlier_count"),
        F.sum(negative.cast("long")).alias("negative_count"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def is_stale(df: DataFrame, hours: float = 24.0, now: dt.datetime | None = None) -> bool:
    """Staleness check driving the auto-rerun decision (reference
    `app.py:117-142,869-878`): true when the latest date in the table is
    older than ``hours``. One max() aggregate — a metadata-cheap probe."""
    latest = df.agg(F.max("date").alias("m")).collect()[0]["m"]
    if latest is None:
        return True
    now = now or dt.datetime.now()
    latest_dt = (
        dt.datetime.combine(latest, dt.time.min)
        if isinstance(latest, dt.date) and not isinstance(latest, dt.datetime)
        else latest
    )
    return (now - latest_dt).total_seconds() > hours * 3600
