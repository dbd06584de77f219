"""bench.py's per-query measurement: the layers cover the run, caches
are released after every run, the accounting adds no Spark jobs, and
DuckDB is timed exactly when the query has an oracle."""

from __future__ import annotations

import dataclasses

import pytest

import bench
from perfbench.spans import SparkAccount
from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
    REGISTRY,
    _ensure_loaded,
)
from us_weather_energy_analysis_pipeline_spark.operators import cache

_ensure_loaded()


@pytest.mark.parametrize(
    "name, with_oracle",
    [
        ("tpch_q1_pricing_summary", False),
        # builds with a driver-side approxQuantile probe: jobs at build time
        ("quantiles_exact", True),
    ],
)
def test_measure_query_layers(spark, duck, sf_dir, monkeypatch, name, with_oracle):
    q = REGISTRY[name]
    if not with_oracle:
        q = dataclasses.replace(q, oracle=None)
    acct = SparkAccount(spark)
    releases = []
    release_all = cache.release_all
    monkeypatch.setattr(cache, "release_all", lambda: releases.append(release_all()))
    rec = bench.measure_query(spark, acct, duck, sf_dir, q)
    monkeypatch.undo()

    assert len(releases) == bench.RUNS
    assert rec["build_s"] + rec["exec_s"] == pytest.approx(rec["wall_s"], rel=0.05)
    assert 0 <= rec["build_jobs"] <= rec["jobs"]
    if name == "quantiles_exact":
        assert rec["build_jobs"] >= 1
    assert (rec["duckdb_s"] is not None) == with_oracle

    sc = spark.sparkContext
    group = f"test-bench-plain-{name}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        q.spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        cache.release_all()
    assert rec["jobs"] == acct.read(group)["jobs"]


def test_shuffled_order_is_deterministic_and_complete():
    names = [f"q{i}" for i in range(40)]
    a = bench.shuffled_order(names)
    assert a == bench.shuffled_order(names)
    assert sorted(a) == sorted(names) and a != sorted(names)
