"""Every corpus query must match its DuckDB oracle (the driver's gate,
replicated at small sf for speed)."""

from __future__ import annotations

import pytest

from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
    REGISTRY,
    _ensure_loaded,
)
from us_weather_energy_analysis_pipeline_spark.testing import diff_report

_ensure_loaded()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    from us_weather_energy_analysis_pipeline_spark.operators import cache

    q = REGISTRY[name]
    try:
        sdf = q.spark_fn(spark, sf_dir).toPandas()
    finally:
        # release on every path: a query that raises must not leak its
        # operator persists into the later parametrized cases
        cache.release_all()
    if q.oracle is None:
        # rows-only contract: must run and return a stable schema
        assert sdf is not None
        return
    odf = duck.execute(q.oracle).fetchdf()
    msg = diff_report(sdf, odf)
    assert msg is None, f"{name}: {msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_registry_complete_149():
    from us_weather_energy_analysis_pipeline_spark.corpus import registry

    assert len(registry.queries()) >= 149


def test_every_query_has_docstring_and_tags():
    for name, q in REGISTRY.items():
        assert q.doc.strip(), f"{name} missing docstring"


def test_register_corpus_views_sql_surface(spark, sf_dir):
    from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
        register_corpus_views,
    )

    register_corpus_views(spark, sf_dir)
    n = spark.sql("SELECT COUNT(*) AS n FROM lineitem").collect()[0]["n"]
    assert n > 0
    joined = spark.sql(
        "SELECT COUNT(*) AS n FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey"
    ).collect()[0]["n"]
    assert joined > 0
