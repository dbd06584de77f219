"""Self-tests of the benchmark: seeded inputs, output checks, and that
timing and tracing do not change the work Spark is asked to do.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import glob

import pyarrow.parquet as pq
import pytest

from perfbench import corpusgen
from perfbench.spans import SparkAccount, Tracer
from perfbench.workloads import (
    TODAY,
    CorpusQueries,
    EtlDashboard,
    city_names,
    page_contexts,
    query_order,
)
from us_weather_energy_analysis_pipeline_spark.session import get_spark


@pytest.fixture(scope="module")
def spark():
    return get_spark("perfbench-tests", master="local[2]")


def test_same_seed_same_inputs_and_other_seed_changes_them(tmp_path):
    cities = city_names(7, 10)
    assert cities == city_names(7, 10)
    assert len(set(cities)) == 10
    assert cities != city_names(8, 10)
    assert page_contexts(7, cities, 5) == page_contexts(7, cities, 5)
    assert page_contexts(7, cities, 5) != page_contexts(8, cities, 5)
    assert query_order(7, 0) == query_order(7, 0)
    assert query_order(7, 0) != query_order(8, 0)

    for seed in (7, 7, 8):
        corpusgen.generate(str(tmp_path / str(seed) / "t"), seed)
    same = pq.read_table(tmp_path / "7" / "t" / "lineitem.parquet")
    assert same.equals(pq.read_table(tmp_path / "7" / "t" / "lineitem.parquet"))
    assert not same.equals(pq.read_table(tmp_path / "8" / "t" / "lineitem.parquet"))


def test_etl_and_chart_checks_count_a_dropped_gold_row(spark, tmp_path):
    wl = EtlDashboard(3, str(tmp_path))
    wl.cities = wl.cities[:2]
    wl.contexts = page_contexts(3, wl.cities, 4)
    wl.warmup_pages = 0
    tracer = Tracer(spark, enabled=False)
    wl.batch(spark, tracer)
    requests = wl.unit(0, spark, tracer)
    assert [kind for kind, _ in requests[:2]] == ["filter", "timeseries"]
    assert wl.check()[:2] == (11, 0)  # the ETL run and one page of ten charts

    # drop the gold row of the filtered city on the filter's first day
    ctx = wl.contexts[0]
    part = glob.glob(f"{wl.gold}/city={ctx.cities[0]}/*.parquet")[0]
    table = pq.read_table(part)
    first = table.column("date").to_pylist().index(ctx.start)
    pq.write_table(table.take([i for i in range(table.num_rows) if i != first]), part)
    attempted, failed, _ = wl.check()
    assert attempted == 11 and failed >= 2  # the ETL run and the filter chart


def test_corpus_check_counts_a_perturbed_cell(spark, tmp_path):
    wl = CorpusQueries(4, str(tmp_path))
    wl.prepare()
    name = "tpch_q1_pricing_summary"
    _, answer = wl._run(spark, Tracer(spark, enabled=False), name)
    wl.answers = [(name, answer)]
    assert wl.check()[:2] == (1, 0)

    col = next(c for c in answer.columns if answer[c].dtype.kind == "f")
    answer.loc[0, col] += 0.01
    assert wl.check()[:2] == (1, 1)


def _jobs(spark, group, fn) -> float:
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return SparkAccount(spark).read(group)["jobs"]


def test_timing_schedules_no_extra_jobs_and_tracing_counts_them_all(spark, tmp_path):
    wl = CorpusQueries(5, str(tmp_path))
    wl.prepare()
    name = "rfm_segments"  # runs driver-side jobs while the plan is built
    _bare_run(spark, wl, name)  # the first run of a query has one job more
    bare = _jobs(spark, "bare", lambda: _bare_run(spark, wl, name))
    untraced = _jobs(spark, "untraced", lambda: wl._run(spark, Tracer(spark, enabled=False), name))
    assert bare >= 1
    assert untraced <= bare

    for _ in range(2):  # a second tracer must not count the first one's jobs
        tracer = Tracer(spark, enabled=True)
        wl._run(spark, tracer, name)
        assert sum(s.spark["jobs"] for s in tracer.spans) == bare
        assert [s.phase for s in tracer.spans] == ["build", "exec"]


def _bare_run(spark, wl, name):
    from us_weather_energy_analysis_pipeline_spark.corpus.registry import REGISTRY
    from us_weather_energy_analysis_pipeline_spark.operators import cache

    REGISTRY[name].spark_fn(spark, wl.data).toPandas()
    cache.release_all()


def test_page_contexts_stay_inside_the_gold_range():
    for ctx in page_contexts(9, city_names(9, 10), 64):
        assert TODAY - dt.timedelta(days=180) <= ctx.start < ctx.end < TODAY
        assert ctx.diff_city in ctx.cities
