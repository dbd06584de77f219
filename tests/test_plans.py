"""Physical-plan regression tests — the scale posture, asserted.

These guard the properties that make the corpus viable at 100 TB:
predicate pushdown reaching the parquet scans, column pruning, broadcast
dimension joins, partial (map-side) aggregation. A refactor that silently
loses one of these still passes the value oracles — only the plan shows it.
"""

from __future__ import annotations

import re

import pytest

from us_weather_energy_analysis_pipeline_spark.corpus.registry import (
    REGISTRY,
    _ensure_loaded,
)

_ensure_loaded()


def _formatted(spark, name, sf_dir):
    df = REGISTRY[name].spark_fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _formatted(spark, "filter_date_set", sf_dir)
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "In(o_orderpriority" in plan


def test_column_pruning_q1(spark, sf_dir):
    plan = _formatted(spark, "tpch_q1_pricing_summary", sf_dir)
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" not in scan_schema  # unused columns pruned
    assert "l_quantity" in scan_schema
    assert "LessThanOrEqual(l_shipdate" in plan


def test_dim_joins_broadcast(spark, sf_dir):
    plan = _formatted(spark, "join_dims_broadcast", sf_dir)
    # formatted explain mentions each node in tree + detail sections
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_hinted_fact_joins_build_shuffled_hash(spark, sf_dir):
    """The join-build audit's SHUFFLE_HASH hints must survive refactors:
    q3/q5/q13 join lineitem/orders through a ShuffledHashJoin (per-
    partition build on the growing-with-data side), never a broadcast
    build of a raw fact scan."""
    for name in (
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier",
        "tpch_q13_custdist",
        "tpch_q4_order_priority",
    ):
        plan = _formatted(spark, name, sf_dir)
        assert "ShuffledHashJoin" in plan, name


def test_partial_aggregation_before_exchange(spark, sf_dir):
    plan = _formatted(spark, "ts_daily_rollup", sf_dir)
    # partial agg node appears below the exchange: two HashAggregates
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = _formatted(spark, "top_k_orders", sf_dir)
    assert "TakeOrderedAndProject" in plan  # no full global sort


def test_q6_no_shuffle(spark, sf_dir):
    plan = _formatted(spark, "tpch_q6_forecast_revenue", sf_dir)
    # single-row aggregate: one exchange max (final single-partition agg)
    assert "PushedFilters" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed


def test_pii_redact_zero_shuffle(spark, sf_dir):
    """pii_redact_scrub is pure per-row JVM regexp work: no exchange, no
    Python stage, and the scan prunes to (doc_id, text) only."""
    plan = _formatted(spark, "pii_redact_scrub", sf_dir)
    body = plan.split("\n\n", 1)[1] if "\n\n" in plan else plan
    assert "Exchange" not in body
    assert "InPandas" not in plan and "BatchEvalPython" not in plan
    sched = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in sched and "text" in sched and "lang" not in sched


def test_url_domain_throttle_single_exchange(spark, sf_dir):
    """url_domain_throttle's only shuffle is the window partitionBy(host)
    exchange — rank and count(*) share it (two Window nodes, one
    Exchange) — and the scan reads doc_id alone (the url is synthesized,
    so text never loads)."""
    plan = _formatted(spark, "url_domain_throttle", sf_dir)
    detail = plan.split("\n\n", 1)[1]
    assert detail.count("(\n") == 0  # formatted detail: one node per paragraph
    ex = [l for l in detail.splitlines() if l.startswith("(") and "Exchange" in l]
    assert len(ex) == 1, ex
    assert "hashpartitioning(host" in detail
    sched = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in sched and "text" not in sched


def test_upsert_parquet_roundtrip(spark, tmp_path):
    from us_weather_energy_analysis_pipeline_spark.operators.upsert import (
        upsert_parquet,
    )

    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)], "id long, k string, v double"
    )
    update = spark.createDataFrame(
        [(2, "b", 20.0), (4, "d", 4.0)], "id long, k string, v double"
    )
    # a trailing slash must name the same table, not nest staging inside it
    for path in (str(tmp_path / "tbl"), str(tmp_path / "tbl_slash") + "/"):
        assert upsert_parquet(spark, path, base, ["id"]) == 3
        assert upsert_parquet(spark, path, update, ["id"]) == 4
        got = {r["id"]: r["v"] for r in spark.read.parquet(path).collect()}
        assert got == {1: 1.0, 2: 20.0, 3: 3.0, 4: 4.0}
        # idempotent re-apply
        assert upsert_parquet(spark, path, update, ["id"]) == 4
    assert sorted(p.name for p in tmp_path.iterdir()) == ["tbl", "tbl_slash"]


def _failing(df, col):
    """``df`` with ``col`` raising on the rows that hold its minimum: the
    task reading them fails, so the write job fails after other tasks may
    have committed their files."""
    from pyspark.sql import functions as F

    first = df.agg(F.min(col)).first()[0]
    return df.withColumn(
        col, F.when(F.col(col) == first, F.raise_error(F.lit("injected"))).otherwise(F.col(col))
    )


def test_write_fact_fault_keeps_previous_gold(spark, tmp_path):
    """A write_fact whose job fails mid-write leaves the previous gold
    readable and row-identical, and no staging sibling behind — for the
    partitioned parquet gold and for the CSV."""
    from us_weather_energy_analysis_pipeline_spark.plans.etl import write_fact
    from us_weather_energy_analysis_pipeline_spark.sources.datagen import (
        generate_weather_energy,
    )

    fact = generate_weather_energy(spark, "2024-01-01", "2024-01-05")
    for fmt, read in (
        ("parquet", spark.read.parquet),
        ("csv", spark.read.option("header", True).csv),
    ):
        path = str(tmp_path / fmt)
        write_fact(fact, path, fmt=fmt)
        before = read(path).orderBy("date", "city").collect()
        assert before
        with pytest.raises(Exception, match="injected"):
            write_fact(_failing(fact, "date"), path, fmt=fmt)
        assert read(path).orderBy("date", "city").collect() == before
    assert sorted(p.name for p in tmp_path.iterdir()) == ["csv", "parquet"]


def test_upsert_parquet_fault_keeps_table(spark, tmp_path):
    """A failed upsert leaves the table as it was and no staging behind."""
    from us_weather_energy_analysis_pipeline_spark.operators.upsert import (
        upsert_parquet,
    )

    path = str(tmp_path / "tbl")
    base = spark.range(10).selectExpr("id", "id * 1.5 AS v").repartition(2)
    assert upsert_parquet(spark, path, base, ["id"]) == 10
    update = spark.range(5, 15).selectExpr("id", "id * 2.0 AS v").repartition(2)
    with pytest.raises(Exception, match="injected"):
        upsert_parquet(spark, path, _failing(update, "v"), ["id"])
    assert sorted(spark.read.parquet(path).collect()) == sorted(base.collect())
    assert [p.name for p in tmp_path.iterdir()] == ["tbl"]


def test_partition_pruning_on_city(spark, tmp_path):
    """write_fact partitions by city; a city filter must prune partitions
    at scan time (PartitionFilters), not post-read."""
    from pyspark.sql import functions as F

    from us_weather_energy_analysis_pipeline_spark.plans.etl import write_fact
    from us_weather_energy_analysis_pipeline_spark.sources.datagen import (
        generate_weather_energy,
    )

    path = str(tmp_path / "fact")
    write_fact(generate_weather_energy(spark, "2024-01-01", "2024-01-20"), path)
    q = spark.read.parquet(path).filter(F.col("city") == "Seattle")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "city" in plan.split("PartitionFilters")[1][:120]
    assert q.count() == 20


def test_is_stale(spark):
    import datetime as dt

    from us_weather_energy_analysis_pipeline_spark.quality.checks import is_stale
    from us_weather_energy_analysis_pipeline_spark.sources.datagen import (
        generate_weather_energy,
    )

    fact = generate_weather_energy(spark, "2024-01-01", "2024-01-10")
    assert is_stale(fact, 24, now=dt.datetime(2024, 2, 1)) is True
    assert is_stale(fact, 24, now=dt.datetime(2024, 1, 10, 12)) is False
    empty = fact.filter("1=0")
    assert is_stale(empty, 24) is True


def test_compact_parquet(spark, tmp_path):
    import glob

    from us_weather_energy_analysis_pipeline_spark.operators.compact import (
        compact_parquet,
    )

    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, v double"
    )
    # a trailing slash must name the same table, not nest staging inside it
    for path in (str(tmp_path / "frag"), str(tmp_path / "frag_slash") + "/"):
        # fragment: 10 appends of 1 file each
        for i in range(10):
            base.filter(f"id >= {i*10} and id < {(i+1)*10}").repartition(1).write.mode(
                "append"
            ).parquet(path)
        n_before = len(glob.glob(f"{path}/*.parquet"))
        assert n_before >= 10
        n = compact_parquet(spark, path, target_files=1, sort_within_by=("id",))
        assert n == 100
        assert len(glob.glob(f"{path}/*.parquet")) == 1
        got = sorted(r["id"] for r in spark.read.parquet(path).collect())
        assert got == list(range(100))
    assert sorted(p.name for p in tmp_path.iterdir()) == ["frag", "frag_slash"]


def test_range_join_is_hash_not_nested_loop(spark, sf_dir):
    """The banded range join must never be a nested loop. With the 4
    tiny non-overlapping price bands the r5 plan carries NO join at all
    (driver-inlined CASE index, operators/rangejoin.py); bigger or
    overlapping range sets get the grid rewrite's HASH join on the cell
    key — covered by test_advanced_semantics.py's plan assertions."""
    plan = _formatted(spark, "range_join_price_band", sf_dir)
    assert "Join" not in plan
    assert "CASE WHEN" in plan


def _unpartitioned_windows(df) -> int:
    """Count ORDERED Window nodes with NO partition spec in the optimized
    plan (the single-partition-sort hazard). A fully-specified window
    prints ``Window [exprs], [partition], [order]`` (three top-level
    bracket groups); two groups are ambiguous — ``[exprs], [order]``
    (global sort: BAD) vs ``[exprs], [partition]`` (partition-only agg
    window: fine, no sort) — disambiguated by the ASC/DESC markers an
    order spec always carries."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    bad = 0
    for line in plan.splitlines():
        idx = line.find("Window [")
        if idx < 0:
            continue
        groups, depth, start = [], 0, None
        for pos, ch in enumerate(line[idx:], idx):
            if ch == "[":
                if depth == 0:
                    start = pos
                depth += 1
            elif ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(line[start : pos + 1])
        if len(groups) >= 3:
            continue
        if len(groups) == 2 and (" ASC" in groups[1] or " DESC" in groups[1]):
            bad += 1
    return bad


@pytest.mark.parametrize(
    "name",
    [
        "ntile_deciles",
        "rfm_segments",
        "pareto_revenue_concentration",
        "gini_customer_revenue",
    ],
)
def test_global_order_queries_have_no_unpartitioned_window(spark, sf_dir, name):
    """The four global-order statistics must never contain a
    single-partition global sort (WindowExec: No Partition Defined — the
    100 TB straggler). Below the small gate the plans carry NO window
    at all (literal-boundary NTILE / driver-side scalar); above it every
    window is partitioned by the range-bin id. Both shapes satisfy the
    zero-unpartitioned-windows invariant asserted here; the distributed
    path's values are checked in tests/test_rank.py (every
    global_order_stats test, and multi_global_ntile at gate=0)."""
    df = REGISTRY[name].spark_fn(spark, sf_dir)
    assert _unpartitioned_windows(df) == 0


# Queries allowed to carry a global-ordered window: every one operates on
# an intermediate whose size is BOUNDED regardless of fact-table volume —
# calendar-day series (ewma/moving_avg/trailing/locf: ≤366 rows/year) or a
# dimension-level aggregate (revenue_share: 25 nations). A global sort
# over a bounded frame is not a scale hazard. Everything else in the
# corpus must be partition-clean.
GLOBAL_WINDOW_ALLOWLIST = {
    "ewma_daily",
    "locf_gap_fill",
    "moving_avg_7d",
    "revenue_share",
    "trailing_range_7d",
    # rank window runs AFTER an orderBy().limit(ZIPF_TOP) — input is
    # bounded at 200 rows by construction, never data-sized
    "text_zipf_fit",
}


def test_corpus_has_no_unlisted_global_windows(spark, sf_dir):
    """Corpus-wide single-partition-sort audit: any query outside the
    bounded-intermediate allowlist whose optimized plan contains an
    ordered unpartitioned Window is a regression (the class that filled
    the round-2 bench log with 'WindowExec: No Partition Defined')."""
    offenders = {}
    for name, q in sorted(REGISTRY.items()):
        n = _unpartitioned_windows(q.spark_fn(spark, sf_dir))
        if n and name not in GLOBAL_WINDOW_ALLOWLIST:
            offenders[name] = n
    assert offenders == {}


def test_cosine_pair_dedup_no_driver_collect(spark, sf_dir):
    """dedup_embed_cosine must stay fully distributed with no
    CollectLimit/driver gather. At corpus SFs the footer gate picks the
    single-block fast path (r9): ONE FlatMapGroupsInPandas doing the
    in-group upper triangle — no pack/pair-join stages, and still no
    driver collect. (The blocked machinery's plan shape is pinned by
    test_single_block_fast_path_matches_blocked_machinery.)"""
    plan = _formatted(spark, "dedup_embed_cosine", sf_dir)
    assert "FlatMapGroupsInPandas" in plan  # the in-group pair kernel
    assert "CollectLimit" not in plan


@pytest.mark.parametrize("name", ["embed_centroid_by_label", "embed_int8_quantize"])
def test_vector_queries_plan_without_python_stage(spark, sf_dir, name):
    """The per-vector queries keep one native expression plan at every
    input size: no Python stage (MapInPandas, a Python UDF) anywhere."""
    plan = _formatted(spark, name, sf_dir)
    assert not re.search(r"MapInPandas|PythonUDF|EvalPython", plan, re.I), plan


def test_ascii_fold_literals_match_canonical():
    """Every hand-inlined translate(..., 'A..Z', 'a..z') fold in the
    corpus/operator sources (oracle SQL strings can't call the helper)
    must use EXACTLY functions.text.ASCII_UP/ASCII_LO — one pasted-
    alphabet typo would silently break Spark-oracle fingerprint parity
    for a single query."""
    import glob

    from us_weather_energy_analysis_pipeline_spark.functions.text import (
        ASCII_LO,
        ASCII_UP,
        ascii_lower_sql,
    )

    assert ascii_lower_sql("x") == f"translate(x, '{ASCII_UP}', '{ASCII_LO}')"
    pat = re.compile(r"translate\([^,]+,\s*'([A-Z]+)',\s*'([a-z]+)'\)")
    pkg = "us_weather_energy_analysis_pipeline_spark"
    hits = 0
    for path in glob.glob(f"{pkg}/**/*.py", recursive=True):
        for up, lo in pat.findall(open(path).read()):
            hits += 1
            assert up == ASCII_UP and lo == ASCII_LO, path
    assert hits >= 15  # the fold appears across the text/dedup corpus


def test_unpartitioned_windows_run_on_bounded_daily_aggregates(spark, sf_dir):
    """The only unpartitioned (single-task) windows in the corpus sit on
    DAILY aggregates, whose cardinality is bounded by the calendar — not
    by data volume — so the `WindowExec: No Partition Defined` warning
    they emit is provably benign (VERDICT r4 item 7). This guard fails
    if a refactor moves such a window onto a fact table: the optimized
    plan must show an Aggregate on the day key BELOW the Window."""
    for name in ("moving_avg_7d", "ewma_daily"):
        df = REGISTRY[name].spark_fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        lines = plan.splitlines()
        widx = [i for i, ln in enumerate(lines) if "Window [" in ln]
        assert widx, (name, plan)
        below = "\n".join(lines[widx[-1]:])
        # the daily key may be named day, _day (r14 native-date group
        # key with deferred ISO formatting) or a synthesized grouping id
        assert (
            "Aggregate [day" in below
            or "Aggregate [_day" in below
            or "Aggregate [_groupingexpression" in below
        ), (
            name,
            plan,
        )


def test_differenced_view_window_sits_on_daily_series(spark):
    """analytics/views.py's lag-differencing window is unpartitioned by
    design — its input is either a per-date aggregate or a single city's
    daily series (calendar-bounded), never the raw fact table."""
    from us_weather_energy_analysis_pipeline_spark.analytics import views as V
    from us_weather_energy_analysis_pipeline_spark.sources.datagen import (
        generate_weather_energy,
    )

    df = generate_weather_energy(spark, "2024-01-01", "2024-01-20")
    ts = V.timeseries_view(df, city=None, differenced=True)
    plan = ts._jdf.queryExecution().optimizedPlan().toString()
    lines = plan.splitlines()
    widx = [i for i, ln in enumerate(lines) if "Window [" in ln]
    assert widx, plan
    below = "\n".join(lines[widx[-1]:])
    assert "Aggregate [date" in below, plan


def _file_column_ranges(path: str, column: str) -> list[tuple[object, object]]:
    """(min, max) of ``column`` per parquet data file under ``path`` —
    footer statistics only (what a scan's file-skipping consults)."""
    import os

    import pyarrow.parquet as pq

    out = []
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, name)).metadata
        idx = md.schema.to_arrow_schema().get_field_index(column)
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                continue
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            out.append((lo, hi))
    return out


def test_compact_parquet_range_clustering_disjoint_files(spark, tmp_path):
    """r7 cluster_by: output files must own DISJOINT slices of the cluster
    key (footer min/max is what file-skipping consults), and target_bytes
    must derive a sane file count from on-disk size without a job."""
    import glob

    from us_weather_energy_analysis_pipeline_spark.operators.compact import (
        compact_parquet,
    )

    path = str(tmp_path / "clust")
    base = spark.createDataFrame(
        [((i * 7919) % 10_000, float(i)) for i in range(10_000)], "k long, v double"
    )
    # shuffled appends: every file spans nearly the whole keyspace
    for i in range(4):
        base.filter(f"v >= {i*2500} and v < {(i+1)*2500}").repartition(2).write.mode(
            "append"
        ).parquet(path)
    spans = _file_column_ranges(path, "k")
    assert len(spans) >= 8
    # un-clustered: ranges overlap massively (each file ~ full keyspace)
    overlapping = sum(
        1
        for i, (lo, hi) in enumerate(spans)
        for lo2, hi2 in spans[i + 1 :]
        if lo <= hi2 and lo2 <= hi
    )
    assert overlapping > 0

    n = compact_parquet(spark, path, target_files=4, cluster_by=("k",))
    assert n == 10_000
    spans = sorted(_file_column_ranges(path, "k"))
    assert len(spans) == len(glob.glob(f"{path}/*.parquet")) == 4
    # clustered: consecutive file ranges must not overlap
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 < lo2, spans
    # a range predicate now matches exactly one file's span
    got = spark.read.parquet(path).filter("k >= 0 and k <= 100").count()
    assert got == 101

    # byte-targeted compaction: no absolute file count needed
    import pytest as _pt

    with _pt.raises(ValueError):
        compact_parquet(spark, path, cluster_by=("k",), partition_by=("k",))
    n2 = compact_parquet(spark, path, cluster_by=("k",), target_bytes=1 << 16)
    assert n2 == 10_000
    assert len(glob.glob(f"{path}/*.parquet")) >= 2


def test_grouped_sample_plan_prunes_before_lang_window(spark, sf_dir):
    """weighted_sample_by_group: the full corpus must NEVER shuffle —
    the only exchange is the lang window over the batch-pruned
    survivors, downstream of the MapInPandas prune (the skew-safe
    grouped-bottom-k shape shared with topk_per_group)."""
    plan = _formatted(spark, "weighted_sample_by_group", sf_dir)
    assert "MapInPandas" in plan
    tree = plan.split("\n\n", 1)[0]
    exchanges = [l for l in tree.splitlines() if "Exchange" in l]
    assert len(exchanges) == 1, exchanges
    # the prune feeds the exchange, not the other way round
    assert tree.index("MapInPandas") > tree.index("Exchange")


def test_phash_dedup_plan_partitions_by_fingerprint(spark, sf_dir):
    """multimodal_phash_dedup: one Arrow kernel stage over the scanned
    bytes, then ONE exchange keyed on the fingerprint bands (the
    groupBy-digest posture of exact dedup) — no extra shuffle, no
    unpartitioned window."""
    plan = _formatted(spark, "multimodal_phash_dedup", sf_dir)
    assert "MapInPandas" in plan
    tree = plan.split("\n\n", 1)[0]
    exchanges = [l for l in tree.splitlines() if "Exchange" in l]
    assert len(exchanges) == 1, exchanges
    # keyed on the band columns (b0...) — tolerate attribute-id/whitespace
    # rendering differences across Spark versions (ADVICE r13)
    assert re.search(r"hashpartitioning\(\s*b0#?\d*", plan), plan


def test_bottom_k_sketches_plan_take_ordered(spark, sf_dir):
    """quantile_sketch_sample and weighted_sample_aexpj both rest on
    ORDER BY <key> LIMIT k planning as TakeOrderedAndProject —
    per-partition bottom-k with an associative merge — never a global
    Sort of the input (the scale-hazard shape)."""
    for name in ("quantile_sketch_sample", "weighted_sample_aexpj"):
        plan = _formatted(spark, name, sf_dir)
        assert "TakeOrderedAndProject" in plan, name
        body = plan.split("\n\n", 1)[1] if "\n\n" in plan else plan
        assert "Sort [" not in body, name


_SHUFFLE = re.compile(r"\bExchange (hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)")


@pytest.mark.parametrize("cities", [["Chicago", "Elmton"], None], ids=["subset", "all"])
def test_page_frame_charts_have_no_shuffle(spark, page_gold, page_charts, cities):
    """Over the page frame (one partition) every chart plans without a
    shuffle Exchange; only the city dim's BroadcastExchange remains."""
    from us_weather_energy_analysis_pipeline_spark.analytics.views import filter_view

    page = filter_view(spark.read.parquet(page_gold), "2024-01-10", "2024-03-20", cities)
    for name, chart in page_charts("Chicago"):
        out = chart(page)
        if not hasattr(out, "_jdf"):
            continue
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert not _SHUFFLE.search(plan), (name, plan)


@pytest.mark.parametrize(
    "cities, budget",
    [(["Elmton", "Ashford"], 12), (["Chicago", "Elmton"], 13)],
    ids=["outside-dim", "dim-city"],
)
def test_page_job_count(spark, page_gold, page_charts, cities, budget):
    """One page of all ten charts runs at most 12 jobs: the page frame's
    checkpoint, then one job per chart, two for OLS (fit, band). A page
    showing a city of the 5-row dim pays one more job for the dim's
    broadcast; otherwise the frame's city filter folds the dim join away."""
    from perfbench.spans import SparkAccount

    from us_weather_energy_analysis_pipeline_spark.analytics.views import filter_view

    frame = spark.read.parquet(page_gold)
    sc = spark.sparkContext
    group = f"page-jobs-{'-'.join(cities)}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        page = filter_view(frame, "2024-01-10", "2024-03-20", cities)
        for _, chart in page_charts("Elmton"):
            out = chart(page)
            if hasattr(out, "_jdf"):
                out.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert SparkAccount(spark).read(group)["jobs"] <= budget


def test_gold_write_job_count(spark, tmp_path):
    """The gold parquet write of a 2-city historical ETL runs at most 11
    jobs: each source pays one calendar join, whose city dim also carries
    the observed bounds the energy side's 0-vs-NULL rule reads."""
    import datetime as dt

    from perfbench.spans import SparkAccount

    from us_weather_energy_analysis_pipeline_spark import main
    from us_weather_energy_analysis_pipeline_spark.plans.etl import (
        build_fact,
        process_energy,
        process_weather,
        resolve_date_range,
        write_fact,
    )
    from us_weather_energy_analysis_pipeline_spark.sources.eia import read_eia_landing
    from us_weather_energy_analysis_pipeline_spark.sources.fetch import land_json, landing_path
    from us_weather_energy_analysis_pipeline_spark.sources.noaa import read_noaa_landing

    start, end = resolve_date_range("historical", dt.date(2024, 7, 1))
    cities = ("Chicago", "Elmton")
    raw = str(tmp_path)
    weather_files = [landing_path(raw, "weather", c, start, end) for c in cities]
    energy_files = [landing_path(raw, "energy", c, start, end) for c in cities]
    for city, w, e in zip(cities, weather_files, energy_files):
        land_json(main.synth_noaa_payload(city, start, end), w)
        land_json(main.synth_eia_payload(city, start, end), e)

    sc = spark.sparkContext
    group = "gold-write-jobs"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        weather = process_weather(read_noaa_landing(spark, weather_files), start, end)
        energy = process_energy(read_eia_landing(spark, energy_files), start, end)
        write_fact(build_fact(weather, energy), str(tmp_path / "gold"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert SparkAccount(spark).read(group)["jobs"] <= 11


@pytest.mark.parametrize("name, budget", [("ntile_deciles", 2), ("rfm_segments", 3)])
def test_ranked_query_build_job_count(spark, sf_dir, name, budget):
    """Building a ranked NTILE query runs only the jobs of the
    literal-boundary path: the bounded key collect (over rfm_segments'
    aggregate, AQE runs its shuffle stages as two more jobs) and, when
    orders is read for the first time, the parquet read's own job.
    Falling to the distributed path would add the approxQuantile probe
    and the bin-count job."""
    from perfbench.spans import SparkAccount

    from us_weather_energy_analysis_pipeline_spark.operators.cache import release_all

    sc = spark.sparkContext
    group = f"build-jobs-{name}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        REGISTRY[name].spark_fn(spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        release_all()
    assert SparkAccount(spark).read(group)["jobs"] <= budget
