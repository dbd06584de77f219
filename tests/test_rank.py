"""Unit semantics for operators/rank.py — the range-partitioned global
rank/ntile/cumsum must agree exactly with the single-partition window
idioms it replaces (checked against F.ntile / row_number on small data,
where the global window is cheap and trusted)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.operators.rank import (
    OrderSpec,
    global_ntile,
    global_order_stats,
    multi_global_ntile,
)


def _df(spark, vals):
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v long"
    )


def test_rank_and_cumsum_match_window(spark):
    vals = [5, 3, 8, 3, 1, 9, 3, 7, 2, 2, 6, 4] * 10
    df = _df(spark, vals)
    got = global_order_stats(
        df,
        "v",
        tiebreaks=("id",),
        cum_cols=("v",),
        num_bins=4,
        n_col="n",
        totals=True,
        persist=False,
    )
    w = Window.orderBy("v", "id")
    exp = df.select(
        "id",
        F.row_number().over(w).alias("rn"),
        F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cs"),
    )
    got_rows = got.collect()
    assert all(r["n"] == len(vals) and r["v_tot"] == sum(vals) for r in got_rows)
    got_m = {r["id"]: (r["global_rn"], r["v_cum"]) for r in got_rows}
    for r in exp.collect():
        assert got_m[r["id"]] == (r["rn"], r["cs"])


def test_rank_descending(spark):
    vals = [10, 20, 20, 5, 40, 5]
    df = _df(spark, vals)
    got = global_order_stats(
        df, "v", ascending=False, tiebreaks=("id",), num_bins=3, persist=False
    )
    w = Window.orderBy(F.col("v").desc(), "id")
    exp = {r["id"]: r["rn"] for r in df.select("id", F.row_number().over(w).alias("rn")).collect()}
    assert {r["id"]: r["global_rn"] for r in got.collect()} == exp


@pytest.mark.parametrize("n,k", [(12, 4), (13, 4), (3, 10), (100, 7), (7, 7)])
def test_ntile_matches_builtin(spark, n, k):
    vals = [(i * 37) % 50 for i in range(n)]  # duplicates + spread
    df = _df(spark, vals)
    got = global_ntile(
        df, "v", k, tiebreaks=("id",), out_col="t", num_bins=5, persist=False
    )
    w = Window.orderBy("v", "id")
    exp = {r["id"]: r["t"] for r in df.select("id", F.ntile(k).over(w).alias("t")).collect()}
    assert {r["id"]: r["t"] for r in got.collect()} == exp


def test_multi_ntile_matches_builtin(spark):
    rows = [(i, (i * 37) % 50, (i * 13) % 29) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    wa = Window.orderBy("a", "id")
    wb = Window.orderBy(F.col("b").desc(), "id")
    exp = {
        r["id"]: (r["ta"], r["tb"])
        for r in df.select(
            "id", F.ntile(4).over(wa).alias("ta"), F.ntile(4).over(wb).alias("tb")
        ).collect()
    }
    # gate=0 forces the distributed stacked-agg path; the large gate
    # takes the literal-boundary path — both must match the builtin
    for gate in (0, 10**6):
        got = multi_global_ntile(
            df,
            [
                OrderSpec("a", True, ("id",), "ta"),
                OrderSpec("b", False, ("id",), "tb"),
            ],
            4,
            num_bins=5,
            persist=False,
            small_threshold=gate,
        )
        assert {r["id"]: (r["ta"], r["tb"]) for r in got.collect()} == exp, gate


def test_constant_key_single_bin(spark):
    df = _df(spark, [7] * 20)
    got = global_ntile(df, "v", 4, tiebreaks=("id",), out_col="t", persist=False)
    counts = {r["t"]: r["n"] for r in got.groupBy("t").agg(F.count("*").alias("n")).collect()}
    assert counts == {1: 5, 2: 5, 3: 5, 4: 5}


def test_empty_input(spark):
    df = _df(spark, []).filter("1=0")
    out = global_order_stats(df, "v", cum_cols=("v",), persist=False)
    assert out.count() == 0


def test_rank_property_random_distributions(spark):
    """Property check across adversarial value distributions (constant,
    heavy-tailed, negative, duplicate-heavy): the range-binned rank and
    running sum must equal the trusted single-partition window on small
    data, for every (ascending, num_bins) combination."""
    import random

    rng = random.Random(20260813)
    distributions = [
        [0] * 40,  # constant → one bin
        [rng.randint(-5, 5) for _ in range(67)],  # duplicate-heavy, negatives
        [int(rng.lognormvariate(0, 3)) for _ in range(101)],  # heavy tail
        [rng.randint(-(10**9), 10**9) for _ in range(53)],  # wide spread
        [7],  # single row
    ]
    for vals in distributions:
        df = _df(spark, vals)
        for ascending in (True, False):
            for nb in (2, 7):
                got = global_order_stats(
                    df,
                    "v",
                    ascending=ascending,
                    tiebreaks=("id",),
                    cum_cols=("v",),
                    num_bins=nb,
                    persist=False,
                )
                order = F.col("v").asc() if ascending else F.col("v").desc()
                w = Window.orderBy(order, F.col("id").asc())
                exp = df.select(
                    "id",
                    F.row_number().over(w).alias("rn"),
                    F.sum("v")
                    .over(w.rowsBetween(Window.unboundedPreceding, 0))
                    .alias("cs"),
                )
                got_m = {
                    r["id"]: (r["global_rn"], r["v_cum"]) for r in got.collect()
                }
                exp_m = {r["id"]: (r["rn"], r["cs"]) for r in exp.collect()}
                assert got_m == exp_m, (vals[:5], ascending, nb)


def test_null_keys_rank_like_window(spark):
    """Null sort keys route to the dedicated sentinel bin: ASC → first
    (Spark/SQL NULLS FIRST), DESC → last — exactly the window's
    placement, ranked among themselves by the tiebreaks."""
    rows = [(0, 5), (1, None), (2, 3), (3, None), (4, 9), (5, 3), (6, None)]
    df = spark.createDataFrame(rows, "id long, v long")
    for ascending in (True, False):
        order = F.col("v").asc() if ascending else F.col("v").desc()
        w = Window.orderBy(order, F.col("id").asc())
        exp = {
            r["id"]: r["rn"]
            for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
        }
        got = global_order_stats(
            df, "v", ascending=ascending, tiebreaks=("id",), num_bins=3, persist=False
        )
        assert {r["id"]: r["global_rn"] for r in got.collect()} == exp, ascending


def test_null_keys_ntile_like_window(spark):
    rows = [(i, None if i % 4 == 0 else (i * 37) % 50) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v long")
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    exp = {
        r["id"]: r["t"]
        for r in df.select("id", F.ntile(3).over(w).alias("t")).collect()
    }
    # gate=0 goes straight to the distributed path; under the large gate
    # the literal path sees the null keys and bails to it
    for gate in (0, 10**6):
        got = multi_global_ntile(
            df,
            [OrderSpec("v", True, ("id",), "t")],
            3,
            num_bins=4,
            persist=False,
            small_threshold=gate,
        )
        assert {r["id"]: r["t"] for r in got.collect()} == exp, gate


def test_cum_null_raises_on_both_paths(spark):
    """The exact-integer-cumsum contract fails loudly on NULL cum values
    instead of letting sum() skip them."""
    rows = [(0, 1, 10), (1, 2, None), (2, 3, 30)]
    df = spark.createDataFrame(rows, "id long, v long, c long")
    with pytest.raises(TypeError, match="NULL"):
        global_order_stats(
            df, "v", tiebreaks=("id",), cum_cols=("c",), persist=False
        ).collect()


def test_nan_keys_rank_like_window_on_both_paths(spark):
    """ADVICE r5: a genuine NaN key is NOT a NULL — Spark's nan-safe
    compare orders NaN above every finite value (asc: NULLs first, then
    finite, then NaN). _pid_expr must place NaN in the last real bin,
    not conflate it with the NULL sentinel."""
    rows = [
        (0, 5.0),
        (1, None),
        (2, float("nan")),
        (3, 3.0),
        (4, float("nan")),
        (5, None),
        (6, 9.0),
    ]
    df = spark.createDataFrame(rows, "id long, v double")
    w = Window.orderBy(F.col("v").asc(), F.col("id").asc())
    exp = {
        r["id"]: r["rn"]
        for r in df.select("id", F.row_number().over(w).alias("rn")).collect()
    }
    got = global_order_stats(df, "v", tiebreaks=("id",), num_bins=3, persist=False)
    assert {r["id"]: r["global_rn"] for r in got.collect()} == exp
