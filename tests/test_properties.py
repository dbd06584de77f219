"""Property-based tests (hypothesis) for the cross-engine invariants the
whole correctness method rests on."""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st

from us_weather_energy_analysis_pipeline_spark.corpus._util import (
    dround,
    dround_sql,
    py_dround,
)
from us_weather_energy_analysis_pipeline_spark.operators.asof import asof_join_backward
from us_weather_energy_analysis_pipeline_spark.plans.etl import process_energy

finite_doubles = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
)


@settings(max_examples=8, deadline=None)
@given(st.lists(finite_doubles, min_size=1, max_size=40), st.integers(0, 6))
def test_dround_matches_duckdb_round(spark, xs, n):
    """corpus/_util.dround must equal DuckDB ROUND(x, n) bit-for-bit —
    the invariant every oracle comparison relies on."""
    sdf = spark.createDataFrame([(x,) for x in xs], "x double")
    got = [r["y"] for r in sdf.select(dround("x", n).alias("y")).collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT ROUND(CAST(? AS DOUBLE), {n})", [x]).fetchone()[0]
        for x in xs
    ]
    assert got == pytest.approx(want, nan_ok=True, abs=0.0)


@settings(max_examples=8, deadline=None)
@given(st.lists(finite_doubles, min_size=1, max_size=40), st.integers(0, 6))
def test_dround_sql_matches_column_dround(spark, xs, n):
    """corpus/_util.dround_sql (the selectExpr twin introduced r10 for
    plan-build cost) must emit the SAME BITS as the Column dround —
    including on .5 boundaries and negatives — since converted queries
    substitute one for the other inside oracle-checked projections."""
    sdf = spark.createDataFrame([(x,) for x in xs], "x double")
    a = [r["y"] for r in sdf.select(dround("x", n).alias("y")).collect()]
    b = [r["y"] for r in sdf.selectExpr(f"{dround_sql('x', n)} AS y").collect()]
    assert a == pytest.approx(b, nan_ok=True, abs=0.0)


@pytest.mark.parametrize("n", [6, 2])
def test_dround_large_magnitudes_match_duckdb(spark, n):
    """Past 2⁶³ after scaling, the binary round must not saturate:
    Spark's FLOOR(double) returns BIGINT, so the plain floor form read
    ±9223372036854.775 for 1.27e14 at n = 6. The Column, SQL and
    driver forms must all equal DuckDB ROUND."""
    xs = [1.27e14, -1.27e14, 9.3e12, -9.3e12, 1e17, -1e17, float("inf")]
    sdf = spark.createDataFrame([(x,) for x in xs], "x double")
    col = [r["y"] for r in sdf.select(dround("x", n).alias("y")).collect()]
    sql = [r["y"] for r in sdf.selectExpr(f"{dround_sql('x', n)} AS y").collect()]
    con = duckdb.connect()
    want = [
        con.execute(f"SELECT ROUND(CAST(? AS DOUBLE), {n})", [x]).fetchone()[0]
        for x in xs
    ]
    con.close()
    assert col == want, (col, want)
    assert sql == want, (sql, want)
    assert [py_dround(x, n) for x in xs] == want


ts_strategy = st.datetimes(
    min_value=dt.datetime(2024, 1, 1), max_value=dt.datetime(2024, 1, 5)
)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(ts_strategy, min_size=1, max_size=15),
    st.lists(st.tuples(ts_strategy, finite_doubles), min_size=0, max_size=15),
)
def test_asof_matches_bruteforce(spark, left_ts, right_rows):
    left = spark.createDataFrame(
        [(i, 1, t) for i, t in enumerate(left_ts)], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, t, v) for t, v in right_rows] or [(2, dt.datetime(2024, 1, 1), 0.0)],
        "user_id long, ts timestamp, value double",
    )
    out = {
        r["event_id"]: (r["ts_asof"], r["value_asof"])
        for r in asof_join_backward(left, right, ["user_id"], "ts", ["value"]).collect()
    }
    for i, t in enumerate(left_ts):
        cands = [(rt, rv) for (rt, rv) in right_rows if rt <= t]
        if not cands:
            assert out[i] == (None, None)
        else:
            best = max(cands, key=lambda p: p[0])
            assert out[i][0] == best[0]
            # equal-ts duplicates: any of the tied values is acceptable
            tied = {rv for (rt, rv) in cands if rt == best[0]}
            assert out[i][1] in tied


def _sum_order_bound(xs: list[float]) -> float:
    """Largest gap two summation orders of ``xs`` can leave between their
    double results: each lies within γₙ₋₁·Σ|xᵢ| of the exact sum
    (Higham, Accuracy and Stability of Numerical Algorithms, §4.2),
    γₖ = k·u/(1 − k·u), u = 2⁻⁵³."""
    u = 2.0**-53
    k = max(len(xs) - 1, 0)
    return 2 * (k * u / (1 - k * u)) * sum(abs(x) for x in xs)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(ts_strategy, st.one_of(st.none(), finite_doubles)),
        min_size=1,
        max_size=30,
    )
)
@example(
    # large terms cancel: Spark's partial sums gave -1.19e-07, pandas 0.0
    rows=[
        (dt.datetime(2024, 1, 1, 0), -5.960464477539063e-08),
        (dt.datetime(2024, 1, 1, 1), -999999999.9999999),
        (dt.datetime(2024, 1, 1, 2), 999999999.9999999),
    ]
)
def test_resample_matches_pandas(spark, rows):
    """process_energy in observed mode must replicate pandas
    set_index().resample('D').sum() (SURVEY §7.3 A2): observed-range days
    fill 0.0. Spark and pandas add a day's values in different orders,
    so each day may differ by at most the summation-order bound — exact
    for one value, ~1e-15 relative without cancellation."""
    df = spark.createDataFrame(
        [("X", t.isoformat(), None if v is None else repr(v)) for t, v in rows],
        "city string, period_str string, value_str string",
    )
    got = {r["date"]: r["energy_demand_gwh"] for r in process_energy(df).collect()}
    pdf = pd.DataFrame(rows, columns=["ts", "value"]).set_index("ts")
    want = pdf.resample("D")["value"].sum()
    assert len(got) == len(want)
    for day, v in want.items():
        xs = [x for t, x in rows if t.date() == day.date() and x is not None]
        assert abs(got[day.date()] - v) <= _sum_order_bound(xs), (day, xs)


def test_ewma_matches_pandas(spark):
    """The recursion-free EWMA construction must equal pandas
    ewm(alpha, adjust=True).mean() exactly (same weighted-sum formula)."""
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    xs = [10.0, 12.0, 9.0, 20.0, 15.0, 14.0, 30.0, 2.0]
    alpha = 0.2
    sdf = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "t long, x double")
    w_ord = Window.orderBy("t")
    w_cum = w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    decay = F.pow(F.lit(1 - alpha), F.row_number().over(w_ord) - 1)
    seq = sdf.select("t", "x", decay.alias("d"))
    ewma = (F.col("d") * F.sum(F.col("x") / F.col("d")).over(w_cum)) / (
        F.col("d") * F.sum(F.lit(1.0) / F.col("d")).over(w_cum)
    )
    got = [r["e"] for r in seq.select(ewma.alias("e")).orderBy("t").collect()]
    want = pd.Series(xs).ewm(alpha=alpha, adjust=True).mean().tolist()
    assert got == pytest.approx(want, rel=1e-12)


def test_ws_token_count_identity_on_edge_strings(spark):
    """ws_token_count's length arithmetic must equal size(split(col,' '))
    on every edge shape: empty string, single token, leading/trailing/
    consecutive spaces, all-spaces — the cases where split's
    keep-empties semantics are easy to get wrong."""
    from pyspark.sql import functions as F

    from us_weather_energy_analysis_pipeline_spark.functions.text import (
        ws_token_count,
    )

    cases = ["", "a", "a ", " a", "a b", "a  b", "   ", "a b c ", " ", "ab"]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    rows = df.select(
        "s",
        ws_token_count("s").alias("fast"),
        F.size(F.split("s", " ")).alias("ref"),
    ).collect()
    for r in rows:
        assert r["fast"] == r["ref"], (repr(r["s"]), r["fast"], r["ref"])


def test_token_stats_skips_null_text_rows(spark):
    """token_stats_features drops NULL-text rows in-kernel (ADVICE r10):
    the output row set equals what an isNotNull pre-filter yields, and a
    caller that forgets the filter gets that contract instead of an
    executor TypeError."""
    from us_weather_energy_analysis_pipeline_spark.functions.text import (
        token_stats_features,
    )

    df = spark.createDataFrame(
        [(1, "a b a"), (2, None), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in token_stats_features(df).collect()}
    assert set(rows) == {1, 3}
    assert rows[1]["n_words"] == 3 and rows[1]["top_n"] == 2
    assert rows[3]["n_words"] == 1  # split('', ' ') keeps one empty token


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(-1000, 1000), min_size=0, max_size=12, unique=True))
def test_ordered_pairs_matches_combinations(spark, xs):
    """ordered_pairs over a sorted duplicate-free array must equal
    itertools.combinations(sorted(xs), 2) — the invariant both
    posting-list dedup plans (ngram inverted index, co-occurrence)
    build their pair spaces on."""
    import itertools

    from pyspark.sql import functions as F

    from us_weather_energy_analysis_pipeline_spark.functions.text import (
        ordered_pairs,
    )

    df = spark.createDataFrame([(sorted(xs),)], "arr array<bigint>")
    rows = (
        df.select(F.explode(ordered_pairs("arr", "a", "b")).alias("p"))
        .select("p.a", "p.b")
        .collect()
    )
    got = [(r["a"], r["b"]) for r in rows]
    want = list(itertools.combinations(sorted(xs), 2))
    assert got == want


def test_local_df_round_trips_values_and_is_plan_side(spark):
    """session.local_df must (a) produce a LocalTableScan — the whole
    point: job-free collects, size stats for broadcast — and (b) round-
    trip values exactly across the engine's literal-dim types, including
    None (a pandas detour would coerce None→NaN for doubles) and empty
    row lists (the classic path returns an RDD scan even for [])."""
    import datetime as dt
    import math

    from us_weather_energy_analysis_pipeline_spark.session import local_df

    rows = [
        ("a", 1, 1.5, True, dt.date(1999, 12, 31), dt.datetime(2000, 1, 1, 23, 59, 59), [1.0, 2.0]),
        (None, None, None, None, None, None, None),
        ("", -(2**62), math.inf, False, dt.date(2200, 1, 1), dt.datetime(1969, 7, 20, 2, 56), []),
    ]
    schema = (
        "s string, i long, d double, b boolean, dt date, ts timestamp_ntz, "
        "arr array<double>"
    )
    df = local_df(spark, rows, schema)
    assert "LocalTableScan" in df._jdf.queryExecution().executedPlan().toString()
    got = [tuple(r) for r in df.collect()]
    assert got == [tuple(r) for r in rows]

    empty = local_df(spark, [], schema)
    assert empty.collect() == []
    assert "LocalTableScan" in empty._jdf.queryExecution().executedPlan().toString()
    assert empty.schema == df.schema


def test_ewma_epoch_chunked_five_year_series(spark):
    """VERDICT r5 task 8: the epoch-chunked EWMA must track a driver-side
    exact EWMA over a 5-year daily series — a horizon where the old
    single-rescale construction had a documented (1-α)^-t precision/
    overflow caveat. Checked at full precision (rel 1e-9, far tighter
    than the 4-dp output round) on adjust=True semantics."""
    import datetime as dt

    import pandas as pd

    from us_weather_energy_analysis_pipeline_spark.corpus.windows import ewma_frame

    n = 5 * 365
    base = dt.date(2020, 1, 1)
    # deterministic wiggly series with big dynamic range
    xs = [100.0 + 50.0 * ((i * 37) % 101) / 101 + (i % 7) * 13.0 for i in range(n)]
    rows = [((base + dt.timedelta(days=i)).isoformat(), xs[i]) for i in range(n)]
    sdf = spark.createDataFrame(rows, "day string, total double")
    got = {
        r["day"]: r["ewma"] for r in ewma_frame(sdf).collect()
    }
    want = pd.Series(xs).ewm(alpha=0.2, adjust=True).mean().tolist()
    assert len(got) == n
    for i in range(n):
        day = (base + dt.timedelta(days=i)).isoformat()
        # output is rounded to 4dp; compare against the exact value at
        # that resolution plus an epsilon for the round boundary
        assert got[day] == pytest.approx(want[i], abs=5.1e-5), (i, day)


def test_ewma_epoch_boundary_continuity(spark):
    """Rows just before/after an epoch boundary (L=128) must show no
    discontinuity vs the exact recursion — the lagged-carry fold is the
    delicate part."""
    import datetime as dt

    import pandas as pd

    from us_weather_energy_analysis_pipeline_spark.corpus.windows import ewma_frame

    n = 260  # spans two boundaries at t=128 and t=256
    base = dt.date(2021, 6, 1)
    xs = [((i * 17) % 23) * 1.5 + 1.0 for i in range(n)]
    rows = [((base + dt.timedelta(days=i)).isoformat(), xs[i]) for i in range(n)]
    sdf = spark.createDataFrame(rows, "day string, total double")
    got = {r["day"]: r["ewma"] for r in ewma_frame(sdf, L=128).collect()}
    want = pd.Series(xs).ewm(alpha=0.2, adjust=True).mean().tolist()
    for i in (126, 127, 128, 129, 254, 255, 256, 257, 259):
        day = (base + dt.timedelta(days=i)).isoformat()
        assert got[day] == pytest.approx(want[i], abs=5.1e-5), i


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 10_000), st.integers(1, 7), finite_doubles),
        min_size=1,
        max_size=120,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_bottom_k_hash_sketch_is_mergeable(rows):
    """quantile_sketch_sample's mergeability claim, as an algebraic
    property on the sketch itself: bottom-k-by-hash of a UNION equals
    bottom-k of the merged per-part bottom-k sketches — the identity
    that makes ORDER BY h LIMIT k (per-partition top-k + merge) the
    distributed execution of the sketch, and what lets sketches built
    on separate corpus shards combine without a re-scan."""
    import hashlib

    k = 16
    keyed = [
        (hashlib.md5(f"{a}-{b}".encode()).hexdigest(), v) for a, b, v in rows
    ]
    # split into two "shards" any way at all — parity of the first id
    part_a = [t for t, (x, *_), in zip(keyed, rows) if x % 2 == 0]
    part_b = [t for t, (x, *_), in zip(keyed, rows) if x % 2 == 1]
    bottom = lambda items: sorted(items)[:k]  # noqa: E731
    assert bottom(part_a + part_b) == bottom(bottom(part_a) + bottom(part_b))


def _hamming64(a: tuple, b: tuple) -> int:
    return sum(bin(x ^ y).count("1") for x, y in zip(a, b))


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(*([st.integers(0, 0xFFFF)] * 4)), min_size=2, max_size=12
    ),
    st.data(),
)
def test_phash_banding_pigeonhole_is_exact(spark, bases, data):
    """phash_near_pairs' recall claim as a property: for ham_max = 3,
    EVERY pair at Hamming distance ≤ 3 shares at least one of the 4
    16-bit bands (pigeonhole: 3 differing bits cannot touch 4 bands),
    so the banded candidate join equals the brute-force answer exactly.
    The generator plants near-dups by flipping ≤ 3 random bits of base
    fingerprints — pure-random 64-bit pairs almost never land within
    distance 3, so planting is what makes the property bite."""
    from us_weather_energy_analysis_pipeline_spark.operators.multimodal import (
        phash_near_pairs,
    )

    rows = list(enumerate(bases))
    next_id = len(rows)
    for i, fp in list(rows):
        if data.draw(st.booleans(), label=f"mutate_{i}"):
            nflips = data.draw(st.integers(0, 3), label=f"nflips_{i}")
            positions = data.draw(
                st.lists(
                    st.integers(0, 63),
                    min_size=nflips,
                    max_size=nflips,
                    unique=True,
                ),
                label=f"bits_{i}",
            )
            mutated = list(fp)
            for p in positions:
                mutated[p // 16] ^= 1 << (p % 16)
            rows.append((next_id, tuple(mutated)))
            next_id += 1
    # brute-force reference over ALL pairs
    want = {}
    for i, (ida, fa) in enumerate(rows):
        for idb, fb in rows[i + 1 :]:
            h = _hamming64(fa, fb)
            if h <= 3:
                lo, hi = (ida, idb) if ida < idb else (idb, ida)
                want[(lo, hi)] = h
    bands = spark.createDataFrame(
        [(i, *fp) for i, fp in rows],
        "doc_id long, b0 int, b1 int, b2 int, b3 int",
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in phash_near_pairs(bands).collect()
    }
    assert got == want


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 500),                      # doc_id
            st.sampled_from(["en", "de", None]),      # lang
            st.floats(0.001, 40.0, allow_nan=False),  # es key
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    ),
    st.integers(1, 5),  # number of arbitrary batch splits
)
def test_grouped_bottom_k_batch_prune_is_lossless(rows, n_batches):
    """weighted_sample_by_group's correctness-critical identity, as a
    pure-pandas property: a group's global bottom-k is a subset of the
    union of per-batch bottom-k's, for EVERY way of batching the input —
    so pruning each Arrow batch to its per-group head(k) before the lang
    window can never change the final ranking. (The Spark plan is pinned
    separately; this pins the algebra the plan relies on.)"""
    import pandas as pd

    from us_weather_energy_analysis_pipeline_spark.corpus.sampling_q import (
        WSAMPLE_GROUP_K as K,
    )

    pdf = pd.DataFrame(rows, columns=["doc_id", "lang", "es"])

    def bottom_k(frame):
        return (
            frame.sort_values(["es", "doc_id"])
            .groupby("lang", sort=False, dropna=False)
            .head(K)
        )

    # arbitrary contiguous batching (hypothesis controls the cut count;
    # contiguity is WLOG — any partition of rows is a relabeling)
    cuts = [round(i * len(pdf) / n_batches) for i in range(n_batches + 1)]
    pruned = pd.concat(
        [bottom_k(pdf.iloc[cuts[i] : cuts[i + 1]]) for i in range(n_batches)]
    )
    want = bottom_k(pdf)
    got = bottom_k(pruned)
    key = lambda f: sorted(map(tuple, f[["doc_id"]].values.tolist()))
    assert key(got) == key(want)
