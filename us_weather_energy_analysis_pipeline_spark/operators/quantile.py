"""Distributed EXACT quantiles — no single-node sort, no single value
buffer (above a size gate).

Spark's built-in ``percentile`` aggregate is exact but funnels every value
into ONE aggregation buffer that is sorted on one task — at 100 TB that is
the job. This operator computes the same linearly-interpolated quantiles
(DuckDB ``quantile_cont`` semantics, reference A10 `data_processor.py:99`
median) adaptively:

- ``n <= small_threshold`` (default 2M values): count-gated parallel
  Arrow collect + numpy interpolation — single-node is the right plan
  when the column fits driver scale (measured 6× the built-in
  ``percentile`` aggregate, whose single buffer sorts on one task);
- above the gate: deterministic range binning →
  1. bin boundaries come from ONE driver-side ``approxQuantile`` call and
     are baked into the plan as literals, so ``pid`` is a pure function of
     the value — every plan branch recomputes it identically, with **no
     reliance on exchange reuse** (a sampled ``repartitionByRange``
     consumed by two branches silently breaks if the two exchanges
     re-sample different boundaries);
  2. per-bin counts → prefix offsets (a ≤P-row table, broadcast);
  3. per-bin ``row_number`` + offset = exact global 0-based rank — the
     sort parallelizes over P value-range bins instead of one task;
  4. the 2·|fractions| target ranks (floor/ceil of (n−1)·q) are joined
     back as a broadcast — the full column is never collected anywhere.

Cost above the gate: one driver approxQuantile pass + two shuffles of a
single column. Every stage scales out.
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SMALL_THRESHOLD = 2_000_000


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    fractions: Sequence[float],
    num_partitions: int = 32,
    small_threshold: int = SMALL_THRESHOLD,
) -> DataFrame:
    """Exact linear-interpolation quantiles of ``value_col``, computed
    adaptively (a driver-side numpy collect below ``small_threshold``
    values, distributed rank otherwise). Returns one row per fraction:
    (f double, q double).

    Interpolation matches DuckDB quantile_cont / Spark percentile:
    rank = (n-1)·f; q = v[floor] + (rank - floor)·(v[ceil] - v[floor]).
    """
    spark = df.sparkSession
    vals = df.select(F.col(value_col).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    # Small path: count-gate, then a PARALLEL Arrow collect of the single
    # projected column and numpy's linear-interpolation quantiles — the
    # same formula as Spark `percentile` / DuckDB quantile_cont,
    # bit-identical (pure element selection + one multiply-add, no
    # summation order). Driver memory is BOUNDED BY THE GATE
    # (≤ small_threshold doubles, ~16 MB at the default), unlike an
    # ungated collect. The gate is a count() job, not a LIMIT probe: a
    # ``limit(gate+1).toPandas()`` funnels every row through the
    # single-task GlobalLimit before serializing (measured 0.43 s vs
    # 0.30 s for count+parallel-collect on 600k values), while the count
    # scan is cheap and its n feeds the distributed path for free. It is
    # ~6× faster than the `percentile` aggregate, whose single buffer
    # sorts on one task anyway — when the data is below driver scale,
    # single-node is the right plan, exactly what DuckDB-class engines do.
    # vals is persisted across the gate probe and whichever path follows:
    # without it, count + collect (or count + the distributed stages)
    # would execute an expensive upstream plan twice. Released by the
    # caller's loop via operators.cache.release_all, same as rank.py.
    # When plan_meta.small_scan already bounds the input (file bytes AND
    # parquet footer rows AND no row-expanding plan node), BOTH the count
    # job and the persist are skipped — the single toPandas action is the
    # whole cost.
    from us_weather_energy_analysis_pipeline_spark.operators import cache
    from us_weather_energy_analysis_pipeline_spark.operators.plan_meta import (
        small_scan,
    )
    from us_weather_energy_analysis_pipeline_spark.session import local_df

    n = None
    if not small_scan(vals, max_rows=small_threshold):
        vals = cache.track(vals)
        n = vals.count()
        if n == 0:
            return local_df(spark, [], "f double, q double")
    if n is None or n <= small_threshold:
        import numpy as np

        pdf = vals.select("v").toPandas()
        arr = pdf["v"].to_numpy(dtype="float64")
        if len(arr) == 0:
            return local_df(spark, [], "f double, q double")
        fl = [float(f) for f in fractions]
        # np.quantile poisons EVERY fraction to NaN when any value is
        # NaN; the distributed path (and DuckDB/Spark orderings) treat
        # NaN as larger than every value. Interpolate over the sorted
        # array by index instead — np.sort places NaN last, so the two
        # paths agree (the rank.py NaN parity fix's quantile twin).
        srt = np.sort(arr)
        n_v = len(srt)
        qs = []
        for f in fl:
            pos = f * (n_v - 1)
            lo = int(np.floor(pos))
            hi = int(np.ceil(pos))  # == lo at integer ranks (same as fr)
            if hi == lo:
                # short-circuit: inf + 0*(inf-inf) would poison an exact
                # integer-rank hit over ±inf to NaN, diverging from
                # DuckDB quantile_cont; NaN values still round-trip (ADVICE r6)
                qs.append(float(srt[lo]))
            else:
                qs.append(float(srt[lo] + (pos - lo) * (srt[hi] - srt[lo])))
        return local_df(
            spark, [(f, q) for f, q in zip(fl, qs)], "f double, q double"
        )

    # ---- distributed exact path -------------------------------------------
    # Literal bin boundaries: computed ONCE driver-side, so `pid` below is a
    # deterministic function of v (no sampled exchange feeding two branches).
    nb = max(2, num_partitions)
    cuts = vals.stat.approxQuantile("v", [i / nb for i in range(1, nb)], 0.001)
    pid = reduce(
        lambda acc, b: acc + (F.col("v") > F.lit(float(b))).cast("int"),
        sorted(set(cuts)),
        F.lit(0),
    )
    parts = vals.withColumn("pid", pid)

    pc = parts.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = pc.select(
        "pid", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off")
    )
    ranked = (
        parts.withColumn(
            "rn", F.row_number().over(Window.partitionBy("pid").orderBy("v"))
        )
        .join(F.broadcast(offsets), "pid")
        .select("v", (F.col("off") + F.col("rn") - 1).alias("rank0"))
    )

    rank = (F.lit(n) - 1) * F.col("f")
    fr = spark.range(1).select(
        F.explode(F.array(*[F.lit(float(f)) for f in fractions])).alias("f")
    ).select(
        "f",
        F.floor(rank).cast("long").alias("lo"),
        F.ceil(rank).cast("long").alias("hi"),
        (rank - F.floor(rank)).alias("wt"),
    )
    lo = ranked.join(F.broadcast(fr), ranked.rank0 == fr.lo).select(
        "f", "wt", F.col("v").alias("v_lo")
    )
    hi = ranked.join(
        F.broadcast(fr.select(F.col("f").alias("f2"), "hi")),
        ranked.rank0 == F.col("hi"),
    ).select("f2", F.col("v").alias("v_hi"))
    return lo.join(hi, lo.f == hi.f2).select(
        "f",
        # wt = 0 short-circuit mirrors the small path: an exact integer-rank
        # hit returns v_lo itself, so ±inf values stay inf instead of
        # inf + 0*(inf-inf) = NaN (ADVICE r6; DuckDB quantile_cont parity)
        F.when(F.col("wt") == 0, F.col("v_lo"))
        .otherwise(F.col("v_lo") + F.col("wt") * (F.col("v_hi") - F.col("v_lo")))
        .alias("q"),
    )


def exact_quantiles_row(
    df: DataFrame,
    value_col: str,
    fractions: Sequence[float],
    names: Sequence[str],
    round_expr=None,
    num_partitions: int = 32,
    small_threshold: int = SMALL_THRESHOLD,
) -> DataFrame:
    """One-row pivot of :func:`exact_quantiles`: column ``names[i]`` holds
    the ``fractions[i]`` quantile (optionally rounded via ``round_expr``)."""
    q = exact_quantiles(df, value_col, fractions, num_partitions, small_threshold)
    cols = []
    for f, name in zip(fractions, names):
        c = F.max(F.when(F.col("f") == float(f), F.col("q")))
        cols.append((round_expr(c) if round_expr is not None else c).alias(name))
    return q.agg(*cols)
