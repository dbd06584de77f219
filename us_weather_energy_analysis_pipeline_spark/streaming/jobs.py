"""Structured Streaming jobs (SURVEY §2.8: the reference's "realtime" mode
is a yesterday-only batch rerun — here it becomes a real incremental
stream over the raw landing zone).

- ``stream_daily_rollup``: file source → 1-day tumbling window with a
  watermark for late data — the streaming twin of the ETL's daily
  energy sum (`plans/etl.py process_energy`).
- ``sessionize``: native ``session_window`` (gap-based), usable in both
  batch and streaming plans.
- ``stateful_running_total``: applyInPandasWithState — the escape hatch
  for custom stateful semantics the built-ins can't express.
- ``stream_dedup``: dropDuplicatesWithinWatermark — exactly-once
  semantics over an at-least-once source, with bounded state.
- ``stream_interval_join``: stream-stream inner join under watermarks
  with a time-bound condition, so both sides' state is evictable.
- ``foreach_batch_upsert``: idempotent micro-batch sink via the batch
  upsert operator — the streaming write path for the canonical table.

Tests drive these with ``trigger(availableNow=True)`` against temp dirs —
the same code runs continuously on a real cluster.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def stream_daily_rollup(
    spark: SparkSession,
    input_path: str,
    schema: str,
    ts_col: str = "ts",
    value_col: str = "value",
    keys: tuple[str, ...] = ("city",),
    watermark: str = "1 day",
) -> DataFrame:
    """readStream(parquet dir) → watermark → 1-day tumbling window sum
    (reference A2 as a stream; late rows beyond the watermark are dropped
    deterministically instead of silently mutating history).

    Rows with a NULL event time are dropped by the time-window groupBy
    (no window can be assigned) — pinned by the streaming fuzz gate;
    pre-filter and route such rows to a quarantine sink if they must be
    audited rather than discarded."""
    src = spark.readStream.schema(schema).parquet(input_path)
    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 day").alias("w"), *keys)
        .agg(
            F.sum(value_col).alias("daily_total"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(F.col("w.start").alias("day_start"), *keys, "daily_total", "n_rows")
    )


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    key_cols: tuple[str, ...] = ("user_id",),
    value_col: str = "value",
    gap: str = "30 minutes",
) -> DataFrame:
    """Gap-based sessionization with the NATIVE session_window operator —
    works identically on batch and streaming inputs; state management,
    merging and watermark eviction are Spark's problem, not ours."""
    return (
        df.groupBy(*key_cols, F.session_window(ts_col, gap).alias("sw"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_last_event"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(value_col).alias("total_value"),
        )
        .select(*key_cols, "session_start", "session_last_event", "n_events", "total_value")
    )


def stream_dedup(
    sdf: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Exactly-once dedup of an at-least-once stream:
    dropDuplicatesWithinWatermark keeps one row per key and — unlike plain
    dropDuplicates on a stream — EVICTS key state older than the watermark,
    so state stays bounded at any throughput. Batch inputs fall back to
    plain dropDuplicates (no watermark semantics to honor)."""
    if not sdf.isStreaming:
        return sdf.dropDuplicates(list(key_cols))
    return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def stream_interval_join(
    views: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    max_gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: purchase within ``max_gap`` after a view.
    Both sides carry watermarks and the join condition time-bounds the
    match window, which is what lets Spark evict buffered state — without
    the interval bound a stream-stream join holds both sides forever."""
    v = views.withWatermark(ts_col, watermark).select(
        F.col(key).alias("v_user"), F.col(ts_col).alias("view_ts")
    )
    p = purchases.withWatermark(ts_col, watermark).select(
        F.col(key).alias("p_user"),
        F.col(ts_col).alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr(f"INTERVAL {max_gap}")),
    ).select(
        F.col("v_user").alias(key), "view_ts", "purchase_ts", "purchase_value"
    )


def foreach_batch_upsert(
    sdf: DataFrame,
    target_path: str,
    key_cols: tuple[str, ...],
    checkpoint: str,
):
    """Streaming upsert sink: each micro-batch merges into the parquet
    target via the batch upsert operator (new keys replace old rows).
    foreachBatch + checkpointing gives effectively-once writes — a replayed
    batch re-merges the same keys idempotently. Returns the started query.

    LOCAL-FILESYSTEM ONLY: upsert_parquet swaps the target in by
    driver-local rename (operators/upsert.replace_table), which is neither
    atomic for concurrent readers nor valid on HDFS/S3 object stores."""
    from us_weather_energy_analysis_pipeline_spark.operators.upsert import (
        upsert_parquet,
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        upsert_parquet(
            batch_df.sparkSession, target_path, batch_df, list(key_cols)
        )

    return (
        sdf.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


RUNNING_TOTAL_SCHEMA = "user_id bigint, ts timestamp, running_total double"
_STATE_SCHEMA = "total double, n_nonnull bigint"


def stateful_running_total(df: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running total that persists across micro-batches. This is the pattern
    for semantics session_window/window can't express (decayed counters,
    custom eviction); on batch inputs use a window cumsum instead.

    NULL semantics match that batch twin exactly — SQL's
    ``SUM(value) OVER (PARTITION BY user_id ORDER BY ts)``: null values
    contribute nothing (their row carries the prior total), and the
    total is NULL until the user's first non-null value. The streaming
    fuzz gate found the naive ``cumsum`` formulation propagating NaN
    into the carried state — every later row for that user emitted NULL,
    and WHICH rows depended on the micro-batch split. State carries
    (total, n_nonnull) so results are split-invariant.

    Rows with equal ``ts`` within a micro-batch are ordered by input
    order (stable sort); across different splits ties may interleave
    differently — callers needing total determinism use a unique ts or
    add a tiebreak column.

    The state function is NESTED (closure) on purpose: a module-level
    function would be cloudpickled by reference to this package, which
    the Python workers of an embedding driver (repo on the driver's
    sys.path only, not installed) cannot import."""

    def _running_total_fn(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total, n_nonnull = state.get if state.exists else (0.0, 0)
        for pdf in pdfs:
            pdf = pdf.sort_values("ts", kind="stable")
            contrib = pdf["value"].fillna(0.0)
            csum = contrib.cumsum() + total
            seen = pdf["value"].notna().cumsum() + n_nonnull
            if len(pdf):
                total = float(csum.iloc[-1])
                n_nonnull = int(seen.iloc[-1])
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"],
                    "ts": pdf["ts"],
                    # NULL until the first non-null contribution (SQL SUM)
                    "running_total": csum.where(seen > 0),
                }
            )
        state.update((total, n_nonnull))

    return df.groupBy("user_id").applyInPandasWithState(
        _running_total_fn,
        outputStructType=RUNNING_TOTAL_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
