"""Query-corpus registry: named Spark queries + their DuckDB oracle SQL.

Each entry is the driver contract unit (``/root/repo/__spark_entry__.py``):
a callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) an
ANSI-SQL twin DuckDB runs on the same parquet tables. Column names are aliased
identically on both sides; date/timestamp group keys are emitted as ISO strings
and floating aggregates are rounded on BOTH sides so the driver's
order-insensitive value hash matches bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one corpus table. Parquet scan → pushdown + pruning come free.

    The logical plan (NOT the data) is memoized per (application, sf_dir,
    table): ``spark.read.parquet`` pays ~100 ms of file listing + footer
    schema read per call, which a table catalog resolves once — exactly
    what a metastore does for a real deployment. Laziness is unchanged;
    every query still scans parquet with its own pushed filters.

    ``events.parquet`` stores TIMESTAMP(NANOS). pyspark 4.1 reads it
    natively as ``timestamp_ntz`` (micros, truncated), matching DuckDB's
    nanos→micros truncation — so on this runtime the block below is a
    no-op kept for older 4.x runtimes, where the vectorized reader
    rejects NANOS unless the legacy conf exposes the raw int64 (then
    truncated in-plan with integer ``div``, never a double division,
    which would lose precision above 2^53).
    """
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            from pyspark.sql import functions as F

            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    else:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if len(_TABLE_CACHE) > 512:  # stopped-session leak guard; never hit in practice
        _TABLE_CACHE.clear()
    _TABLE_CACHE[key] = df
    return df


@dataclass
class QueryDef:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None = None
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
):
    """Decorator registering a corpus query under ``name``."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QueryDef(
            name=name, spark_fn=fn, oracle=oracle, tags=tags, doc=fn.__doc__ or ""
        )
        return fn

    return deco


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_loaded()
    return {name: q.spark_fn for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}


_LOADED = False


def _ensure_loaded() -> None:
    """Import all corpus modules; each registers its queries on import."""
    global _LOADED
    if _LOADED:
        return
    from us_weather_energy_analysis_pipeline_spark.corpus import (  # noqa: F401
        advanced_q,
        dedup_q,
        sampling_q,
        text_q,
        pipeline_q,
        sketch_q,
        similarity_q,
        distrib_q,
        sql_q,
        mm_stream_q,
        behavior_q,
        tpch_more_q,
        core,
        windows,
        pivot_q,
        quality_q,
        stats_q,
        spine_q,
        winnow_q,
        corpstats_q,
        cleanse_q,
    )

    _LOADED = True


def register_corpus_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view so users can run
    arbitrary ``spark.sql`` over the same data the DataFrame API sees
    (the SQL front-end the reference never had)."""
    _ensure_loaded()
    for t in TABLES:
        load(spark, sf_dir, t).createOrReplaceTempView(t)
