"""Small-file compaction + range clustering — the layout-maintenance ops
every long-lived incremental table needs (each realtime upsert/append adds
files; scan cost grows with file count, not data size, and un-clustered
files defeat parquet min/max row-group skipping on range predicates).

The rewritten version replaces the table through
``operators/upsert.replace_table`` (staging → swap), so a failed
compaction leaves the table as it was.

Scale shape (100 TB): ``cluster_by`` uses ``repartitionByRange`` — one
range exchange (sampled boundaries) so every output FILE owns a disjoint
slice of the cluster key; a range predicate then prunes whole files from
the footer min/max before any row group is read. ``target_bytes`` sizes
the file count from the table's real on-disk bytes (job-free footer read
via plan_meta.input_bytes), so the op needs no tuning as the table grows.
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession

from us_weather_energy_analysis_pipeline_spark.operators.upsert import replace_table


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files: int | None = None,
    partition_by: tuple[str, ...] = (),
    sort_within_by: tuple[str, ...] = (),
    cluster_by: tuple[str, ...] = (),
    target_bytes: int | None = None,
) -> int:
    """Rewrite the parquet table at ``path`` into ``target_files`` files
    (per partition when partitioned). Returns the row count.

    - ``cluster_by``: GLOBAL range clustering via ``repartitionByRange`` —
      output files own disjoint key slices, so footer min/max prunes whole
      files on range predicates (asserted in tests/test_plans.py). Mutually
      exclusive with ``partition_by`` (directory partitioning already
      splits the keyspace).
    - ``sort_within_by``: additional within-file sort for row-group-level
      min/max pruning (defaults to ``cluster_by`` when clustering).
    - ``target_bytes``: derive the file count from the table's on-disk
      size (footer metadata only, no job) instead of passing an absolute
      ``target_files``.
    """
    if cluster_by and partition_by:
        raise ValueError("cluster_by and partition_by are mutually exclusive")
    if target_files is not None and target_bytes is not None:
        raise ValueError(
            "provide at most one of target_files / target_bytes "
            f"(got target_files={target_files}, target_bytes={target_bytes})"
        )
    if target_files is None and target_bytes is None:
        target_files = 1
    df = spark.read.parquet(path)
    if target_bytes is not None:
        from us_weather_energy_analysis_pipeline_spark.operators.plan_meta import (
            _LARGE,
            input_bytes,
        )

        nbytes = input_bytes(df)
        if nbytes >= _LARGE:
            # ADVICE r7: the sentinel (unreadable / concurrently-deleted
            # file) would otherwise size a multi-billion-file repartition.
            raise ValueError(
                f"cannot size target_files from on-disk bytes of {path!r}: "
                "input files are unreadable or not a plain file scan; pass "
                "target_files explicitly"
            )
        target_files = max(1, math.ceil(nbytes / target_bytes))
    if cluster_by:
        out = df.repartitionByRange(target_files, *cluster_by)
        if not sort_within_by:
            sort_within_by = cluster_by
    elif partition_by:
        out = df.repartition(target_files, *partition_by)
    else:
        out = df.repartition(target_files)
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    replace_table(out, path, partition_by=partition_by)
    return spark.read.parquet(path).count()
