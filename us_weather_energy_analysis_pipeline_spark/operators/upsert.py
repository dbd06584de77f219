"""Table replacement by staging → swap, and the key-based upsert built on
it — the reference's realtime mode (yesterday-only append,
`pipeline.py:24-28`) done safely.

:func:`replace_table` is the one way a table directory gets replaced
(gold writes, upserts, compaction): the new version is written in full to
a sibling staging directory BEFORE the old one is touched, so a failed
job leaves the previous version intact and no staging behind. The swap
is two renames (old aside, staging in), so it is local-filesystem-only:
rename is not atomic on object stores.
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def replace_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Replace the table directory at ``path`` with ``df`` written as
    ``fmt`` (CSV with a header row). Writes a sibling staging directory;
    on success renames the old version aside, renames staging in and
    deletes the old version; on failure deletes staging and re-raises.
    Runs only the write's own Spark jobs."""
    # normalised first: with a trailing slash the "sibling" would land
    # inside the table and be deleted along with it
    path = os.path.normpath(path)
    tag = uuid.uuid4().hex[:8]
    staging, old = f"{path}__staging_{tag}", f"{path}__old_{tag}"
    w = df.write.format(fmt)
    if fmt == "csv":
        w = w.option("header", True)
    if partition_by:
        w = w.partitionBy(*partition_by)
    try:
        w.save(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


def upsert_parquet(
    spark: SparkSession,
    path: str,
    new_df: DataFrame,
    keys: list[str],
    partition_by: tuple[str, ...] = (),
) -> int:
    """Upsert ``new_df`` into the parquet table at ``path`` by ``keys``:
    existing rows with a key present in ``new_df`` are replaced, all other
    rows kept. Returns the resulting row count. The merged version goes
    through :func:`replace_table`."""
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        keep = existing.join(new_df.select(*keys).distinct(), keys, "left_anti")
        merged = keep.unionByName(new_df)
    else:
        merged = new_df
    replace_table(merged, path, partition_by=partition_by)
    return spark.read.parquet(path).count()
