"""Driver-side plan metadata probes — no Spark job, except the one
capped collect of ``small_keys_frame``.

``input_bytes`` / ``input_rows`` read the scan's FileIndex and parquet
footers (the same statistics AQE and the broadcast-join planner consult)
so adaptive operators can pick a plan WITHOUT paying a count() job: on
this host a settled job costs 0.05–0.11 s, which dominates every
floor-bound corpus query (BENCH_NOTES).

``small_scan`` is the gate the driver-collecting small paths use. It
bounds BOTH dimensions: file bytes (Arrow transfer size) and footer row
counts (parquet compression is unbounded, so a narrow highly-compressible
64 MB scan can decode to tens of millions of rows — bytes alone are not a
driver-memory bound). It also verifies the "plan rows ≤ scan rows"
contract structurally instead of by convention: any row-expanding node
(Join, Generate/explode, Expand, python co-group/flat-map) in the
optimized plan fails the gate and the caller falls back to its count-gated
or fully distributed path. ``small_keys_frame`` is that small path's
one collect: job-free gate first, else one capped collect that both
gates and fetches.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from us_weather_energy_analysis_pipeline_spark.operators import cache

# Scans below this are safely driver-collectable after aggregation:
# 64 MB of columnar parquet upper-bounds the probe collect (keys + cum
# columns only) at tens of MB of Arrow — within one executor task's
# working set, let alone the driver. Above it (sf ≥ ~1 for lineitem) the
# count-gated / fully distributed paths engage.
SMALL_INPUT_BYTES = 64 << 20
# Row gate of the driver-collecting small paths (``small_keys_frame``):
# sort keys and a few integer columns at ~24 B per row per column are
# ≈ 50 MB of driver memory at the gate.
SMALL_KEY_THRESHOLD = 2_000_000

# Plan nodes that can emit more rows than they consume, matched against
# the NODE NAME at the start of each optimized-plan tree line (ADVICE r7:
# raw substring containment also hit benign plan text like
# RepartitionByRange or capitalized identifiers inside expressions,
# silently routing small scans to the slower count-gated path).
# Node-name match semantics:
#   exact  — the node name is exactly the token
#   suffix — Join matches Join and LateralJoin (all logical join flavors)
#   prefix — FlatMap* (flatMapGroupsInPandas and friends), MapPartitions*
_EXPANDING_EXACT = frozenset(
    {
        "Generate",  # explode / posexplode / inline / lateral view
        "Expand",  # grouping sets / cube / rollup
        "CoGroup",  # applyInPandas cogroup
        "MapInPandas",  # arbitrary batch → batch cardinality
        "PythonMapInArrow",
        # non-file leaves / mixed sources (ADVICE r6): a plan unioning a
        # parquet scan with a Range/LocalRelation/InMemoryRelation branch
        # has non-empty inputFiles() while footer rows undercount the
        # non-file branch — footer rows would NOT bound plan output.
        "Union",
        "Range",
        "OneRowRelation",
        "LocalRelation",
        "InMemoryRelation",
        "InMemoryTableScan",
        "LogicalRDD",
    }
)
_EXPANDING_PREFIX = ("FlatMap", "MapPartitions")
_EXPANDING_SUFFIX = ("Join",)

# First identifier on a plan-tree line, after the tree-drawing prefix
# (spaces, ':', '+', '-', '|', '*') and an optional unresolved-plan quote.
_NODE_NAME_RE = None  # compiled lazily below


def _iter_node_names(plan: str):
    global _NODE_NAME_RE
    if _NODE_NAME_RE is None:
        import re

        _NODE_NAME_RE = re.compile(r"^[\s:+\-|*]*'?([A-Za-z][A-Za-z0-9]*)")
    for line in plan.splitlines():
        m = _NODE_NAME_RE.match(line)
        if m:
            yield m.group(1)

_LARGE = 1 << 60


def input_bytes(df: DataFrame) -> int:
    """Total size of the plan's input files — FileIndex metadata, no job.
    Returns a large sentinel when the plan has no file inputs (pure
    in-memory fixtures) or a file is unreadable, so callers conservatively
    take their distributed path."""
    try:
        files = df.inputFiles()
    except Exception:
        return _LARGE
    if not files:
        return _LARGE
    total = 0
    for f in files:
        p = f.removeprefix("file:")
        try:
            total += os.path.getsize(p)
        except OSError:
            return _LARGE
    return total


def input_rows(df: DataFrame) -> int:
    """Total row count of the plan's parquet input files — footer
    metadata only (pyarrow reads the footer, never the pages), no Spark
    job. Returns a large sentinel for non-parquet inputs, plans without
    file inputs, or unreadable files, so callers conservatively take
    their distributed path."""
    try:
        files = df.inputFiles()
    except Exception:
        return _LARGE
    if not files:
        return _LARGE
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return _LARGE
    total = 0
    for f in files:
        p = f.removeprefix("file:")
        if not p.endswith(".parquet"):
            return _LARGE
        try:
            total += pq.ParquetFile(p).metadata.num_rows
        except Exception:
            return _LARGE
    return total


def exact_scan_rows(df: DataFrame) -> int | None:
    """Footer ``num_rows`` as an EXACT count of the plan's output rows.

    ``input_rows`` is only an upper bound (footer rows >= plan rows when a
    filter sits above the scan), so callers that substitute footer rows
    for a ``count()`` — e.g. the tf-idf ``n_docs`` denominator — must
    prove the plan is a bare scan first. This returns footer rows only
    when every optimized-plan node is row-preserving 1:1 over the scan
    (``Project`` / ``Relation``); any ``Filter``, join, aggregate,
    generator, limit, or sample answers ``None`` and the caller takes its
    distributed count path (ADVICE r8: text_q tf-idf exactness guard)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return None
    names = list(_iter_node_names(plan))
    if not names or any(n not in ("Project", "Relation") for n in names):
        return None
    rows = input_rows(df)
    return None if rows >= _LARGE else rows


def _plan_row_bounded(df: DataFrame) -> bool:
    """True when the optimized logical plan contains no row-expanding
    node, making footer rows a true upper bound on plan output rows.
    Unresolvable plans answer False (conservative)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    for name in _iter_node_names(plan):
        if (
            name in _EXPANDING_EXACT
            or name.startswith(_EXPANDING_PREFIX)
            or name.endswith(_EXPANDING_SUFFIX)
        ):
            return False
    return True


def small_scan(
    df: DataFrame,
    max_rows: int,
    max_bytes: int = SMALL_INPUT_BYTES,
) -> bool:
    """Job-free driver-collectability gate: input files under
    ``max_bytes`` AND footer rows under ``max_rows`` AND no row-expanding
    plan node. On False the caller must count-gate or stay distributed."""
    return (
        input_bytes(df) < max_bytes
        and input_rows(df) <= max_rows
        and _plan_row_bounded(df)
    )


def small_keys_frame(
    df: DataFrame,
    cols: Sequence[str],
    gate: int = SMALL_KEY_THRESHOLD,
    track_on_fallback: bool = True,
    known_bounded: bool | None = None,
):
    """Bounded driver collect of ``cols``: when ``small_scan`` already
    bounds the input the collect is the ONLY action (no count job);
    otherwise ONE capped collect both gates and fetches: after a
    ``coalesce(8)``, a codegen filter on monotonically_increasing_id's
    low 33 bits (the in-partition index) keeps at most ``gate + 1`` rows
    per coalesced partition — no CollectLimit, whose incremental
    partition waves re-run expensive upstreams — so the worst-case
    driver transfer is 8 × (gate + 1) rows. If more than ``gate`` rows
    come back, some partition was truncated or the total is over: return
    ``None`` and the caller builds its distributed plan; otherwise the
    rows ARE the complete frame. The input is persisted
    (``track_on_fallback``) so the collect doubles as the cache fill for
    whichever path follows; callers that persist it themselves pass
    False. ``known_bounded`` is a ``small_scan`` verdict the caller
    took on the plan before persisting it (a cached plan's
    InMemoryRelation leaf always fails the gate).
    Returns a pandas DataFrame, or ``None`` above the gate."""
    bounded = (
        known_bounded
        if known_bounded is not None
        else small_scan(df, max_rows=gate)
    )
    if bounded:
        return df.select(*cols).toPandas()
    if track_on_fallback:
        df = cache.track(df)
    pdf = (
        df.select(*cols)
        .coalesce(8)
        .withColumn(
            "_skf_i", F.monotonically_increasing_id() % F.lit(1 << 33)
        )
        .filter(F.col("_skf_i") < gate + 1)
        .drop("_skf_i")
        .toPandas()
    )
    if len(pdf) > gate:
        return None
    return pdf
